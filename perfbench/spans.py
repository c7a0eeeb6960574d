"""Instruments of the traced run: in-memory spans, plan-prefix forcing, and
Spark job/stage/task and executed-plan node counters.

Spark is lazy, so a layer's time is taken by forcing cumulative prefixes of
a plan through the ``noop`` sink and differencing the spans; counts are
taken with ``observe`` during the same forcing, at the same boundary.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def force(df: DataFrame, **counts) -> dict:
    """Compute every row and column of ``df`` without writing it; returns the
    named aggregates in ``counts`` (e.g. ``rows=F.count(F.lit(1))``)."""
    obs = Observation()
    if counts:
        df = df.observe(obs, *[c.alias(k) for k, c in counts.items()])
    df.write.format("noop").mode("overwrite").save()
    return dict(obs.get) if counts else {}


def rows() -> F.Column:
    return F.count(F.lit(1))


class Tracer:
    """Spans with a name, start, end and parent; all spans of one operation
    share its ``op`` id. Kept in memory until the run writes them out."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": next(self._ids),
            "op": self.op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def total(self, op: str, name: str) -> float:
        """Summed duration of the spans called ``name`` in operation ``op``."""
        return sum(
            s["end"] - s["start"] for s in self.spans if s["op"] == op and s["name"] == name
        )

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its child spans cover
        (children of one parent run one after another, never overlapping)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}


_PY_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
}
_EXCHANGES = {"Exchange", "BroadcastExchange"}


def plan_nodes(description: str) -> list[str]:
    """Node names of the executed plan tree in a ``formatted`` physical plan
    description: the AQE final plan when there is one."""
    tree = description.split("== Physical Plan ==", 1)[-1].strip("\n").split("\n\n", 1)[0]
    lines = tree.split("\n")
    starts = [i for i, ln in enumerate(lines) if "== Final Plan ==" in ln]
    if starts:
        lines = lines[starts[0] + 1 :]
        ends = [i for i, ln in enumerate(lines) if "== Initial Plan ==" in ln]
        lines = lines[: ends[0]] if ends else lines
    names = []
    for ln in lines:
        body = ln.lstrip(" :+-*|")
        if body:
            names.append(body.split(" ", 1)[0].rstrip(","))
    return names


class SparkCounters:
    """Jobs, stages and tasks run under one job group, and the exchange and
    Python-worker nodes of the SQL executions started since ``begin``."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._group: str | None = None
        self._last_exec = -1

    def _drain(self) -> None:
        # job and SQL status reach the stores through the async listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _executions(self):
        lst = self.store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    def begin(self, group: str) -> None:
        self._drain()
        ids = [e.executionId() for e in self._executions()]
        self._last_exec = max(ids, default=-1)
        self._group = group
        self.sc.setJobGroup(group, group)

    def end(self) -> dict:
        self._drain()
        stage_ids = set()
        jobs = self.tracker.getJobIdsForGroup(self._group)
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        exchanges = python_nodes = 0
        for e in self._executions():
            if e.executionId() > self._last_exec:
                names = plan_nodes(e.physicalPlanDescription())
                exchanges += sum(n in _EXCHANGES for n in names)
                python_nodes += sum(n in _PY_NODES for n in names)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": stages,
            "spark.tasks": tasks,
            "plan.exchanges": exchanges,
            "plan.python_nodes": python_nodes,
        }
