"""Benchmark entry point.

    python3 perfbench/run.py --workload {osm_convert,tile_job} --seed N \
        --seconds S --trace {0,1}

Runs one workload as a closed loop with a single client in one process
against a ``local[nproc]`` SparkSession, checks every operation's output,
and prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it is a JSON
object with the details (per-operation times, environment, set-up reps).

``--trace 0`` reports the end-to-end metrics of the named workload.
``--trace 1`` is the separate traced run: it covers every workload in a
fixed order, times each layer by forcing cumulative plan prefixes,
reports the per-layer metrics, and writes all spans once, at the end, to
``.perfbench_out/trace-<workload>-<seed>.json``.

Everything the run writes stays under the checkout: Spark's local and temp
directories and the operations' outputs live in ``.perfbench_work``, which
is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

WORKLOADS = ("osm_convert", "tile_job")
# session (re)starts per run; the first also launches the JVM, and setup_s
# is the median of the others
SETUP_REPS = 3
MIN_OPS = 2  # timed operations per run, however short --seconds is
DRIVER_MEMORY = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Arrow workers import the package from the checkout; every temp file
    of Python, the JVM and Spark goes under WORK."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")


def start_session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # the whole heap is committed and touched at launch, so peak RSS
        # moves with native and Python memory rather than GC heap sizing
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={WORK}/tmp -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        )
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session() -> None:
    """Stops the active session, if any, and waits for the JVM this process
    launched to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Resident high-water mark of the driver JVM plus this Python driver."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot. Steal is time the
    hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def environment(spark, cores: int) -> dict:
    return {
        "cores": cores,
        "cpu_affinity": sorted(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
        "load_model": "closed loop, 1 client",
    }


def one_op(spark, wl, tally, k: int, counters=None):
    """Runs and checks one operation; returns (wall seconds or None when it
    raised, Spark counters of the operation alone or None)."""
    out = os.path.join(WORK, f"{wl.name}-op{k}")
    counts = None
    if counters is not None:
        counters.begin(f"{wl.name}-op{k}")
    t0 = time.perf_counter()
    try:
        result = wl.op(spark, out)
    except Exception:  # a failed operation is counted, and the loop goes on
        traceback.print_exc()
        for _ in range(wl.ops_per_call):
            tally.record([f"{wl.name} op {k} raised"])
        return None, None
    wall = time.perf_counter() - t0
    if counters is not None:
        counts = counters.end()
    try:
        wl.check(spark, out, result, tally)
    except Exception:
        traceback.print_exc()
        for _ in range(wl.ops_per_call):
            tally.record([f"{wl.name} op {k}: check raised"])
    shutil.rmtree(out, ignore_errors=True)
    return wall, counts


def run_untraced(name: str, seed: int, seconds: float, cores: int):
    import workloads as W
    from checks import Tally, percentile_summary

    wl = {"osm_convert": W.OsmConvert, "tile_job": W.TileJob}[name](seed)
    setups, spark, info = [], None, {}
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores)
        info = wl.setup(spark)
        setups.append(time.perf_counter() - t0)
    tally = Tally()
    # cold: JIT, code generation, Python workers
    warmup_s = [one_op(spark, wl, tally, -i)[0] for i in range(1, wl.WARMUP_OPS + 1)]
    walls = []
    steal0, total0 = cpu_ticks()
    t_start, k = time.perf_counter(), 0
    while k < MIN_OPS or time.perf_counter() - t_start < seconds:
        k += 1
        wall, _ = one_op(spark, wl, tally, k)
        if wall is not None:
            walls.append(wall)
    steal1, total1 = cpu_ticks()
    details = {
        "workload": name,
        "seed": seed,
        "env": environment(spark, cores),
        "input": info,
        "setup_reps_s": setups,
        "warmup_op_s": warmup_s,
        "op_wall_s": walls,
        "op_wall_summary": percentile_summary(walls) if walls else None,
        "cpu_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "failed_frac": tally.failed_frac,
        "problems": tally.problems,
    }
    rss = peak_rss_mb(spark)
    if not walls:
        raise RuntimeError(f"every {name} operation raised: {tally.problems}")
    metrics = {
        "setup_s": (statistics.median(setups[1:]), "s"),
        "items_per_s": (wl.items / statistics.median(walls), "1/s"),
        "peak_rss_mb": (rss, "MB"),
    }
    return tally, metrics, details


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_frac")):
        return "ratio"
    if name.endswith(("_bytes", "bytes_out")):
        return "bytes"
    return "count"


def run_traced(name: str, seed: int, cores: int):
    """Every workload, always in the same order so that the counts repeat
    exactly: set-up, a cold operation, an untraced operation (wall time and
    Spark counters), then the traced operation."""
    import workloads as W
    from checks import Tally
    from spans import SparkCounters, Tracer

    seq = [W.OsmConvert(seed), W.DocumentTrace(ROOT), W.TileJob(seed)]
    spark = start_session(cores)
    counters, tracer, tally = SparkCounters(spark), Tracer(), Tally()
    metrics, report = {}, {}
    for wl in seq:
        t0 = time.perf_counter()
        info = wl.setup(spark)
        setup_s = time.perf_counter() - t0
        # the document segment follows osm_convert, which has run the same
        # build_features; it gets no cold operation, to keep the run short
        if not isinstance(wl, W.DocumentTrace):
            one_op(spark, wl, tally, 0)
        wall_u, counts = one_op(spark, wl, tally, 1, counters)
        if wall_u is None:
            raise RuntimeError(f"the untraced {wl.name} operation raised")
        tracer.op = f"{wl.name}-traced"
        out = os.path.join(WORK, f"{wl.name}-traced")
        t0 = time.perf_counter()
        layers, result = wl.traced_op(spark, tracer, out)
        wall_t = time.perf_counter() - t0
        wl.check(spark, out, result, tally)
        shutil.rmtree(out, ignore_errors=True)
        overhead = wall_t / wall_u - 1
        metrics.update(layers)
        metrics.update({f"{wl.name}.{k}": v for k, v in (counts or {}).items()})
        metrics[f"{wl.name}.trace_overhead_frac"] = overhead
        report[wl.name] = {
            "input": info,
            "setup_s": setup_s,
            "untraced_wall_s": wall_u,
            "traced_wall_s": wall_t,
            "trace_overhead_frac": overhead,
            "counters": counts,
            "layers": layers,
        }
        if isinstance(wl, W.TileJob):
            metrics["spatial_join.classify_s"] = wl.classify_s
    env = environment(spark, cores)
    t_base = min((s["start"] for s in tracer.spans), default=0.0)
    self_times = tracer.self_times()
    trace_doc = {
        "seed": seed,
        "workload": name,
        "env": env,
        "workloads": report,
        "spans": [
            dict(s, start=s["start"] - t_base, end=s["end"] - t_base, self=self_times[s["id"]])
            for s in tracer.spans
        ],
    }
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"trace-{name}-{seed}.json")
    with open(path, "w") as fh:
        json.dump(trace_doc, fh, indent=1)
    details = {"trace_file": os.path.relpath(path, ROOT), "env": env, "problems": tally.problems}
    return tally, {k: (v, unit_of(k)) for k, v in metrics.items()}, details


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import osm2geojson_spark  # noqa: F401  (the program under test)
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable here: {exc}", file=sys.stderr)
        return 2
    prepare_env()
    cores = len(os.sched_getaffinity(0))
    try:
        if args.trace:
            tally, metrics, details = run_traced(args.workload, args.seed, cores)
        else:
            tally, metrics, details = run_untraced(args.workload, args.seed, args.seconds, cores)
    finally:
        stop_session()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(details))
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
