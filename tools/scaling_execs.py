"""Multi-process executor-scaling evidence: N -> 4N EXECUTORS, not threads.

The north rule's criterion is throughput scaling efficiency >= 0.8 between a
cluster of N executors and one of 4N executors. A real executor is a separate
JVM with its own task threads, GC, and shuffle-local state; a single
``local[32]`` JVM is the WRONG proxy for four 8-core executors — it measures
one JVM's scheduler/GC/allocator contention at 32 threads, which a cluster
never runs (BASELINE.md records that single-JVM 8->32 threads yields ~0.33
on this box while 2->8 yields 0.91).

This harness is the faithful proxy, measured as WEAK scaling (constant
work per executor — how a 4x cluster is actually used):

* "1 executor"  = one subprocess, ``taskset``-pinned to CORES_PER_EXEC
  cores, ``local[CORES_PER_EXEC]``, processing ONE quarter file-slice of
  the table.
* "4 executors" = four subprocesses on DISJOINT core sets, each processing
  its own quarter concurrently (4x the total data), started through a file
  barrier so their timed windows overlap fully.

Per-executor work (and per-job fixed overhead) is identical in both runs,
so efficiency = aggregate_throughput(4) / (4 x throughput(1)) isolates
cross-executor interference. Each executor warms up (codegen + Arrow
worker pool) before the barrier, mirroring a long-lived cluster. The job
is the full production pipeline: per-row payload decode (E7 invariant
path) -> phash point decode -> cell-sharded PIP join -> tile rollup — the
per-row path of the 10^12-image workload. CORES_PER_EXEC is
SPARK_GRAFT_EXEC_CORES (default 8); 2-core executors keep the total under
this box's ~16-active-core tenancy cliff (see the hardware ceiling probes
in BASELINE.md).

Usage: python tools/scaling_execs.py            (parent; writes BENCH.md +
                                                 appends BASELINE.md)
Env:   SPARK_GRAFT_SCALE_N (default 1000000), SPARK_GRAFT_SF_DIR
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORES_PER_EXEC = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "8"))
N_EXEC_HI = 4
TIMED_REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "2"))


def _child(argv: list[str]) -> None:
    """One pinned executor: warm, wait for the barrier, run TIMED_REPS."""
    exec_id, n_shards, table, barrier_dir = int(argv[0]), int(argv[1]), argv[2], argv[3]

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CORES_PER_EXEC}]")
        .config("spark.sql.shuffle.partitions", str(CORES_PER_EXEC))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small-heap ParallelGC is the right executor profile for this
        # allocation-heavy pipeline: G1's CONCURRENT mark/refine threads
        # are invisible at 1 executor but thrash across 4 pinned JVMs —
        # measured 4-core-exec efficiency 0.64 (G1 8g) -> 0.90
        # (ParallelGC 4g) with +23% aggregate throughput (round 4)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_EXEC_MEM", "4g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_EXEC_JAVAOPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from osm2geojson_spark.operators import cells
    from osm2geojson_spark.operators.multimodal import decode_gate
    from osm2geojson_spark.operators.spatial_join import (
        point_in_polygon_join,
        polygons_to_df,
    )
    from osm2geojson_spark.sources import synthetic as SYN

    boxes = E._nation_boxes(
        spark, os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    polys_df = polygons_to_df(spark, [(p, g) for p, g, *_ in boxes])

    # disjoint file slice = this executor's scan split
    files = sorted(glob.glob(os.path.join(table, "part-*")))
    shard = files[exec_id::n_shards]

    variant = os.environ.get("SPARK_GRAFT_SCALE_JOB", "full")

    def job() -> int:
        # FUSED decode gate (multimodal.decode_gate): bytes cross the bus
        # once, no id strings through Arrow, no join-back shuffle — the
        # round-3 0.74 4-core scaling point was bus-bound and this is the
        # bytes-moved reduction the verdict asked for (ask #6)
        imgs = spark.read.parquet(*shard)
        pts = (
            decode_gate(imgs, ["phash"])
            .filter(F.col("decode_ok"))
            .select(
                SYN.phash_lon(F.col("phash")).alias("lon"),
                SYN.phash_lat(F.col("phash")).alias("lat"),
            )
        )
        if variant == "decode":  # isolate scan+Arrow+python-decode stage
            return pts.count()
        joined = point_in_polygon_join(pts, polys_df, res=7)
        if variant == "pip":  # decode + PIP, no rollup shuffle
            return joined.count()
        return (
            joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), 9))
            .groupBy("poly_id", "tile")
            .agg(F.count("*").alias("n_images"))
            .count()
        )

    job()  # warm: codegen + Arrow worker pool + scan footer cache
    rows = spark.read.parquet(*shard).count()  # INPUT rows this executor owns
    with open(os.path.join(barrier_dir, f"ready-{exec_id}"), "w") as f:
        f.write("1")
    go = os.path.join(barrier_dir, "go")
    while not os.path.exists(go):
        time.sleep(0.05)
    reps = []
    for _ in range(TIMED_REPS):
        t0 = time.time()
        job()
        reps.append(time.time() - t0)
    print(json.dumps({"exec_id": exec_id, "rows": rows, "reps": reps}), flush=True)


def _spawn(exec_id: int, n_shards: int, table: str, barrier_dir: str):
    c0 = exec_id * CORES_PER_EXEC
    cmd = [
        "taskset", "-c", f"{c0}-{c0 + CORES_PER_EXEC - 1}",
        sys.executable, os.path.abspath(__file__), "--child",
        str(exec_id), str(n_shards), table, barrier_dir,
    ]
    return subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO)


def _run_cluster(n_execs: int, table: str) -> dict:
    """WEAK scaling: every executor always owns a 1/N_EXEC_HI file slice, so
    per-executor work (and per-job fixed overhead) is identical between the
    1-executor and 4-executor runs and cancels in the efficiency ratio —
    exactly how a 4x cluster is used (4x data, constant work per executor)."""
    barrier_dir = f"/tmp/osm2geojson_spark_scaling/barrier_{n_execs}_{os.getpid()}"
    os.makedirs(barrier_dir, exist_ok=True)
    procs = [_spawn(i, N_EXEC_HI, table, barrier_dir) for i in range(n_execs)]
    while not all(
        os.path.exists(os.path.join(barrier_dir, f"ready-{i}")) for i in range(n_execs)
    ):
        time.sleep(0.1)
        for p in procs:
            if p.poll() not in (None, 0):
                raise RuntimeError(f"executor died rc={p.returncode}")
    with open(os.path.join(barrier_dir, "go"), "w") as f:
        f.write("1")
    outs = []
    for p in procs:
        stdout, _ = p.communicate(timeout=1800)
        line = [l for l in stdout.strip().splitlines() if l.startswith("{")][-1]
        outs.append(json.loads(line))
    total_rows = sum(o["rows"] for o in outs)
    # per-rep cluster wall = slowest executor in that rep (reps are aligned
    # by the barrier and equal-sized shards); best rep reported
    walls = [max(o["reps"][r] for o in outs) for r in range(TIMED_REPS)]
    wall = min(walls)
    return {
        "n_execs": n_execs,
        "rows": total_rows,
        "wall": round(wall, 2),
        "rows_per_sec": round(total_rows / wall, 1),
        "walls": [round(w, 2) for w in walls],
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(sys.argv[2:])
        return

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from scaling_run import build_table

    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "1000000"))
    table = f"/tmp/osm2geojson_spark_scaling/imgtable_{n}"
    build_table(table, n)

    r1 = _run_cluster(1, table)
    r4 = _run_cluster(N_EXEC_HI, table)
    eff = r4["rows_per_sec"] / (N_EXEC_HI * r1["rows_per_sec"])

    stamp = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    block = f"""
## Measured executor scaling — separate JVMs ({stamp})

N -> 4N EXECUTORS, weak scaling (constant per-executor work): each
executor is its own pinned-core JVM subprocess (taskset, {CORES_PER_EXEC} cores each,
local[{CORES_PER_EXEC}]); the 1-executor run processes one quarter file-slice, the
4-executor run processes all four quarters concurrently (barrier-started
so the timed windows overlap). Job = full production pipeline (payload
decode -> PIP join -> tile rollup) over a {n:,}-row parquet image
table. Best of {TIMED_REPS} barrier-aligned reps.

| cluster | rows | wall (s) | aggregate rows/sec |
|---|---|---|---|
| 1 executor x {CORES_PER_EXEC} cores | {r1["rows"]:,} | {r1["wall"]} | {r1["rows_per_sec"]:,.0f} |
| {N_EXEC_HI} executors x {CORES_PER_EXEC} cores | {r4["rows"]:,} | {r4["wall"]} | {r4["rows_per_sec"]:,.0f} |

**Executor scaling efficiency 1 -> {N_EXEC_HI}: {eff:.2f}** (criterion: >= 0.8).
"""
    with open(os.path.join(REPO, "BASELINE.md"), "a") as f:
        f.write(block)
    with open(os.path.join(REPO, "BENCH.md"), "a") as f:
        f.write(block)
    print(json.dumps({
        "rows_per_sec_1exec": r1["rows_per_sec"],
        "rows_per_sec_4exec": r4["rows_per_sec"],
        "efficiency": round(eff, 3),
    }))


if __name__ == "__main__":
    main()
