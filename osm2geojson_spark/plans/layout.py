"""Physical table layout (SURVEY §4.2.1): cell-partitioned writes so spatial
predicates prune partitions at scan time, Morton-clustered within partitions
so range scans stay sequential.

This is the Iceberg-style layout over plain Parquet (no Iceberg jar in this
environment — the directory scheme `pcell=<coarse cell>` is exactly what an
Iceberg identity-partition spec would produce, so a real catalog slots in by
swapping the writer/reader calls).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import cells
from ..sources import synthetic as SYN

PARTITION_COL = "pcell"


def write_images_partitioned(
    images: DataFrame,
    path: str,
    coarse_res: int = 2,
    cluster_res: int = 9,
    mode: str = "overwrite",
    cluster: str = "morton",
) -> None:
    """Partition by coarse cell (phash-decoded point), cluster rows within
    each partition by a space-filling key over the fine cell — ``morton``
    (pure column expr) or ``hilbert`` (S2-style, better locality, Arrow
    UDF). One shuffle (the repartition), then sequential writes."""
    lon = SYN.phash_lon(F.col("phash"))
    lat = SYN.phash_lat(F.col("phash"))
    fine = cells.cell_id(lon, lat, cluster_res)
    key = (
        cells.hilbert_key(fine, cluster_res)
        if cluster == "hilbert"
        else cells.morton_key(fine, cluster_res)
    )
    df = images.withColumn(PARTITION_COL, cells.cell_id(lon, lat, coarse_res)).withColumn(
        "_mk", key
    )
    (
        df.repartition(F.col(PARTITION_COL))
        .sortWithinPartitions(PARTITION_COL, "_mk")
        .drop("_mk")
        .write.mode(mode)
        .partitionBy(PARTITION_COL)
        .parquet(path)
    )


def read_images_for_cells(
    spark: SparkSession, path: str, coarse_cells: list[int]
) -> DataFrame:
    """Scan restricted to the given coarse cells — the filter is a partition
    predicate, so only those directories are read (PartitionFilters in the
    scan node; at 10^12 rows this is the difference between touching 1/16th
    of the table and all of it)."""
    df = spark.read.parquet(path)
    return df.filter(F.col(PARTITION_COL).isin([int(c) for c in coarse_cells]))


def compaction_plan(
    files: DataFrame,
    target_bytes: int,
    part_col: str = "part_key",
    id_col: str = "file_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """SMALL-FILE COMPACTION PLANNER — group a manifest's files into
    rewrite bins of ~``target_bytes`` each, per table partition (the
    maintenance pass every long-lived cell-partitioned table needs: tile
    jobs and streaming commits leave many small files per pcell, and scan
    cost follows file count, not bytes).

    Packing rule: within a partition, order files bytes DESC (id ASC tie
    break) and assign ``bin_id = floor(running_bytes_before / target)`` —
    the same quota rule Spark's own FilePartition coalescing applies to
    splits. Bin COUNT is exactly ceil(partition_bytes / target) (the
    optimal lower bound); the tradeoff is that a bin can overshoot the
    target by up to its largest file. Fully deterministic and replayable
    as one SQL window — no sequential driver loop, unlike true
    first-fit-decreasing, which cannot be expressed as a combinable
    computation and would not scale past a single task per partition.

    Returns one row per file: (part_col, id_col, bytes_col, bin_id).

    Scale: ONE window shuffle keyed by the partition column; manifests
    are ~10^6 rows per 10^12-row table, so this is metadata-sized. Skewed
    partition file counts are bounded by the table's own partition
    granularity."""
    from pyspark.sql.window import Window

    assert target_bytes > 0
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(bytes_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(bytes_col).over(w), F.lit(0)).cast("double")
    return files.select(
        part_col, id_col, F.col(bytes_col).cast("long").alias(bytes_col)
    ).withColumn(
        "bin_id", F.floor(cum_before / F.lit(float(target_bytes))).cast("long")
    )


def _two_level_rank(
    df: DataFrame, val_col: str, key_col: str, out_col: str, n_buckets: int = 64
) -> DataFrame:
    """Global dense 1-based row rank ordered by (val, key) WITHOUT a
    single-partition window: value-range bucketing, per-bucket totals to
    the driver once (<= n_buckets rows), per-bucket parallel row_number
    shifted by the broadcast offsets — the same two-level scan as
    sampling.pps_systematic. Skewed value distributions only unbalance
    parallelism, never correctness."""
    lo, hi = df.agg(F.min(val_col), F.max(val_col)).first()
    if lo is None:
        return df.withColumn(out_col, F.lit(None).cast("long"))
    span = max(int(hi) - int(lo) + 1, 1)
    bucket = F.expr(
        f"CAST((({val_col} - {int(lo)}) * {n_buckets}) DIV {span} AS BIGINT)"
    )
    b = df.withColumn("_rb", bucket)
    totals = sorted(
        (r["_rb"], r["t"])
        for r in b.groupBy("_rb").agg(F.count(F.lit(1)).alias("t")).collect()
    )
    off, acc = F.lit(0).cast("long"), 0
    for bk, t in totals:
        off = F.when(F.col("_rb") == bk, F.lit(acc).cast("long")).otherwise(off)
        acc += t
    w = Window.partitionBy("_rb").orderBy(
        F.col(val_col).asc(), F.col(key_col).asc()
    )
    return b.withColumn(
        out_col, (F.row_number().over(w).cast("long") + off)
    ).drop("_rb")


def str_partition(
    pts,
    n_slices: int = 8,
    tiles_per_slice: int = 8,
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
):
    """(pid, x, y, slice, tile) — SORT-TILE-RECURSIVE PARTITIONING
    (Leutenegger et al. 1997), the classic R-tree bulk-load / spatial
    bucketing layout: rank all points by (x, id), cut into
    ``n_slices`` balanced vertical slices, then rank each slice by
    (y, id) and cut into ``tiles_per_slice`` balanced tiles. The
    write-layout primitive when data is point-heavy and a curve
    (Hilbert) under-packs elongated extents; tiles are balanced within
    ±1 row by construction — no skew regardless of the distribution.

    Exactness: both cuts are pure integer rank arithmetic
    ((rank−1)·k div n); the global x-rank uses the TWO-LEVEL scan (no
    single-partition window), the per-slice y-rank an ordinary
    partitioned window. Ties pin on id.

    Scale: one two-level rank (bucket rollup to the driver once) + one
    per-slice window — two shuffles total, both combinable/partitioned;
    the result feeds repartitionByRange(slice, tile) on ingest."""
    base = pts.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    n = base.count()
    if n == 0:
        return base.select(
            "pid", "x", "y",
            F.lit(0).cast("long").alias("slice"),
            F.lit(0).cast("long").alias("tile"),
        )
    ranked = _two_level_rank(base, "x", "pid", "_xr")
    sliced = ranked.withColumn(
        "slice", F.expr(f"(_xr - 1) * {int(n_slices)} DIV {n}").cast("long")
    )
    wy = Window.partitionBy("slice").orderBy(
        F.col("y").asc(), F.col("pid").asc()
    )
    wsz = Window.partitionBy("slice")
    return (
        sliced.withColumn("_yr", F.row_number().over(wy))
        .withColumn("_sn", F.count(F.lit(1)).over(wsz))
        .select(
            "pid", "x", "y", "slice",
            F.expr(
                f"(_yr - 1) * {int(tiles_per_slice)} DIV _sn"
            ).cast("long").alias("tile"),
        )
    )


def str_partition_sql(
    pts_cte: str, n_slices: int = 8, tiles_per_slice: int = 8
) -> str:
    """DuckDB twin of str_partition — serial window ranks, identical
    integer cuts. ``pts_cte`` -> (pid, x, y)."""
    return f"""
WITH sp_p AS (
  SELECT CAST(pid AS BIGINT) AS pid, CAST(x AS BIGINT) AS x,
         CAST(y AS BIGINT) AS y
  FROM ({pts_cte})
),
sp_x AS (
  SELECT *, row_number() OVER (ORDER BY x ASC, pid ASC) AS xr,
         count(*) OVER () AS n
  FROM sp_p
),
sp_s AS (
  SELECT *, CAST((xr - 1) * {int(n_slices)} // n AS BIGINT) AS slice
  FROM sp_x
)
SELECT pid, x, y, slice,
       CAST((row_number() OVER (PARTITION BY slice ORDER BY y ASC, pid ASC)
             - 1) * {int(tiles_per_slice)}
            // (count(*) OVER (PARTITION BY slice)) AS BIGINT) AS tile
FROM sp_s
"""
