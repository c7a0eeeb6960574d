"""The flagship production job (north rule): spatial-join + tile-assignment
over the image table, **resumable** with per-partition lineage.

Work is partitioned by coarse cell (the batch/resume unit — on a partitioned
Iceberg/Parquet table this predicate prunes file scans); each batch runs the
cell-sharded PIP join + tile rollup, lands Parquet, then commits an atomic
lineage record (cell_id, rows_in, rows_out, bytes_out, wall_s). A restart
anti-joins committed batches and processes only the remainder; the final
manifest is identical to an uninterrupted run (pinned by tests).

    from osm2geojson_spark.plans.tile_job import run_tile_job
    run_tile_job(spark, images_df, polys_df, "/data/out/tiles")

At cluster scale: images is the 10^12-row table read from the catalog, the
coarse cells are its physical partitions, and one `spark-submit --py-files`
invocation per resume attempt drives the whole thing.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import cells
from ..operators.spatial_join import point_in_polygon_join
from ..sources import synthetic as SYN
from .manifest import ParquetManifest, ResumableJob


def image_points(images: DataFrame, coarse_res: int) -> DataFrame:
    """phash -> point + coarse batch cell."""
    pts = images.select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    return pts.withColumn(
        "coarse", cells.cell_id(F.col("lon"), F.col("lat"), coarse_res)
    )


def tile_batch(
    pts: DataFrame,
    polys_df: DataFrame,
    coarse_cell: int,
    res: int,
    tile_res: int,
    rows_in: Observation | None = None,
) -> DataFrame:
    """One batch: coarse-cell slice -> PIP join -> per-(poly, tile) rollup.

    ``rows_in``, when given, counts the slice's rows as ``n`` in the same
    pass: the PIP join scans the slice once."""
    sub = pts.filter(F.col("coarse") == coarse_cell).drop("coarse")
    if rows_in is not None:
        sub = sub.observe(rows_in, F.count(F.lit(1)).alias("n"))
    joined = point_in_polygon_join(sub, polys_df, res=res)
    return (
        joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), tile_res))
        .groupBy("poly_id", "tile")
        .agg(F.count("*").alias("n_images"))
    )


def run_tile_job(
    spark: SparkSession,
    images: DataFrame,
    polys_df: DataFrame,
    out_root: str,
    res: int = 6,
    tile_res: int = 9,
    coarse_res: int = 2,
) -> dict:
    """Returns {"ran": [...], "skipped": [...]} (skipped = already committed
    by a previous attempt). Output at <out_root>/data/batch=<cell>/ plus the
    lineage manifest at <out_root>/manifest/, whose ``rows_in`` is observed
    during each batch's write, not counted by a job of its own."""
    pts = image_points(images, coarse_res).localCheckpoint(eager=False)
    man = ParquetManifest(out_root)
    job = ResumableJob(man)
    # every coarse cell is a batch — deterministic, restart-stable work list
    n = 1 << coarse_res
    batch_ids = [str(cells.pack_cell_py(coarse_res, x, y)) for x in range(n) for y in range(n)]

    observed: dict[str, Observation] = {}

    def batch(bid: str) -> DataFrame:
        observed[bid] = Observation()
        return tile_batch(pts, polys_df, int(bid), res, tile_res, rows_in=observed[bid])

    def rows_in(bid: str) -> int:
        try:
            return observed.pop(bid).get["n"]
        except Py4JJavaError:
            # no metrics: the planner cut the slice out of the final plan (an
            # empty polygon layer, or AQE dropping a stage that output no
            # rows), so this batch alone pays for a count of its own
            return pts.filter(F.col("coarse") == int(bid)).count()

    return job.run(batch_ids, batch, rows_in=rows_in)


def read_tiles(spark: SparkSession, out_root: str) -> DataFrame:
    """Union of all committed batches (poly_id, tile, n_images)."""
    man = ParquetManifest(out_root)
    done = sorted(man.committed_batches())
    paths = [man.batch_path(b) for b in done]
    return spark.read.parquet(*paths)
