"""Flagship resumable tile job: interrupted run + resume == uninterrupted
run == single-pass batch result; lineage metrics recorded per batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygons_to_df,
)
from osm2geojson_spark.plans import tile_job
from osm2geojson_spark.plans.manifest import ParquetManifest
from osm2geojson_spark.sources import synthetic as SYN


def _polys(spark):
    sq1 = GEO.polygon([[[-90.0, -45.0], [0.0, -45.0], [0.0, 45.0], [-90.0, 45.0], [-90.0, -45.0]]])
    sq2 = GEO.polygon([[[10.0, 10.0], [170.0, 10.0], [170.0, 80.0], [10.0, 80.0], [10.0, 10.0]]])
    return polygons_to_df(spark, [(0, sq1), (1, sq2)])


def _oracle(spark, imgs, polys):
    pts = imgs.select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    joined = point_in_polygon_join(pts, polys, res=6)
    return (
        joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), 9))
        .groupBy("poly_id", "tile")
        .agg(F.count("*").alias("n_images"))
    )


def test_tile_job_resume_equivalence(spark, tmp_path):
    imgs = SYN.synthetic_images(spark, 3000, with_bytes=False)
    polys = _polys(spark)

    # interrupted attempt: only the first 5 coarse batches "complete"
    root = str(tmp_path / "tiles")
    pts = tile_job.image_points(imgs, 2)
    all_ids = [str(cells.pack_cell_py(2, x, y)) for x in range(4) for y in range(4)]
    from osm2geojson_spark.plans.manifest import ResumableJob

    partial = ResumableJob(ParquetManifest(root)).run(
        all_ids[:5],
        lambda bid: tile_job.tile_batch(pts, polys, int(bid), 6, 9),
        rows_in=lambda bid: pts.filter(F.col("coarse") == int(bid)).count(),
    )
    assert partial["ran"] == all_ids[:5]

    # resume: the full job skips the committed 5, runs the remaining 11
    res = tile_job.run_tile_job(spark, imgs, polys, root)
    assert res["skipped"] == all_ids[:5]
    assert len(res["ran"]) == 11

    got = tile_job.read_tiles(spark, root)
    want = _oracle(spark, imgs, polys)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # lineage: 16 committed batches, conservation of rows
    metrics = ParquetManifest(root).read_metrics()
    assert len(metrics) == 16
    assert all(m["bytes_out"] > 0 for m in metrics)
    total_in = sum(m["rows_in"] for m in metrics if m["rows_in"] is not None)
    assert total_in == 3000  # every image lands in exactly one coarse batch


def test_tile_job_idempotent_rerun(spark, tmp_path):
    imgs = SYN.synthetic_images(spark, 500, with_bytes=False)
    polys = _polys(spark)
    root = str(tmp_path / "tiles2")
    r1 = tile_job.run_tile_job(spark, imgs, polys, root)
    assert len(r1["ran"]) == 16 and not r1["skipped"]
    first = sorted(map(tuple, tile_job.read_tiles(spark, root).collect()))
    r2 = tile_job.run_tile_job(spark, imgs, polys, root)
    assert len(r2["skipped"]) == 16 and not r2["ran"]
    assert sorted(map(tuple, tile_job.read_tiles(spark, root).collect())) == first


def test_tile_job_rows_in_without_polygons(spark, tmp_path):
    """With an empty polygon layer the planner removes the observed slice
    from every batch's plan; rows_in is still each batch's input count."""
    imgs = SYN.synthetic_images(spark, 500, with_bytes=False)
    root = str(tmp_path / "tiles3")
    r = tile_job.run_tile_job(spark, imgs, polygons_to_df(spark, []), root)
    assert len(r["ran"]) == 16
    metrics = ParquetManifest(root).read_metrics()
    assert sum(m["rows_in"] for m in metrics) == 500
    assert sum(m["rows_out"] for m in metrics) == 0
