"""The benchmark's workloads.

Each workload makes its inputs and the checks' reference answers from the
seed (``setup``), runs one timed operation (``op``), checks the operation's
output outside the timed region (``check``), and has a traced variant
(``traced_op``) that charges the same work to the layers it passes through.
The program only ever sees the generated inputs; the seed shifts ids,
coordinates or polygon offsets in benchmark code, and every check holds for
every seed.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.functions.classify import polygon_flag_column
from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators import spatial_join as SJ
from osm2geojson_spark.operators.assemble import assemble_relations, resolve_ways
from osm2geojson_spark.plans import pipeline as P
from osm2geojson_spark.plans import tile_job as TJ
from osm2geojson_spark.plans.manifest import ParquetManifest, ResumableJob
from osm2geojson_spark.sources import synthetic as SYN
from osm2geojson_spark.sources import xml_source
from osm2geojson_spark.sources.normalize import ElementFrames, normalize_elements

import checks
from spans import Tracer, force, rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


class OsmConvert:
    """The paper's full conversion over a generated corpus of multipolygon
    relations: resolve ways, assemble relations, used-refs anti join and the
    GeoJSON-lines sink. Throughput-bound; never touches the spatial join."""

    name = "osm_convert"
    N_REL = 3000
    WARMUP_OPS = 1
    ops_per_call = 1

    def __init__(self, seed: int) -> None:
        rng = random.Random(seed)
        # relabels relation n as n + id_offset and translates every node;
        # ids stay in the corpus's disjoint per-type ranges
        self.id_offset = rng.randrange(1, 1_000_000)
        self.dx = rng.randrange(0, 1000) / 1024
        self.dy = rng.randrange(0, 1000) / 1024

    def frames(self, spark: SparkSession) -> ElementFrames:
        f = SYN.synthetic_osm_frames(spark, self.N_REL)
        d = self.id_offset
        nodes = (
            f.nodes.withColumn("id", F.col("id") + 100 * d)
            .withColumn("seq", F.col("seq") + 100 * d)
            .withColumn("lon", F.col("lon") + self.dx)
            .withColumn("lat", F.col("lat") + self.dy)
        )
        ways = (
            f.ways.withColumn("id", F.col("id") + 10 * d)
            .withColumn("seq", F.col("seq") + 10 * d)
            .withColumn("nodes", F.transform("nodes", lambda r: r + 100 * d))
        )
        rels = (
            f.relations.withColumn("id", F.col("id") + d)
            .withColumn("seq", F.col("seq") + d)
            .withColumn(
                "members",
                F.transform("members", lambda m: m.withField("ref", m["ref"] + 10 * d)),
            )
        )
        return f._replace(nodes=nodes, ways=ways, relations=rels)

    def setup(self, spark: SparkSession) -> dict:
        self.input = self.frames(spark)
        self.bad_failures = None
        f = self.input
        # counted from the generated frames (odd relations have 4 nodes and
        # 2 ways, even ones 8 and 3), in one job
        self.items = (
            f.nodes.select("id")
            .unionByName(f.ways.select("id"))
            .unionByName(f.relations.select("id"))
            .unionByName(f.others.select("id"))
            .count()
        )
        return {"input_elements": self.items, "n_rel": self.N_REL}

    def op(self, spark: SparkSession, out_dir: str) -> DataFrame:
        # plan-equal cached data from an earlier operation would short-circuit it
        spark.catalog.clearCache()
        features, failures = P.build_features(spark, self.input, materialize="cache")
        P.write_geojson_lines(features, out_dir)
        return failures

    def check(self, spark, out_dir: str, failures: DataFrame, tally: checks.Tally) -> None:
        # the operation never computes its failures; every operation of a
        # run converts the same input, so the first one counts them
        if self.bad_failures is None:
            self.bad_failures = failures.filter("reason != 'unsupported_type'").count()
        bad = self.bad_failures
        tally.record(
            checks.check_osm_convert(
                checks.read_feature_lines(out_dir),
                self.N_REL,
                self.id_offset,
                self.dx,
                self.dy,
                bad,
            )
        )

    def traced_op(self, spark: SparkSession, tr: Tracer, out_dir: str) -> tuple[dict, DataFrame]:
        """Forces resolve_ways, assemble_relations, used_ref_ids and
        build_features as cumulative prefixes, then the sink; self times are
        differences of those spans.

        The resolved ways are cached exactly as build_features caches them
        (it finds this plan-equal cache and reuses it), so each later prefix
        starts from the same materialized boundary instead of re-running a
        column-pruned copy of the way resolution."""
        frames, op = self.input, tr.op
        spark.catalog.clearCache()
        with tr.span("op"):
            with tr.span("prefix.resolve_ways") as s:
                ways = resolve_ways(frames).drop("coords_arr").cache()
                s["counts"] = force(ways, ways=rows(), ways_ok=F.count("gpb"))
            # build_features' relation flagging, with the default rulebooks
            rels_flagged = frames.relations.withColumn(
                "is_poly",
                polygon_flag_column(F.col("tags"), F.lit(None).cast("boolean"), None, None),
            )
            with tr.span("prefix.assemble_relations") as s:
                s["counts"] = force(
                    assemble_relations(frames, ways, rels_flagged),
                    rels=rows(),
                    rels_ok=F.count("gpb"),
                )
            with tr.span("prefix.used_ref_ids") as s:
                s["counts"] = force(P.used_ref_ids(frames, ways, rels_flagged), used=rows())
            with tr.span("prefix.build_features") as s:
                features, failures = P.build_features(spark, frames, materialize="cache")
                s["counts"] = force(features, features=rows())
            # the sink recomputes everything downstream of the ways cache
            with tr.span("sink.write_geojson_lines") as s:
                P.write_geojson_lines(features, out_dir)
                s["counts"] = {"sink_bytes": dir_bytes(out_dir)}
        t = {k: tr.total(op, k) for k in (
            "prefix.resolve_ways", "prefix.assemble_relations", "prefix.used_ref_ids",
            "prefix.build_features", "sink.write_geojson_lines",
        )}
        c = {}
        for sp in tr.spans:
            if sp["op"] == op:
                c.update(sp["counts"])
        spark.catalog.clearCache()
        rw = t["prefix.resolve_ways"]
        ar = t["prefix.assemble_relations"]
        ur = t["prefix.used_ref_ids"]
        candidates = self.items - c["ways"] - c["rels"] + c["ways_ok"] + c["rels_ok"]
        layers = {
            "assemble.resolve_ways_s": rw,
            "assemble.assemble_relations_s": ar,
            "pipeline.used_ref_ids_s": ur,
            "pipeline.anti_join_s": t["prefix.build_features"] - ar - ur,
            "pipeline.sink_s": t["sink.write_geojson_lines"] - t["prefix.build_features"],
            "assemble.ways_ok_ratio": c["ways_ok"] / c["ways"],
            "assemble.relations_ok_ratio": c["rels_ok"] / c["rels"],
            # converted elements the used-refs anti join drops
            "pipeline.used_drop_ratio": 1 - c["features"] / candidates,
            "pipeline.sink_bytes": c["sink_bytes"],
        }
        return layers, failures


def nation_boxes(dx: float, dy: float) -> list[tuple[int, float, float, float, float]]:
    """The 25 nation rectangles of the registry's spatial queries (36 x 18
    degrees on a 72 x 36 degree lattice), shifted by (dx, dy)."""
    out = []
    for nk in range(25):
        x0 = -180.0 + (nk % 5) * 72.0 + dx
        y0 = -90.0 + (nk // 5) * 36.0 + dy
        out.append((nk, x0, y0, x0 + 36.0, y0 + 18.0))
    return out


class TileJob:
    """The flagship job: image phash -> point, cell-classified point-in-
    polygon join against the nation rectangles, per-(polygon, tile) rollup
    and one manifest commit per coarse batch. Never touches assembly."""

    name = "tile_job"
    N_IMAGES = 1_000_000
    RES, TILE_RES = 6, 9
    # after one warm-up operation the next still runs about 40% slow
    WARMUP_OPS = 2
    # one coarse batch: every extra batch costs a fixed ~2 s of Spark jobs
    # on a 4-core box, and the run budget does not fit the default 16
    COARSE_RES = 0

    def __init__(self, seed: int) -> None:
        rng = random.Random(seed)
        # the whole polygon layer moves by whole cells of the join's grid, so
        # every seed has the same interior and boundary cells and does the
        # same work; rectangles stay inside the world
        cw, ch = 360.0 / (1 << self.RES), 180.0 / (1 << self.RES)
        self.boxes = nation_boxes(rng.randrange(0, 7) * cw, rng.randrange(0, 7) * ch)
        n = 1 << self.COARSE_RES
        self.batch_ids = [
            str(cells.pack_cell_py(self.COARSE_RES, x, y)) for x in range(n) for y in range(n)
        ]
        self.ops_per_call = len(self.batch_ids)  # one operation is one batch

    def setup(self, spark: SparkSession) -> dict:
        polys = [
            (nk, GEO.polygon([[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]))
            for nk, x0, y0, x1, y1 in self.boxes
        ]
        self.polys_df = SJ.polygons_to_df(spark, polys)
        self.images = SYN.synthetic_images(spark, self.N_IMAGES, with_bytes=False)
        self.items = self.N_IMAGES
        t0 = time.perf_counter()
        self.shards = SJ.classified_shards(polys, self.RES)
        self.classify_s = time.perf_counter() - t0
        self.expected = self.reference_counts(spark)
        return {"images": self.N_IMAGES, "classify_s": self.classify_s}

    def reference_counts(self, spark: SparkSession) -> dict[str, int]:
        """Images inside any rectangle per coarse batch, by a plain JVM
        range join of the decoded points with the rectangles (no cells, no
        Python)."""
        rects = F.broadcast(spark.createDataFrame(
            [b[1:] for b in self.boxes], "x0 double, y0 double, x1 double, y1 double"
        ))
        pts = self.images.select(
            SYN.phash_lon("phash").alias("lon"), SYN.phash_lat("phash").alias("lat")
        )
        inside = pts.join(
            rects,
            F.col("lon").between(F.col("x0"), F.col("x1"))
            & F.col("lat").between(F.col("y0"), F.col("y1")),
        )
        n = float(1 << self.COARSE_RES)
        cx = F.floor((F.col("lon") + 180.0) / 360.0 * n).cast("int").alias("x")
        cy = F.floor((F.col("lat") + 90.0) / 180.0 * n).cast("int").alias("y")
        return {
            str(cells.pack_cell_py(self.COARSE_RES, r["x"], r["y"])): r["count"]
            for r in inside.groupBy(cx, cy).count().collect()
        }

    def op(self, spark: SparkSession, out_dir: str) -> None:
        TJ.run_tile_job(
            spark,
            self.images,
            self.polys_df,
            out_dir,
            res=self.RES,
            tile_res=self.TILE_RES,
            coarse_res=self.COARSE_RES,
        )

    def check(self, spark, out_dir: str, _result, tally: checks.Tally) -> None:
        committed = ParquetManifest(out_dir).committed_batches()
        got = {}
        if committed:
            batch = F.regexp_extract(F.input_file_name(), r"batch=(\d+)", 1)
            got = {
                r["b"]: r["n"]
                for r in TJ.read_tiles(spark, out_dir)
                .groupBy(batch.alias("b"))
                .agg(F.sum("n_images").alias("n"))
                .collect()
            }
        per_batch = checks.check_tile_batches(self.batch_ids, committed, got, self.expected)
        for bid in self.batch_ids:
            tally.record(per_batch[bid])

    def traced_op(self, spark: SparkSession, tr: Tracer, out_dir: str) -> tuple[dict, None]:
        """run_tile_job's steps from outside: the point checkpoint, then per
        batch the join and the rollup as cumulative prefixes, then the
        manifest run that writes and commits every batch.

        Each batch's rollup is cached when its prefix is forced, and the
        manifest run is handed that cache, so the run's span holds only the
        rows-in counts, the Parquet write and the commit."""
        op, res, coarse = tr.op, self.RES, self.COARSE_RES
        rollups = {}
        with tr.span("op"):
            with tr.span("prefix.image_points"):
                pts = TJ.image_points(self.images, coarse).localCheckpoint(eager=False)
                force(pts)
            for bid in self.batch_ids:
                sub = pts.filter(F.col("coarse") == int(bid)).drop("coarse")
                with tr.span("prefix.pip"):
                    # only the columns the rollup consumes, so the rollup
                    # prefix does all of this work and more
                    joined = SJ.point_in_polygon_join(sub, self.polys_df, res=res)
                    force(joined.select("poly_id", "lon", "lat"))
                with tr.span("prefix.rollup"):
                    rollups[bid] = TJ.tile_batch(
                        pts, self.polys_df, int(bid), res, self.TILE_RES
                    ).cache()
                    force(rollups[bid])

            def rows_in(bid):
                with tr.span("manifest.rows_in"):
                    return pts.filter(F.col("coarse") == int(bid)).count()

            with tr.span("manifest.run"):
                ResumableJob(ParquetManifest(out_dir)).run(
                    self.batch_ids, rollups.__getitem__, rows_in=rows_in
                )
            with tr.span("boundary_keep") as s:
                s["counts"] = self.boundary_counts(pts.drop("coarse"))
        for df in rollups.values():
            df.unpersist()
        pip = tr.total(op, "prefix.pip")
        rows_in_s = tr.total(op, "manifest.rows_in")
        c = s["counts"]
        layers = {
            "tile_job.image_points_s": tr.total(op, "prefix.image_points"),
            "spatial_join.pip_s": pip,
            "spatial_join.boundary_keep_ratio": c["kept"] / c["candidates"],
            "tile_job.rollup_s": tr.total(op, "prefix.rollup") - pip,
            "manifest.rows_in_s": rows_in_s,
            "manifest.write_commit_s": tr.total(op, "manifest.run") - rows_in_s,
            "manifest.bytes_out": sum(
                m["bytes_out"] for m in ParquetManifest(out_dir).read_metrics()
            ),
        }
        return layers, None

    def boundary_counts(self, pts: DataFrame) -> dict:
        """Points in boundary cells (from the public classified_shards) and
        how many of them lie inside their rectangle, which is what the
        join's exact refinement must keep."""
        spark = pts.sparkSession
        bdf = spark.createDataFrame(self.shards[1], "cell_id long, poly_id long")
        rects = spark.createDataFrame(
            self.boxes, "poly_id long, x0 double, y0 double, x1 double, y1 double"
        )
        cand = (
            pts.withColumn("cell_id", cells.cell_id(F.col("lon"), F.col("lat"), self.RES))
            .join(F.broadcast(bdf), "cell_id")
            .join(F.broadcast(rects), "poly_id")
        )
        inside = F.col("lon").between(F.col("x0"), F.col("x1")) & F.col("lat").between(
            F.col("y0"), F.col("y1")
        )
        return force(cand, candidates=rows(), kept=F.sum(inside.cast("long")))


class DocumentTrace:
    """One golden fixture document through the pipeline's document entry
    point: driver-side parse and normalize, the build_features plan, and the
    collect. Latency-bound: the cost is Spark job and stage overhead."""

    name = "document"
    FIXTURE = "map"
    ops_per_call = 1

    def __init__(self, root: str) -> None:
        data = os.path.join(root, "tests", "data")
        with open(os.path.join(data, self.FIXTURE + ".osm"), encoding="utf-8") as fh:
            self.xml = fh.read()
        with open(os.path.join(data, self.FIXTURE + ".geojson"), encoding="utf-8") as fh:
            self.golden = json.load(fh)["features"]

    def setup(self, spark: SparkSession) -> dict:
        return {"fixture": self.FIXTURE}

    def op(self, spark: SparkSession, _out_dir: str) -> list[dict]:
        return P.xml2geojson(spark, self.xml)["features"]

    def check(self, spark, _out_dir, features: list[dict], tally: checks.Tally) -> None:
        tally.record([] if features == self.golden else [f"{self.FIXTURE}: differs from golden"])

    def traced_op(self, spark: SparkSession, tr: Tracer, _out_dir: str) -> tuple[dict, list]:
        op = tr.op
        with tr.span("op"):
            with tr.span("xml_source.parse"):
                data = xml_source.parse(self.xml)
            with tr.span("normalize"):
                frames = normalize_elements(spark, data["elements"])
            with tr.span("pipeline.build_features"):
                features, _ = P.build_features(spark, frames)
            with tr.span("pipeline.collect"):
                out = P.collect_features(features)
        layers = {
            "xml_source.parse_s": tr.total(op, "xml_source.parse"),
            "normalize.normalize_s": tr.total(op, "normalize"),
            "pipeline.plan_s": tr.total(op, "pipeline.build_features"),
            "pipeline.collect_s": tr.total(op, "pipeline.collect"),
        }
        return layers, out
