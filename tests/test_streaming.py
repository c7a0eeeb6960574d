"""Structured Streaming: every streaming transform must agree with its batch
form on the same input (availableNow catch-up == batch)."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.operators.spatial_join import (
    point_in_polygon_bruteforce,
    polygons_to_df,
)
from osm2geojson_spark.sources import synthetic as SYN
from osm2geojson_spark.streaming import ops as S


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Two parquet files (= two micro-batches) of deterministic events."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    base = spark.range(0, 400).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 137).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias("event_type"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    base.filter(F.col("event_id") < 200).coalesce(1).write.parquet(os.path.join(d, "p1"))
    base.filter(F.col("event_id") >= 200).coalesce(1).write.parquet(os.path.join(d, "p2"))
    return d


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    batch_df = spark.read.parquet(os.path.join(events_dir, "p1"), os.path.join(events_dir, "p2"))
    stream_df = S.events_file_stream(spark, os.path.join(events_dir, "p*"))
    got = S.run_to_memory(S.windowed_event_counts(stream_df), "win_counts")
    want = S.windowed_event_counts(batch_df)
    cols = ["win_start", "win_end", "event_type", "n", "vmin", "vmax"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(want, cols)) > 3


def test_sessionized_counts_stream_equals_batch(spark, events_dir):
    batch_df = spark.read.parquet(os.path.join(events_dir, "p1"), os.path.join(events_dir, "p2"))
    stream_df = S.events_file_stream(spark, os.path.join(events_dir, "p*"))
    got = S.run_to_memory(S.sessionized_counts(stream_df, gap="10 minutes"), "sess_counts")
    want = S.sessionized_counts(batch_df, gap="10 minutes")
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)
    # 137s spacing x 7 users -> per-user gap 959s > 600s: every event its own session
    assert len(_rows(want, cols)) == 400


def test_streaming_dedup(spark, events_dir, tmp_path):
    d = str(tmp_path / "docs_stream")
    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
        # 100 distinct texts, each repeated 3x
        F.concat(F.lit("Document body number "), (F.col("id") % 100).cast("string")).alias(
            "text"
        ),
    )
    docs.coalesce(1).write.parquet(d)
    stream_df = (
        spark.readStream.format("parquet")
        .schema("doc_id long, ts timestamp, text string")
        .load(d)
    )
    got = S.run_to_memory(S.streaming_exact_dedup(stream_df), "dedup_stream")
    assert got.count() == 100
    assert got.select("fingerprint").distinct().count() == 100


def test_stream_tile_assign_matches_batch_oracle(spark, tmp_path):
    d = str(tmp_path / "img_stream")
    imgs = SYN.synthetic_images(spark, 300, bbox=(0.0, 0.0, 4.0, 4.0), with_bytes=False)
    imgs.coalesce(1).write.parquet(d)
    square = GEO.polygon([[[0.5, 0.5], [3.0, 0.5], [3.0, 3.0], [0.5, 3.0], [0.5, 0.5]]])
    polys = polygons_to_df(spark, [(0, square)])

    stream = (
        spark.readStream.format("parquet").schema(spark.read.parquet(d).schema).load(d)
    )
    got = S.run_to_memory(S.stream_tile_assign(stream, polys, res=6), "tiles_stream")

    pts = spark.read.parquet(d).select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    want = point_in_polygon_bruteforce(pts, polys)
    assert _rows(got, ["image_id", "poly_id"]) == _rows(
        want.select("image_id", "poly_id"), ["image_id", "poly_id"]
    )
    assert got.count() > 50


def test_running_user_stats_custom_state(spark, events_dir):
    """applyInPandasWithState: the final per-key update equals the batch
    aggregate over the full input."""
    batch_df = spark.read.parquet(os.path.join(events_dir, "p1"), os.path.join(events_dir, "p2"))
    stream_df = S.events_file_stream(spark, os.path.join(events_dir, "p*"))
    got_all = S.run_to_memory(S.running_user_stats(stream_df), "user_stats", mode="update")
    # update mode emits one row per key per micro-batch; the final state is
    # the row with the highest n per key
    latest = {}
    for r in got_all.collect():
        if r["user_id"] not in latest or r["n"] > latest[r["user_id"]]["n"]:
            latest[r["user_id"]] = r
    want = {r["user_id"]: r for r in S.running_user_stats(batch_df).collect()}
    assert set(latest) == set(want) and len(want) == 7
    for uid, w in want.items():
        g = latest[uid]
        assert g["n"] == w["n"]
        assert abs(g["v_sum"] - w["v_sum"]) < 1e-9
        assert g["v_max"] == w["v_max"]


def test_streaming_image_dedup_matches_batch(spark, tmp_path):
    """streaming(availableNow) == batch for the perceptual image dedup:
    re-encoded duplicates (same pixels, later ts) are dropped in flight."""
    from osm2geojson_spark.functions import imagecodec

    d = str(tmp_path / "img_stream")
    import numpy as np

    rows = []
    for i in range(90):
        # 30 distinct random images (synth_pixels gradients share a dHash
        # by design), each appearing 3x with alternating wire formats
        rng = np.random.default_rng(i % 30)
        px = rng.integers(0, 256, (8, 8)).astype(np.uint8)
        fmt = "png" if i % 2 else "rawz"  # re-encodes must still collide
        rows.append(
            (f"img{i:04d}", 1700000000 + i, bytearray(imagecodec.encode(px, fmt)), fmt)
        )
    df = spark.createDataFrame(
        rows, "image_id string, sec long, bytes binary, fmt string"
    ).select("image_id", F.timestamp_seconds(F.col("sec")).alias("ts"), "bytes", "fmt")
    df.coalesce(1).write.parquet(d)
    stream_df = (
        spark.readStream.format("parquet")
        .schema("image_id string, ts timestamp, bytes binary, fmt string")
        .load(d)
    )
    got = S.run_to_memory(S.streaming_image_dedup(stream_df), "img_dedup_stream")
    batch = S.streaming_image_dedup(spark.read.parquet(d))
    assert got.count() == 30
    assert {r["dhash"] for r in got.collect()} == {
        r["dhash"] for r in batch.collect()
    }


def test_interval_join_stream_equals_batch(spark, events_dir):
    """Stream-stream interval join drains to the exact batch result; the
    fixture's 137s spacing x 7 users puts several same-user t0/t1 pairs
    inside the 3600s lookback."""
    batch_df = spark.read.parquet(os.path.join(events_dir, "p1"), os.path.join(events_dir, "p2"))
    bp = batch_df.filter(F.col("event_type") == "t0")
    bv = batch_df.filter(F.col("event_type") == "t1")
    want = S.interval_join_purchase_views(bp, bv, lookback_s=3600)

    sp = S.events_file_stream(spark, os.path.join(events_dir, "p*")).filter(
        F.col("event_type") == "t0"
    )
    sv = S.events_file_stream(spark, os.path.join(events_dir, "p*")).filter(
        F.col("event_type") == "t1"
    )
    got = S.run_to_memory(
        S.interval_join_purchase_views(sp, sv, lookback_s=3600), "ij_stream"
    )
    cols = ["purchase_id", "user_id", "purchase_us", "view_id", "view_us", "view_value"]
    assert _rows(got, cols) == _rows(want, cols)
    assert len(_rows(want, cols)) > 20  # non-degenerate


def test_windowed_cell_counts_stream_equals_batch(spark, events_dir):
    """Spatio-temporal rollup: streaming(availableNow) with watermark ==
    batch on the same input, including cross-file (late-ish) windows."""
    import glob

    schema = spark.read.parquet(os.path.join(events_dir, "p1")).schema
    lonlat = lambda df: df.select(
        "ts",
        ((F.col("user_id") * 37 % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("user_id") * 53 % 170) - 85 + 0.5).cast("double").alias("lat"),
    )
    stream = S.events_file_stream(spark, events_dir + "/*", schema=schema)
    got = S.run_to_memory(
        S.windowed_cell_counts(lonlat(stream), res=5), "cell_window_stream"
    )
    batch = S.windowed_cell_counts(
        lonlat(spark.read.parquet(events_dir + "/*")), res=5
    )
    cols = ["win_start", "win_end", "cell_id", "n"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(_rows(batch, cols)) > 10


def test_windowed_heatmap_stream_equals_batch(spark, events_dir):
    """Streaming rasterization: windowed per-pixel counts from the stream
    (availableNow + watermark) match a batch run over the same input, and
    the pixel binning matches the batch rasterizer exactly."""
    schema = spark.read.parquet(os.path.join(events_dir, "p1")).schema
    lonlat = lambda df: df.select(
        "ts",
        ((F.col("user_id") * 37 % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("user_id") * 53 % 170) - 85 + 0.5).cast("double").alias("lat"),
    )
    stream = S.events_file_stream(spark, events_dir + "/*", schema=schema)
    got = S.run_to_memory(
        S.windowed_heatmap(lonlat(stream), res=2, tile_px=8), "heatmap_stream"
    )
    batch = S.windowed_heatmap(
        lonlat(spark.read.parquet(events_dir + "/*")), res=2, tile_px=8
    )
    cols = ["win_start", "win_end", "tile_x", "tile_y", "px", "py", "cnt"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(_rows(batch, cols)) > 5
    # pixel identity with the batch rasterizer (time dimension collapsed)
    from osm2geojson_spark.operators.rasterize import rasterize_points

    flat = rasterize_points(
        lonlat(spark.read.parquet(events_dir + "/*")), res=2, tile_px=8
    )
    want_px = _rows(flat, ["tile_x", "tile_y", "px", "py", "cnt"])
    got_px = sorted(
        (r[0], r[1], r[2], r[3], n)
        for (r, n) in (
            ((t[2], t[3], t[4], t[5]), t[6]) for t in _rows(batch, cols)
        )
    )
    # collapse windows: sum cnt per pixel
    agg = {}
    for tx, ty, px, py, n in got_px:
        agg[(tx, ty, px, py)] = agg.get((tx, ty, px, py), 0) + n
    assert sorted((k + (v,)) for k, v in agg.items()) == want_px


def test_streaming_cusum_stream_equals_batch(spark, tmp_path):
    """Stateful CUSUM: alarms across micro-batch boundaries (state = the
    carried statistic) equal the batch window operator AND the textbook
    recursion walked in Python; the carry matters because the planted
    drift straddles a batch boundary."""
    import numpy as np

    d = str(tmp_path / "cusum_stream")
    rng = np.random.default_rng(53)
    rows = []
    for s in range(3):
        vals = rng.integers(8, 13, 90).tolist()
        if s == 1:
            vals[55:] = rng.integers(12, 17, 35).tolist()  # drift crosses files
        rows += [(s, t, int(v)) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "sid long, t long, v long")
    # three time-ordered files = three micro-batches
    df.filter(F.col("t") < 30).coalesce(1).write.parquet(os.path.join(d, "p1"))
    df.filter((F.col("t") >= 30) & (F.col("t") < 60)).coalesce(1).write.parquet(
        os.path.join(d, "p2"))
    df.filter(F.col("t") >= 60).coalesce(1).write.parquet(os.path.join(d, "p3"))

    target, h = 10, 28
    stream = (
        spark.readStream.format("parquet")
        .schema("sid long, t long, v long")
        .option("maxFilesPerTrigger", "1")
        .load(os.path.join(d, "p*"))
    )
    got = _rows(
        S.run_to_memory(
            S.streaming_cusum(stream, "sid", "t", "v", target, h),
            "cusum_alarms", mode="append",
        ),
        ["sid", "t", "stat"],
    )
    want_batch = _rows(
        S.streaming_cusum(df, "sid", "t", "v", target, h), ["sid", "t", "stat"]
    )
    assert got == want_batch

    # textbook recursion over the full history
    from collections import defaultdict

    series = defaultdict(list)
    for s, t, v in rows:
        series[s].append((t, v))
    want = []
    for s, tv in series.items():
        g = 0
        for t, v in sorted(tv):
            g = max(0, g + v - target)
            if g >= h:
                want.append((s, t, g))
    assert got == sorted(want)
    # the drift series alarms, and only after the planted change
    assert {s for s, _, _ in got} == {1}
    assert min(t for _, t, _ in got) >= 55


def test_windowed_topk_stream_equals_batch(spark, events_dir):
    """Heavy hitters: streaming windowed counts (availableNow +
    watermark) finished with topk_finish == the one-shot batch
    windowed_topk on the same input; ties break to the smaller key."""
    schema = spark.read.parquet(os.path.join(events_dir, "p1")).schema
    keyed = lambda df: df.select("ts", F.col("event_type").alias("key"))
    stream = S.events_file_stream(spark, events_dir + "/*", schema=schema)
    counts = S.run_to_memory(
        S.windowed_topk(keyed(stream), k=2), "topk_stream"
    )
    got = S.topk_finish(counts, k=2)
    batch = S.windowed_topk(keyed(spark.read.parquet(events_dir + "/*")), k=2)
    cols = ["win_start", "win_end", "key", "n", "rnk"]
    assert _rows(got, cols) == _rows(batch, cols)
    rows = _rows(batch, cols)
    assert len(rows) > 10
    # every window emits at most k rows and ranks are 1..k
    from collections import Counter

    per_win = Counter((r[0], r[1]) for r in rows)
    assert all(v <= 2 for v in per_win.values())
    assert {r[4] for r in rows} <= {1, 2}


def test_cusum_matches_recursive_textbook_form(spark):
    import duckdb

    from osm2geojson_spark.streaming.ops import cusum_alarms, cusum_alarms_sql

    rng = np.random.default_rng(37)
    rows = []
    for s in range(4):
        vals = rng.integers(8, 13, 60).tolist()  # target 10, noise
        if s == 2:
            vals[30:] = rng.integers(12, 17, 30).tolist()  # planted drift up
        rows += [(s, t, int(v)) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "sid long, t long, v long")
    target, h = 10, 15
    got = sorted(
        (r["sid"], r["t"], r["stat"])
        for r in cusum_alarms(df, "sid", "t", "v", target, h).collect()
    )

    # brute: the recursive form G_t = max(0, G_{t-1} + x - target)
    from collections import defaultdict

    series = defaultdict(list)
    for s, t, v in rows:
        series[s].append((t, v))
    want = []
    for s, tv in series.items():
        g = 0
        for t, v in sorted(tv):
            g = max(0, g + v - target)
            if g >= h:
                want.append((s, t, g))
    assert got == sorted(want)
    assert any(s == 2 for s, _, _ in got)  # the drift fires
    assert all(s == 2 for s, _, _ in got) or len(got) > 0

    duck = duckdb.connect()
    duck.execute("CREATE TABLE cusrc (sid BIGINT, t BIGINT, v BIGINT)")
    duck.executemany("INSERT INTO cusrc VALUES (?, ?, ?)", rows)
    twin = sorted(duck.sql(
        cusum_alarms_sql("SELECT * FROM cusrc", "sid", "t", "v", target, h)
    ).fetchall())
    assert twin == got
