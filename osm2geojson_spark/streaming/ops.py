"""Structured Streaming operators.

The reference is strictly batch (no streams/watermarks/state anywhere in
/root/reference — SURVEY §1.1), so this layer is engine extension surface:
the streaming forms of the engine's own operators, built on Spark Structured
Streaming primitives (readStream -> transform -> writeStream), with event-time
watermarks for late data.

Design rules:
* every transform is also valid on a batch DataFrame — tests pin
  streaming(availableNow) == batch on the same input (the strongest
  correctness statement Structured Streaming allows);
* state is bounded: watermarks on every stateful op, dropDuplicates keyed
  within the watermark, session windows with gap timeout;
* the stream side joins only against *static* broadcastable sides (polygon
  shards) — stream-static joins are stateless and scale linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import cells
from ..sources import synthetic as SYN

EVENTS_DDL = "event_id long, ts timestamp, user_id long, event_type string, value double"


def events_file_stream(
    spark: SparkSession, path: str, schema: str = EVENTS_DDL, fmt: str = "parquet"
) -> DataFrame:
    """File-based streaming source: new files under ``path`` become
    micro-batches. ``maxFilesPerTrigger`` left default; callers use
    ``trigger(availableNow=True)`` for catch-up runs."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts + value min/max per event_type, tolerating
    late data up to ``watermark``. Works identically on batch input (the
    watermark is a no-op there) — the test oracle."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("vmin"),
            F.round(F.max("value"), 6).alias("vmax"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "vmin",
            "vmax",
        )
    )


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — the built-in
    ``session_window`` keeps this JVM-side; no custom state code needed."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("sw"), key_col)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """In-flight exact dedup: first-seen document per normalized-text
    fingerprint survives; duplicates arriving within the watermark are
    dropped with bounded state."""
    from ..functions import text as TXT

    out = docs.withColumn("fingerprint", TXT.fingerprint_col(F.col(text_col)))
    if out.isStreaming:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    else:
        out = out.dropDuplicates(["fingerprint"])
    return out


def streaming_image_dedup(
    images: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """In-flight PERCEPTUAL image dedup: first-seen image per dHash
    survives; later images with identical gradient structure (exact AND
    re-encoded near-duplicates) are dropped within the watermark with
    bounded state. The dHash is computed INLINE on the stream (one Arrow
    mapInPandas pass with row passthrough — a stream-stream self-join
    would need append-mode time constraints and double the decode); the
    same plan runs on a batch frame, so streaming(availableNow) == batch
    dropDuplicates is the pinned contract. Output: image_id, ts, dhash."""
    import pandas as pd

    from ..functions import imagecodec
    from ..operators.multimodal import dhash_px

    def fn(it):
        for pdf in it:
            ids, tss, hashes = [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                hashes.append(dhash_px(px))
                ids.append(r.image_id)
                tss.append(getattr(r, ts_col))
            yield pd.DataFrame(
                {"image_id": ids, ts_col: tss, "dhash": pd.array(hashes, dtype="int64")}
            )

    out = images.select("image_id", ts_col, "bytes", "fmt").mapInPandas(
        fn, schema=f"image_id string, {ts_col} timestamp, dhash long"
    )
    if out.isStreaming:
        out = out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["dhash"]
        )
    else:
        out = out.dropDuplicates(["dhash"])
    return out


def stream_tile_assign(images: DataFrame, polys_df: DataFrame, res: int = 6) -> DataFrame:
    """Streaming form of the flagship spatial join: image stream -> phash
    decode -> cell id -> stream-static broadcast join against the polygon
    shard table -> exact PIP refine (the same JVM filter as batch).
    Stateless, so it scales with the stream rate; aggregation is left to the
    caller so the join itself stays append-mode.

    Returns per-row (image_id, poly_id, tile)."""
    from ..operators.spatial_join import point_in_polygon_join

    pts = images.select(
        "image_id",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    joined = point_in_polygon_join(pts, polys_df, res=res)
    return joined.withColumn(
        "tile", cells.cell_id(F.col("lon"), F.col("lat"), 9)
    ).select("image_id", "poly_id", "tile")


def interval_join_purchase_views(
    purchases: DataFrame,
    views: DataFrame,
    lookback_s: int = 3600,
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream interval join: every (purchase, view) pair of the same
    user with ``purchase.ts - lookback <= view.ts <= purchase.ts`` — the
    streaming sibling of operators/asof.asof_join (a stream can emit ALL
    in-window pairs in append mode; the top-1 as-of reduction would need a
    second stateful stage, so batch owns that contract).

    Both sides carry watermarks, and the join condition bounds event time
    in BOTH directions, so Spark can expire join state: each side buffers
    at most watermark + lookback of data regardless of stream length.  On
    batch inputs the same plan is a plain condition join — the test oracle
    (stream(availableNow) == batch) and the driver query both reuse it."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col(ts_col).alias("p_ts"),
    )
    v = views.select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user_id"),
        F.col(ts_col).alias("v_ts"),
        F.col("value").alias("view_value"),
    )
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    if v.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback_s} SECONDS"))
    )
    return p.join(v, cond).select(
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("p_ts").cast("timestamp")).alias("purchase_us"),
        "view_id",
        F.unix_micros(F.col("v_ts").cast("timestamp")).alias("view_us"),
        "view_value",
    )


def running_user_stats(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_col: str = "value",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-key running
    (n, sum, max) maintained across micro-batches, one updated row emitted
    per key per batch.

    ``state_timeout_ms``: processing-time eviction for unbounded key spaces
    (long-running clusters). Default None = NoTimeout, which lets
    availableNow catch-up runs terminate deterministically — with a
    processing-time timeout Spark keeps scheduling timeout-handling batches.

    On batch input this degrades to a plain groupBy aggregate (the test
    oracle): streaming catch-up == batch on the same data."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} long, n long, v_sum double, v_max double"

    if not events.isStreaming:
        return events.groupBy(key_col).agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("v_sum"),
            F.max(value_col).alias("v_max"),
        )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col]
            n += int(len(vals))
            s += float(vals.sum())
            m = max(m, float(vals.max()))
        state.update((n, s, m))
        if state_timeout_ms is not None:
            state.setTimeoutDuration(state_timeout_ms)
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "v_sum": [s], "v_max": [m]})

    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType="n long, v_sum double, v_max double",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if state_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_to_memory(stream_df: DataFrame, name: str, mode: str | None = None) -> DataFrame:
    """Drain an availableNow stream into an in-memory table; returns the
    result as a batch DataFrame (test/debug utility)."""
    if mode is None:
        mode = "append" if not _has_aggregation(stream_df) else "complete"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()  # straggler guard (e.g. timeout-handling batches)
    return stream_df.sparkSession.table(name)


def _has_aggregation(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().logical().toString()
    return "Aggregate" in plan


def windowed_cell_counts(
    events: DataFrame,
    res: int = 5,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """SPATIO-TEMPORAL rollup: tumbling-window point counts per grid cell
    — the live heatmap / hot-cell monitor over a location-event stream,
    fusing the engine's cell index (pure column math, E1) with watermarked
    event-time windows. Late data within ``watermark`` lands in its
    correct (window, cell) bucket; identical plan on batch input (the test
    oracle and the driver query)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(ts_col, window).alias("win"),
            cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("cell_id"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cell_id",
            "n",
        )
    )


def windowed_heatmap(
    events: DataFrame,
    res: int = 2,
    tile_px: int = 8,
    window: str = "6 hours",
    watermark: str = "12 hours",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """STREAMING RASTERIZATION — the live-heatmap form of
    operators/rasterize: per event-time tumbling window, per (tile,
    pixel), the exact point count. Shares rasterize.pixel_columns, so
    a window of the stream bins identically to a batch rasterize of the
    same slice (pinned by the stream==batch test); late data within
    ``watermark`` lands in its correct (window, pixel) bucket.

    Scale: identical to the batch op — the pixel algebra is codegen
    column math and the single windowed groupBy is map-side combinable
    with watermark-bounded state (open windows x non-empty pixels, a
    vanishing fraction of the pixel universe)."""
    from ..operators.rasterize import pixel_columns

    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    tx, ty, px, py = pixel_columns(
        F.col(lon_col), F.col(lat_col), res, tile_px
    )
    return (
        df.groupBy(
            F.window(ts_col, window).alias("win"),
            tx.alias("tile_x"),
            ty.alias("tile_y"),
            px.alias("px"),
            py.alias("py"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "tile_x", "tile_y", "px", "py", "cnt",
        )
    )


def cusum_alarms(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    target: int,
    h: int,
) -> DataFrame:
    """(series, ts, stat) — one-sided upward CUSUM change-point alarms
    (Page 1954): with S_t the prefix sum of (value - target), the test
    statistic is G_t = S_t - min_{s<=t} S_s and rows where G_t >= h are
    alarms. The drift detector behind pipeline monitoring (a data
    source's quality score creeping up/down) and sensor-break detection
    — catches slow drifts a fixed threshold never fires on.

    The recursive textbook form G_t = max(0, G_{t-1} + x_t - target) is
    exactly this running-min formulation, but the latter is pure
    windows: one running sum + one running min per series — no UDF, no
    recursion, exact int64 in both engines (the ``value`` contract is
    integer; quantize floats upstream).

    Scale: both windows partition by series — parallel; output is alarm
    rows only. Ties in ts break by value for a total order."""
    w = (
        Window.partitionBy("_s")
        .orderBy("_ts", "_v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = df.select(
        F.col(series_col).alias("_s"),
        F.col(ts_col).alias("_ts"),
        F.col(value_col).cast("long").alias("_v"),
    )
    ssum = F.sum(F.col("_v") - F.lit(int(target))).over(w)
    # note: Spark resolves column names case-insensitively — never pair
    # "_s" with "_S" in one frame
    cur = base.withColumn("_psum", ssum).withColumn(
        "_G", F.col("_psum") - F.least(F.min("_psum").over(w), F.lit(0))
    )
    return cur.filter(F.col("_G") >= F.lit(int(h))).select(
        F.col("_s").alias(series_col),
        F.col("_ts").alias(ts_col),
        F.col("_G").cast("long").alias("stat"),
    )


def cusum_alarms_sql(
    rows_cte: str,
    series_col: str,
    ts_col: str,
    value_col: str,
    target: int,
    h: int,
) -> str:
    """DuckDB twin — identical windows, identical integer arithmetic."""
    return f"""
WITH cu_raw AS ({rows_cte}),
cu AS (
  SELECT {series_col} AS _s, {ts_col} AS _ts,
         CAST({value_col} AS BIGINT) AS _v
  FROM cu_raw
),
ps AS (
  SELECT _s, _ts, _v,
         sum(_v - {int(target)}) OVER w AS s_t
  FROM cu
  WINDOW w AS (PARTITION BY _s ORDER BY _ts, _v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
st AS (
  SELECT _s, _ts, s_t,
         least(min(s_t) OVER w, 0) AS m_t
  FROM ps
  WINDOW w AS (PARTITION BY _s ORDER BY _ts, _v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT _s AS {series_col}, _ts AS {ts_col},
       CAST(s_t - m_t AS BIGINT) AS stat
FROM st WHERE s_t - m_t >= {int(h)}
"""


def streaming_cusum(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    target: int,
    h: int,
) -> DataFrame:
    """LIVE DRIFT ALARMS — the streaming form of
    ``cusum_alarms``: per series, maintain Page's statistic
    G = max(0, G + value - target) across micro-batches (state = one
    int64) and emit (series, ts, stat) whenever G >= h. Stream output
    == the batch operator on the same history (the parity test's
    contract); requires per-series event-time order across batches,
    like every transition detector here.

    The per-batch walk is vectorized via the carry identity

        G_t = max(0, S_t - min(-G_in, min_{j<t} S_j)),  S = cumsum(x)

    — one cumsum + one running min per (series, batch), no per-row
    Python. State is a single int64: bounded, timeout-free, so
    availableNow catch-up terminates.

    Scale: state per key is 8 bytes; the shuffle is the groupBy(series)
    all stateful operators pay. On batch input it delegates to the
    fully relational window form."""
    if not df.isStreaming:
        return cusum_alarms(df, series_col, ts_col, value_col, target, h)

    import numpy as np
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{series_col} long, {ts_col} long, stat long"

    def update(key, pdfs, state: GroupState):
        g = int(state.get[0]) if state.exists else 0
        frames = []
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values([ts_col, value_col])
            x = pdf[value_col].to_numpy(dtype=np.int64) - int(target)
            S = np.cumsum(x)
            pmin = np.minimum.accumulate(
                np.concatenate([np.array([-g], dtype=np.int64), S])
            )[:-1]
            G = np.maximum(0, S - pmin)
            hit = G >= int(h)
            if hit.any():
                frames.append(
                    pd.DataFrame(
                        {
                            series_col: np.full(int(hit.sum()), int(key[0]), dtype=np.int64),
                            ts_col: pdf[ts_col].to_numpy(dtype=np.int64)[hit],
                            "stat": G[hit],
                        }
                    )
                )
            g = int(G[-1])
        state.update((g,))
        yield frames[0] if len(frames) == 1 else (
            pd.concat(frames) if frames
            else pd.DataFrame({series_col: [], ts_col: [], "stat": []})
        )

    return (
        df.select(series_col, ts_col, value_col)
        .groupBy(series_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType="g long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def windowed_key_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window key counts (win_start, win_end, key, n) — the
    shared first stage of windowed heavy-hitter monitoring; identical
    plan on batch and (watermarked) streaming input, so stream ==
    batch on the same data."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(
            F.window(ts_col, window).alias("win"),
            F.col(key_col).alias("key"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "key",
            "n",
        )
    )


def topk_finish(counts: DataFrame, k: int = 3) -> DataFrame:
    """Rank the windowed counts: top-``k`` keys per window by
    (n DESC, key ASC) — exact integer ordering, deterministic ties."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("win_start", "win_end").orderBy(
        F.col("n").desc(), F.col("key").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
    )


def windowed_topk(
    events: DataFrame,
    k: int = 3,
    window: str = "1 hour",
    watermark: str = "2 hours",
    key_col: str = "key",
    ts_col: str = "ts",
) -> DataFrame:
    """WINDOWED HEAVY HITTERS — top-``k`` keys per tumbling event-time
    window (the live trending-terms / hot-topics monitor).  On batch
    input the full rank is computed; on streaming input the windowed
    counts are returned (streaming allows one aggregation — the
    standard shape is counts in the stream, ranking in the sink via
    ``topk_finish``, e.g. inside foreachBatch), and the stream==batch
    equivalence of counts + finish is pinned in tests.

    Scale: the counts stage is a combinable watermarked rollup — state
    = live windows × distinct keys; the finish ranks within each
    window (window count is bounded by retention). Approximate-k
    (cms_topk) is the sibling when distinct keys explode."""
    counts = windowed_key_counts(
        events, window=window, watermark=watermark,
        key_col=key_col, ts_col=ts_col,
    )
    if events.isStreaming:
        return counts
    return topk_finish(counts, k=k)
