"""Trajectory mining over location-event streams — stay points and
origin-destination flows.

The reference stops at geometry conversion; its users mine movement data
downstream. These operators are deliberately FULLY window-function shaped
(no kernels, no state): at 10^12 pings the entire pipeline is one shuffle
keyed by the moving entity plus ordered windows, which Spark executes as a
single sort per partition — the textbook sequential stay-point walk
(Li et al. 2008) re-expressed so Catalyst can run it.

Semantics (grid-based stays): a STAY is a maximal run of consecutive pings
(per entity, time order) inside one cell at resolution ``res`` whose
duration reaches ``min_duration_s``. Cell-run semantics make every decision
integer/timestamp-exact — no haversine thresholds — so the DuckDB oracle
replays it verbatim with the same lag/lead algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import cells


def stay_points(
    pings: DataFrame,
    res: int = 6,
    min_duration_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(user, stay_seq, cell_id, n_pings, t_start, t_end, dur_s) — one row
    per qualifying stay, in visit order per user.

    Plan: cell id (column math) -> run-length encoding via the classic
    lag-mismatch cumulative sum (ONE ordered window per user) -> per-run
    rollup -> duration gate -> visit re-sequencing. Two logical windows,
    one physical sort."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    cid = cells.cell_id(F.col(lon_col), F.col(lat_col), res)
    runs = (
        pings.select(F.col(user_col), F.col(ts_col), cid.alias("cell_id"))
        .withColumn(
            "_new",
            F.when(
                F.lag("cell_id").over(w).isNull()
                | (F.lag("cell_id").over(w) != F.col("cell_id")),
                1,
            ).otherwise(0),
        )
        .withColumn("_run", F.sum("_new").over(w))
    )
    stays = (
        runs.groupBy(user_col, "_run", "cell_id")
        .agg(
            F.count(F.lit(1)).alias("n_pings"),
            F.min(ts_col).alias("t_start"),
            F.max(ts_col).alias("t_end"),
        )
        .withColumn(
            "dur_s",
            (F.unix_timestamp("t_end") - F.unix_timestamp("t_start")).cast("long"),
        )
        .filter(F.col("dur_s") >= min_duration_s)
    )
    seq = Window.partitionBy(user_col).orderBy("t_start")
    return stays.select(
        F.col(user_col),
        F.row_number().over(seq).alias("stay_seq"),
        "cell_id",
        F.col("n_pings").cast("long").alias("n_pings"),
        "t_start",
        "t_end",
        "dur_s",
    )


def od_flows(
    stays: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """(from_cell, to_cell, n_trips) — the origin-destination matrix:
    consecutive stays per user become directed trips, aggregated over all
    users. One lead() over the stay sequence + one combiner-friendly
    rollup; self-loops (consecutive stays in the same cell can occur when
    a qualifying stay is interrupted by sub-threshold wandering) are kept
    — they are real revisits."""
    w = Window.partitionBy(user_col).orderBy("stay_seq")
    trips = stays.select(
        F.col("cell_id").alias("from_cell"),
        F.lead("cell_id").over(w).alias("to_cell"),
    ).filter(F.col("to_cell").isNotNull())
    return trips.groupBy("from_cell", "to_cell").agg(
        F.count(F.lit(1)).alias("n_trips")
    )


def trips(
    stays: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """TRIP CHAINING — one row per trip between consecutive stays of an
    entity: (user, trip_seq, from_cell, to_cell, depart_ts, arrive_ts,
    travel_s, dist_m), the od_flows rows BEFORE aggregation, enriched
    with the timing and straight-line (haversine, cell-center) distance
    every travel-time / mode-inference pipeline starts from. Depart =
    end of the earlier stay, arrive = start of the later one; zero-
    displacement revisits (same cell after sub-threshold wandering) are
    kept with dist_m = 0 — they are real trips in time.

    One lead() window over the stay sequence (stays are already tiny
    relative to pings) + pure column math; travel_s is exact epoch-second
    integers, dist_m the same IEEE haversine as the SQL twin applied to
    cell centers (deterministic, no ping-level floats)."""
    from .knn import haversine_col

    w = Window.partitionBy(user_col).orderBy("stay_seq")
    t = (
        stays.select(
            F.col(user_col),
            "stay_seq",
            "cell_id",
            "t_start",
            "t_end",
        )
        .withColumn("_to_cell", F.lead("cell_id").over(w))
        .withColumn("_arrive", F.lead("t_start").over(w))
        .filter(F.col("_to_cell").isNotNull())
    )

    def center(cell):
        x, y = cells.cell_xy(cell)
        res = cells.cell_res(cell)
        n = F.pow(F.lit(2.0), res.cast("double"))
        return (
            (x.cast("double") + F.lit(0.5)) / n * F.lit(360.0) - F.lit(180.0),
            (y.cast("double") + F.lit(0.5)) / n * F.lit(180.0) - F.lit(90.0),
        )

    flon, flat = center(F.col("cell_id"))
    tlon, tlat = center(F.col("_to_cell"))
    return t.select(
        F.col(user_col),
        F.col("stay_seq").cast("long").alias("trip_seq"),
        F.col("cell_id").alias("from_cell"),
        F.col("_to_cell").alias("to_cell"),
        F.col("t_end").alias("depart_ts"),
        F.col("_arrive").alias("arrive_ts"),
        (
            F.unix_timestamp(F.col("_arrive")) - F.unix_timestamp(F.col("t_end"))
        )
        .cast("long")
        .alias("travel_s"),
        haversine_col(flon, flat, tlon, tlat).alias("dist_m"),
    )


def mobility_features(
    stays: DataFrame,
    user_col: str = "user_id",
) -> DataFrame:
    """Per-entity mobility summary over detected stays — the standard
    human-mobility features (Gonzalez et al. 2008): visit counts, distinct
    locations, and the RADIUS OF GYRATION in cell units.

    Exact-integer core: with n stays at cell indices (x_i, y_i) and
    S_x = sum x, Q_x = sum x^2 (ditto y),

        gyr_num = n*Q_x - S_x^2 + n*Q_y - S_y^2   (exact int64)
        rog     = sqrt(gyr_num) / n               (cell units)

    so the only float is one sqrt + one divide per user, identically
    ordered in the SQL twin. One combiner-friendly rollup keyed by the
    entity — no windows, no geometry."""
    cx, cy = cells.cell_xy(F.col("cell_id"))
    base = stays.select(F.col(user_col), cx.alias("x"), cy.alias("y"), "cell_id")
    agg = base.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_stays"),
        F.countDistinct("cell_id").alias("n_cells"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("qx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("qy"),
    )
    num = (
        F.col("n_stays") * F.col("qx")
        - F.col("sx") * F.col("sx")
        + F.col("n_stays") * F.col("qy")
        - F.col("sy") * F.col("sy")
    )
    return agg.select(
        user_col,
        F.col("n_stays").cast("long").alias("n_stays"),
        F.col("n_cells").cast("long").alias("n_cells"),
        num.cast("long").alias("gyr_num"),
        F.round(
            F.sqrt(num.cast("double")) / F.col("n_stays").cast("double"), 6
        ).alias("rog_cells"),
    )


def resample_tracks(
    pings: DataFrame,
    interval_s: float,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """TRACK RESAMPLING — linear interpolation of each entity's trajectory
    onto the global epoch-aligned tick grid (one sample every
    ``interval_s`` seconds), the standard pre-processing step before
    map-matching, OD analysis, or co-location joins need time-aligned
    positions.

    Semantics: for each consecutive ping pair (t0, t1) per entity (time
    order), emit every grid tick k*dt with t0 <= k*dt < t1, positioned by
    exact linear interpolation; a tick landing exactly on a ping reports
    that ping's position (frac = 0). The [t0, t1) half-open convention
    makes every tick belong to exactly one segment, so no sample is ever
    emitted twice. Gaps longer than the interval naturally yield multiple
    ticks (position interpolated across the gap — cap segment length
    upstream if dead-reckoning across long gaps is unwanted); the last
    ping of a track emits nothing (no bracketing segment).

    Exactness: tick indices come from integer-microsecond ceil-division
    (``div`` — never float), and the interpolation fraction divides two
    exact int64 microsecond differences, so both engines run the identical
    IEEE sequence and the output hashes equal.

    Returns (user, tick, ts, lon, lat) with ``tick`` the global grid
    index and ``ts`` = tick * interval as a timestamp.

    Scale: ONE window (the same per-entity sort every trajectory op here
    shares) + an explode whose fan-out is gap/interval — output-bounded.
    No joins; the plan is sort -> project -> generate, scan-shaped per
    entity partition."""
    dt_us = int(round(interval_s * 1_000_000))
    w = Window.partitionBy(user_col).orderBy("_t")
    seg = (
        pings.select(
            F.col(user_col),
            # NTZ inputs cast through TIMESTAMP (identity under the UTC
            # session the engine standardizes on)
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
            F.col(lon_col).alias("_lon"),
            F.col(lat_col).alias("_lat"),
        )
        .withColumn("_t1", F.lead("_t").over(w))
        .withColumn("_lon1", F.lead("_lon").over(w))
        .withColumn("_lat1", F.lead("_lat").over(w))
        .filter(F.col("_t1").isNotNull())
    )
    # ceil(t/dt) on exact integers; [t0, t1) => k in [ceil(t0/dt), ceil(t1/dt))
    k0 = F.expr(f"(_t + {dt_us - 1}) div {dt_us}")
    k1 = F.expr(f"(_t1 + {dt_us - 1}) div {dt_us}")
    ticks = (
        seg.withColumn("_k0", k0)
        .withColumn("_k1", k1)
        .filter(F.col("_k1") > F.col("_k0"))
        .withColumn("tick", F.explode(F.sequence(F.col("_k0"), F.col("_k1") - 1)))
    )
    frac = (F.col("tick") * F.lit(dt_us) - F.col("_t")).cast("double") / (
        F.col("_t1") - F.col("_t")
    ).cast("double")
    return ticks.select(
        F.col(user_col),
        F.col("tick").cast("long").alias("tick"),
        F.timestamp_micros(F.col("tick") * F.lit(dt_us)).alias(ts_col),
        (F.col("_lon") + frac * (F.col("_lon1") - F.col("_lon"))).alias(lon_col),
        (F.col("_lat") + frac * (F.col("_lat1") - F.col("_lat"))).alias(lat_col),
    )


def cell_transitions(
    pings: DataFrame,
    res: int = 6,
    collapse_runs: bool = True,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """CELL TRANSITION MATRIX — (from_cell, to_cell, n) counts of
    consecutive-ping cell movements aggregated over all entities: the
    Markov mobility model / next-location-prediction training target,
    computed at PING level (od_flows is its stay-gated sibling).

    ``collapse_runs=True`` (default) collapses same-cell runs first, so
    a parked entity pinging all night contributes ONE transition when it
    finally moves (self-loops disappear by construction); False counts
    every consecutive pair including self-loops (the dwell-weighted
    matrix). Both are exact integer counts over a deterministic
    (ts, lon, lat) ordering.

    Scale: the shared per-entity sort, a lag projection, one combinable
    rollup keyed by (from, to) — |cells|^2-bounded output."""
    w = Window.partitionBy(user_col).orderBy(ts_col, lon_col, lat_col)
    seq = pings.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(lon_col),
        F.col(lat_col),
        cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("cell_id"),
    )
    if collapse_runs:
        seq = seq.withColumn("_prev", F.lag("cell_id").over(w)).filter(
            F.col("_prev").isNull() | (F.col("_prev") != F.col("cell_id"))
        )
        w2 = Window.partitionBy(user_col).orderBy(ts_col, lon_col, lat_col)
        trans = seq.select(
            F.col("cell_id").alias("from_cell"),
            F.lead("cell_id").over(w2).alias("to_cell"),
        )
    else:
        trans = seq.select(
            F.col("cell_id").alias("from_cell"),
            F.lead("cell_id").over(w).alias("to_cell"),
        )
    return (
        trans.filter(F.col("to_cell").isNotNull())
        .groupBy("from_cell", "to_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def track_speed(
    pings: DataFrame,
    vmax_ms: float,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """TRACK SPEED + GPS-GLITCH FLAGGING — annotate every ping with the
    implied speed from its predecessor (haversine meters / elapsed
    seconds) and flag physically impossible jumps (speed > ``vmax_ms`` —
    teleporting fixes, the standard pre-filter before any stay/OD/match
    analytics). The first ping of a track has no inbound segment:
    speed_ms is NULL and it is never flagged.

    Returns (user, ts, lon, lat, dt_us, dist_m, speed_ms, is_glitch).
    dt_us is exact int64; dist/speed are doubles computed by the same
    IEEE sequence in the SQL twin. Pings are ordered by (ts, lon, lat)
    within the entity so duplicate timestamps still order
    deterministically (speed against an equal-ts predecessor is NULL —
    dt 0 cannot divide).

    Scale: rides the ONE per-entity sort the whole trajectory family
    shares; everything else is a projection. No joins, no explode."""
    from .knn import haversine_col

    w = Window.partitionBy(user_col).orderBy("_t", lon_col, lat_col)
    seg = (
        pings.select(
            F.col(user_col),
            F.col(ts_col),
            F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_t"),
            F.col(lon_col),
            F.col(lat_col),
        )
        .withColumn("_t0", F.lag("_t").over(w))
        .withColumn("_lon0", F.lag(lon_col).over(w))
        .withColumn("_lat0", F.lag(lat_col).over(w))
    )
    dt = F.col("_t") - F.col("_t0")
    dist = haversine_col(
        F.col("_lon0"), F.col("_lat0"), F.col(lon_col), F.col(lat_col)
    )
    speed = F.when(
        F.col("_t0").isNotNull() & (dt > 0),
        dist / (dt.cast("double") / F.lit(1_000_000.0)),
    )
    return seg.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(lon_col),
        F.col(lat_col),
        dt.alias("dt_us"),
        F.when(F.col("_t0").isNotNull(), dist).alias("dist_m"),
        speed.alias("speed_ms"),
        F.coalesce(speed > F.lit(float(vmax_ms)), F.lit(False)).alias(
            "is_glitch"
        ),
    )


def geofence_visits(
    pings: DataFrame,
    fences: DataFrame,
    res: int = 6,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """GEOFENCE ENTER/EXIT DETECTION — one row per VISIT: a maximal run of
    consecutive pings (per entity, time order over the entity's FULL ping
    stream) inside one fence. The fleet-telematics / exposure-alerting
    primitive ("when did vehicle V enter depot D, when did it leave").

    ``fences``: (fence_id, x0, y0, x1, y1) axis-aligned boxes with
    x0 <= x1 (split antimeridian fences upstream); containment is closed
    (boundary pings count — both engines compare identical doubles).
    Returns (user, fence_id, visit_seq, enter_ts, exit_ts, n_pings,
    dur_s): enter = first inside ping of the run, exit = last inside ping
    (a track ending inside still closes its visit — deterministic), and
    leaving-and-returning yields separate visit_seq rows.

    Plan shape: ONE per-entity sort assigns a global ping sequence number
    BEFORE any fence logic (so "consecutive" ignores which fence, and the
    outside pings never travel further); candidates come from a (cell ->
    fence) broadcast built by exploding each fence's covering cells at
    ``res`` — never a pings x fences nested loop — with the exact bbox
    gate applied after the equi-join. Runs then fall out of the classic
    gaps-and-islands trick (seq - row_number), one window over INSIDE
    rows only + a combinable rollup.

    Scale: at 10^12 pings the expensive stage is the per-entity sort the
    whole trajectory family already shares; the fence join moves only
    pings whose cell intersects some fence, and the (cell, fence)
    broadcast is |covering| * |fences| rows — pick ``res`` so that stays
    small (coarse cells; the exact gate does the precision)."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    seq_pings = pings.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
        cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("_cell"),
    ).withColumn("_seq", F.row_number().over(w))
    fence_cells = fences.select(
        "fence_id", "x0", "y0", "x1", "y1",
        F.explode(
            cells.covering_cells(
                F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), res
            )
        ).alias("_cell"),
    )
    inside = (
        seq_pings.join(F.broadcast(fence_cells), "_cell")
        .filter(
            (F.col("_lon") >= F.col("x0"))
            & (F.col("_lon") <= F.col("x1"))
            & (F.col("_lat") >= F.col("y0"))
            & (F.col("_lat") <= F.col("y1"))
        )
        .select(user_col, "fence_id", "_seq", ts_col)
    )
    wf = Window.partitionBy(user_col, "fence_id").orderBy("_seq")
    runs = inside.withColumn("_grp", F.col("_seq") - F.row_number().over(wf))
    visits = runs.groupBy(user_col, "fence_id", "_grp").agg(
        F.min(ts_col).alias("enter_ts"),
        F.max(ts_col).alias("exit_ts"),
        F.count(F.lit(1)).cast("long").alias("n_pings"),
    )
    ws = Window.partitionBy(user_col, "fence_id").orderBy("enter_ts")
    return visits.select(
        F.col(user_col),
        "fence_id",
        F.row_number().over(ws).cast("long").alias("visit_seq"),
        "enter_ts",
        "exit_ts",
        "n_pings",
        (F.unix_timestamp("exit_ts") - F.unix_timestamp("enter_ts"))
        .cast("long")
        .alias("dur_s"),
    )


def colocation_pairs(
    pings: DataFrame,
    interval_s: float,
    res: int = 8,
    min_ticks: int = 1,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    resampled: DataFrame | None = None,
) -> DataFrame:
    """CO-LOCATION JOIN — pairs of distinct entities that were in the same
    cell at the same time, with how often: the co-traveler / contact-
    tracing primitive (same shape as Google's COVID exposure joins).

    "Same time" is made well-defined by resampling both trajectories onto
    the shared epoch tick grid first (``resample_tracks``): after that,
    (entity, tick) is unique — each tick belongs to exactly one half-open
    segment — so co-location is a pure (tick, cell) self equi-join and
    n_ticks is an exact count no matter how pings were sampled. Returns
    (user_a, user_b, n_ticks) with user_a < user_b, n_ticks >=
    ``min_ticks``.

    Scale: the join key (tick, cell) bounds candidates by instantaneous
    cell occupancy — never all-pairs over a user's history. Hot keys are
    physical crowds (a stadium at one tick); those cells are exactly the
    plans/skew salting case, and raising ``res`` shrinks them
    quadratically. The rollup is map-side combinable."""
    from . import cells as _cells

    # callers that already resampled (e.g. to feed dtw_distances too) pass
    # the tick grid in and skip the second per-entity sort
    base = resampled if resampled is not None else resample_tracks(
        pings, interval_s, user_col=user_col, ts_col=ts_col,
        lon_col=lon_col, lat_col=lat_col,
    )
    sampled = base.select(
        F.col(user_col),
        "tick",
        _cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("cell_id"),
    )
    a = sampled.select(
        F.col(user_col).alias("user_a"), "tick", "cell_id"
    )
    b = sampled.select(
        F.col(user_col).alias("user_b"), "tick", "cell_id"
    )
    return (
        a.join(b, ["tick", "cell_id"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ticks"))
        .filter(F.col("n_ticks") >= min_ticks)
    )


def dtw_distances(
    tracks: DataFrame,
    pairs: DataFrame,
    user_col: str = "user_id",
    tick_col: str = "tick",
    lon_col: str = "lon",
    lat_col: str = "lat",
    metric: str = "dtw",
) -> DataFrame:
    """DTW TRAJECTORY SIMILARITY — dynamic-time-warping distance (haversine
    step cost, classic O(n*m) DP) for each CANDIDATE pair of entities:
    the similarity stage behind trajectory clustering / co-movement
    verification. DTW is inherently sequential per pair (like NMS), so it
    runs as a grouped applyInPandas kernel over (pair) groups; there is
    deliberately NO all-pairs mode — feed candidate pairs from
    colocation_pairs / knn_graph so the quadratic term stays per-pair,
    never corpus-wide. ``metric="frechet"`` runs the same wavefront with
    max-composition instead of sum — the discrete Frechet distance
    (bottleneck cost of the best coupling), the other standard curve
    metric; column name stays ``dtw_m``.

    ``tracks``: (user, tick, lon, lat) — resample first
    (resample_tracks) so sequences are comparable; ``pairs``:
    (user_a, user_b). Returns (user_a, user_b, dtw_m, n_a, n_b); pairs
    where either side has no track rows are absent.

    Scale: two track-side equi-joins (each rides the entity key) + ONE
    shuffle on the pair key; each group's memory is O(n*m) for its own
    pair only. Long tracks: cap/resample upstream (the DP is exact, not
    windowed).

    Track-length envelope: the n*m haversine cost matrix takes its
    arcsine from glibc ``math.asin``, one Python call per cell through
    ``np.frompyfunc`` (``np.arcsin`` differs in the last ulp and would
    break bit parity with the DuckDB twin). That costs about 0.2 us per
    cell, roughly 100x ``np.arcsin``, plus a transient object array (a
    pointer and a Python float, 32 bytes, per cell). Measured on a 4-core
    x86 VM: 2 ms per pair at 116x116 ticks, 0.17 s at 1000x1000, 0.7 s at
    2000x2000 (where that array alone is 128 MB). Keep n*m per pair at or
    below ~10^6 (about 1000 ticks a side)."""
    import numpy as np
    import pandas as pd

    from .knn import EARTH_RADIUS_M

    t = tracks.select(
        F.col(user_col).alias("_u"),
        F.col(tick_col).alias("_k"),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
    )
    pa = pairs.join(t, t["_u"] == pairs["user_a"]).select(
        "user_a", "user_b", F.lit("a").alias("_side"), "_k", "_lon", "_lat"
    )
    pb = pairs.join(t, t["_u"] == pairs["user_b"]).select(
        "user_a", "user_b", F.lit("b").alias("_side"), "_k", "_lon", "_lat"
    )
    both = pa.unionByName(pb)

    def dtw(key, pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        # built per group (a module-level ufunc would not pickle)
        asin_glibc = np.frompyfunc(math.asin, 1, 1)
        a = pdf[pdf["_side"] == "a"].sort_values("_k")
        b = pdf[pdf["_side"] == "b"].sort_values("_k")
        n, m = len(a), len(b)
        if n == 0 or m == 0:
            return pd.DataFrame(
                columns=["user_a", "user_b", "dtw_m", "n_a", "n_b"]
            )
        la1 = np.radians(a["_lat"].to_numpy())[:, None]
        la2 = np.radians(b["_lat"].to_numpy())[None, :]
        lo1 = np.radians(a["_lon"].to_numpy())[:, None]
        lo2 = np.radians(b["_lon"].to_numpy())[None, :]
        h = (
            np.sin((la2 - la1) / 2) ** 2
            + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
        )
        # glibc asin (math.asin), NOT np.arcsin: numpy's arcsin differs
        # from the C library in the last ulp, and the DuckDB value twin
        # replays this exact DP — sin/cos/sqrt are bit-identical across
        # numpy/DuckDB (all glibc) but arcsin is numpy's own kernel
        cost = (2.0 * EARTH_RADIUS_M) * asin_glibc(
            np.sqrt(np.minimum(1.0, h))
        ).astype(np.float64)
        # anti-diagonal wavefront DP: every cell still computes
        # cost + min(up, left, diag) — identical arithmetic to the naive
        # row scan (min of the same three floats, one add) but each
        # diagonal is ONE vectorized numpy step instead of a Python cell
        # loop (~50x on 100x100 tracks)
        frechet = metric == "frechet"
        INF = np.inf
        prev2 = np.full(n, INF)  # diagonal d-2, indexed by i
        prev = np.full(n, INF)   # diagonal d-1
        prev[0] = cost[0, 0] if m > 0 else INF  # d = 0 is the single (0,0)
        last = prev[0]
        for d in range(1, n + m - 1):
            lo = max(0, d - m + 1)
            hi = min(n - 1, d)
            cur = np.full(n, INF)
            i_idx = np.arange(lo, hi + 1)
            c = cost[i_idx, d - i_idx]
            up = np.full(len(i_idx), INF)      # D[i-1, j]   (prev, i-1)
            left = np.full(len(i_idx), INF)    # D[i, j-1]   (prev, i)
            diag = np.full(len(i_idx), INF)    # D[i-1, j-1] (prev2, i-1)
            mask = i_idx > 0
            up[mask] = prev[i_idx[mask] - 1]
            jmask = (d - i_idx) > 0
            left[jmask] = prev[i_idx[jmask]]
            dmask = mask & jmask
            diag[dmask] = prev2[i_idx[dmask] - 1]
            best = np.minimum(np.minimum(up, left), diag)
            # (i, 0) with i == d handled via up; (0, j) via left; the
            # origin cell (0,0) seeds prev at d=0 and is never recomputed
            # (border cells see INF from the missing predecessors, and
            # max(c, INF) would poison them — treat INF best as "no
            # predecessor", i.e. the origin-adjacent walk)
            if frechet:
                cur[lo : hi + 1] = np.where(
                    np.isinf(best), c, np.maximum(c, best)
                )
            else:
                cur[lo : hi + 1] = c + best
            prev2, prev = prev, cur
            if hi == n - 1 and d - (n - 1) == m - 1:
                last = cur[n - 1]
        if n == 1 and m == 1:
            last = cost[0, 0]
        return pd.DataFrame(
            {
                "user_a": [key[0]],
                "user_b": [key[1]],
                "dtw_m": [float(last)],
                "n_a": [n],
                "n_b": [m],
            }
        )

    return both.groupBy("user_a", "user_b").applyInPandas(
        dtw,
        schema="user_a long, user_b long, dtw_m double, n_a long, n_b long",
    )


def convoy_episodes(
    pings: DataFrame,
    interval_s: float,
    res: int = 8,
    min_len: int = 2,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    resampled: DataFrame | None = None,
) -> DataFrame:
    """CONVOY DETECTION — maximal episodes of two entities traveling
    TOGETHER: co-located (same cell) for at least ``min_len`` CONSECUTIVE
    ticks of the shared resample grid. This is the classic convoy/flock
    refinement of ``colocation_pairs``: a pair that shares a stadium cell
    at 9am and again at 9pm is a co-location but not a convoy; a pair that
    shares a (possibly different) cell at every tick from 9:00 to 9:30 is.

    Semantics: resample both trajectories onto the global tick grid
    (``resample_tracks`` — after which (entity, tick) is unique), match
    pairs per tick on the res-``res`` cell, then cut the matched tick
    sequence of each pair into maximal runs of consecutive ticks
    (gaps-and-islands: tick - row_number() is constant within a run).
    Consecutive ticks may be DIFFERENT cells — moving together is still a
    convoy; only a missing tick breaks the episode. Returns one row per
    episode: (user_a, user_b, start_tick, end_tick, n_ticks) with
    user_a < user_b and n_ticks >= ``min_len``.

    Exactness: tick indices are integer microsecond ceil-divisions and the
    run key is pure int64 arithmetic — both engines agree bit-for-bit.

    Scale: candidates are bounded by instantaneous cell occupancy exactly
    like ``colocation_pairs`` (never all-pairs over history; crowd cells
    are the plans/skew salting case). The islands pass adds ONE window
    shuffle keyed by (user_a, user_b) — already the pair rollup's key, so
    AQE coalesces the exchange; state per pair is a sort of its matched
    ticks only."""
    base = resampled if resampled is not None else resample_tracks(
        pings, interval_s, user_col=user_col, ts_col=ts_col,
        lon_col=lon_col, lat_col=lat_col,
    )
    sampled = base.select(
        F.col(user_col),
        "tick",
        cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("cell_id"),
    )
    a = sampled.select(F.col(user_col).alias("user_a"), "tick", "cell_id")
    b = sampled.select(F.col(user_col).alias("user_b"), "tick", "cell_id")
    matched = a.join(b, ["tick", "cell_id"]).filter(
        F.col("user_a") < F.col("user_b")
    )
    w = Window.partitionBy("user_a", "user_b").orderBy("tick")
    runs = matched.select(
        "user_a",
        "user_b",
        "tick",
        (F.col("tick") - F.row_number().over(w)).alias("_grp"),
    )
    return (
        runs.groupBy("user_a", "user_b", "_grp")
        .agg(
            F.min("tick").alias("start_tick"),
            F.max("tick").alias("end_tick"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
        .filter(F.col("n_ticks") >= min_len)
        .drop("_grp")
    )


def track_bearing(
    pings: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """HEADING + TURN ANNOTATION — per consecutive ping pair the initial
    great-circle bearing (degrees clockwise from north, [0, 360)) and the
    signed turn angle from the previous leg ((-180, 180]; NULL on each
    track's first leg): the course-over-ground features under turn
    detection, map-matching tie-breaks, and mode inference.

        bearing = atan2(sin dlon * cos lat2,
                        cos lat1 * sin lat2 - sin lat1 * cos lat2 * cos dlon)

    Exactness discipline: the only floats are the trig expression itself
    (identical operation order in the SQL twin — the haversine precedent)
    and the two normalizations, which are CASE-guarded single adds rather
    than fmod/pmod round-trips (a +360/fmod(360) detour is NOT an IEEE
    no-op for positive bearings and would drift an ulp between engines).
    Outputs round to 6 decimals.

    Returns (user, ts, bearing_deg, turn_deg) — one row per ping that has
    a successor.

    Scale: ONE ordered window per entity (the shared trajectory sort);
    lead() for the leg, lag() over the derived bearing in the same
    window. Column math only, no joins, no Python."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    legs = (
        pings.select(F.col(user_col), F.col(ts_col), F.col(lon_col), F.col(lat_col))
        .withColumn("_lon1", F.lead(lon_col).over(w))
        .withColumn("_lat1", F.lead(lat_col).over(w))
        .filter(F.col("_lon1").isNotNull())
    )
    dlon = F.radians(F.col("_lon1") - F.col(lon_col))
    la0, la1 = F.radians(F.col(lat_col)), F.radians(F.col("_lat1"))
    raw = F.degrees(
        F.atan2(
            F.sin(dlon) * F.cos(la1),
            F.cos(la0) * F.sin(la1) - F.sin(la0) * F.cos(la1) * F.cos(dlon),
        )
    )
    bearing = F.when(raw < 0, raw + F.lit(360.0)).otherwise(raw)
    out = legs.withColumn("_b", bearing).withColumn(
        "_pb", F.lag("_b").over(Window.partitionBy(user_col).orderBy(ts_col))
    )
    d = F.col("_b") - F.col("_pb")
    turn = (
        F.when(d > 180, d - F.lit(360.0))
        .when(d <= -180, d + F.lit(360.0))
        .otherwise(d)
    )
    # + 0.0 normalizes a rounded -0.0 to +0.0 (IEEE: -0.0 + 0.0 = +0.0,
    # every other value unchanged) — the assemble.py -0.0 rule
    return out.select(
        F.col(user_col),
        F.col(ts_col),
        (F.round(F.col("_b"), 6) + F.lit(0.0)).alias("bearing_deg"),
        (F.round(turn, 6) + F.lit(0.0)).alias("turn_deg"),
    )


def covisitation(
    stays: DataFrame,
    min_support: int = 2,
    max_cells_per_user: int | None = 64,
    user_col: str = "user_id",
    cell_col: str = "cell_id",
) -> DataFrame:
    """CO-VISITATION MATRIX — pairs of places visited by the same entity,
    scored with pointwise mutual information: the place-association
    primitive under "people who visit A also visit B" recommendations and
    retail catchment analysis.

    Semantics: from the distinct (user, cell) visit set, count for each
    unordered cell pair (a < b) the number of users who visited BOTH
    (``n_ab``), and score

        pmi = ln( N * n_ab / (n_a * n_b) )

    with N = users with any visit and n_a = visitors of a. All counts are
    exact int64; the pmi argument is two exact integer products and one
    divide, then ONE log — identical IEEE order on both engines, rounded
    to 6 decimals. Pairs below ``min_support`` users are dropped.

    Scale: the self-join is keyed by the user, so candidate volume is
    sum_u(v_u^2) with v_u the user's distinct visited cells — bounded by
    ``max_cells_per_user``, which caps each user deterministically (the
    engine's congruential hash ranks the user's cells; same cells win on
    every engine and every partitioning). That cap is the skew story: a
    delivery rider visiting 10^4 cells would otherwise emit 10^8 pairs.
    One shuffle for the distinct, one for the join, combiner-friendly
    rollups after; ``min_support`` gates output only."""
    from .sampling import sample_hash

    visits = stays.select(F.col(user_col), F.col(cell_col)).distinct()
    if max_cells_per_user is not None:
        w = Window.partitionBy(user_col).orderBy(
            sample_hash(F.col(cell_col)), F.col(cell_col)
        )
        visits = (
            visits.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_cells_per_user)
            .drop("_rk")
        )
    visits = visits.localCheckpoint(eager=False)  # three downstream branches
    n_users = visits.select(user_col).distinct().count()
    cell_n = visits.groupBy(cell_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    a = visits.select(F.col(user_col), F.col(cell_col).alias("cell_a"))
    b = visits.select(F.col(user_col), F.col(cell_col).alias("cell_b"))
    pairs = (
        a.join(b, user_col)
        .filter(F.col("cell_a") < F.col("cell_b"))
        .groupBy("cell_a", "cell_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_support)
    )
    na = cell_n.select(F.col(cell_col).alias("cell_a"), F.col("_n").alias("_na"))
    nb = cell_n.select(F.col(cell_col).alias("cell_b"), F.col("_n").alias("_nb"))
    pmi = F.round(
        F.log(
            (F.lit(n_users) * F.col("n_ab")).cast("double")
            / (F.col("_na") * F.col("_nb")).cast("double")
        ),
        6,
    ) + F.lit(0.0)
    return (
        pairs.join(na, "cell_a")
        .join(nb, "cell_b")
        .select("cell_a", "cell_b", "n_ab", pmi.alias("pmi"))
    )


def location_entropy(
    pings: DataFrame,
    res: int = 6,
    user_col: str = "user_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """LOCATION ENTROPY — Shannon entropy of each entity's visit
    distribution over cells (nats): the predictability feature of the
    mobility literature (Song et al. 2010 — low entropy = routine
    commuter, high = erratic), and the standard exploration/exploitation
    split feature.

    With c_i the entity's ping count in cell i and n = sum c_i:

        H = ln(n) - (sum_i c_i * ln(c_i)) / n

    Exactness scheme (the LOF trick): a float SUM over cells would be
    partition-order-dependent, so each term is quantized FIRST —
    t_i = round(c_i * ln(c_i) * 1e6) as int64 — and the sum of exact
    integers is order-free; both engines then run the identical final
    three float ops (ln, divide, subtract). ``s_q`` (the quantized sum)
    is the exact, hash-stable core; ``entropy`` = round 6 of the float
    assembly, accurate to ~1e-6 nats of the true value.

    Returns (user, n_pings, n_cells, s_q, entropy).

    Scale: two combiner-friendly rollups ((user, cell) then user) — the
    cell_histogram shape keyed by entity; no windows, no Python."""
    counts = (
        pings.select(
            F.col(user_col),
            cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("_cell"),
        )
        .groupBy(user_col, "_cell")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    term = F.round(
        F.col("_c").cast("double") * F.log(F.col("_c").cast("double")) * F.lit(1e6)
    ).cast("long")
    agg = counts.select(F.col(user_col), "_c", term.alias("_t")).groupBy(
        user_col
    ).agg(
        F.sum("_c").cast("long").alias("n_pings"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("_t").cast("long").alias("s_q"),
    )
    h = F.log(F.col("n_pings").cast("double")) - (
        F.col("s_q").cast("double") / F.lit(1e6)
    ) / F.col("n_pings").cast("double")
    return agg.select(
        user_col,
        "n_pings",
        "n_cells",
        "s_q",
        (F.round(h, 6) + F.lit(0.0)).alias("entropy"),
    )


def track_nll(
    pings: DataFrame,
    res: int = 6,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """TRAJECTORY ANOMALY SCORE — negative log-likelihood of each
    entity's movement under the corpus-trained first-order Markov cell
    model (the matrix cell_transitions produces): routine commuters
    follow high-probability edges and score low; erratic or spoofed
    tracks take rare transitions and score high. The standard
    "surprise"-based GPS-fraud / mode-anomaly detector, trained and
    applied in one job.

    Same-cell runs are collapsed first (cell_transitions semantics), so
    dwell time doesn't dilute the score. Every scored edge is observed
    by construction (the model is trained on the same corpus), so no
    smoothing is needed and p > 0 always.

    Exactness scheme (location_entropy's): each step's term is
    quantized FIRST — t = round((ln(n_ft) - ln(n_f)) * 1e6) as int64,
    from exact integer counts — so the per-entity sum of ints is
    partition-order-free; ``nll_micro`` (micro-nats) is the hash-stable
    core and ``avg_nll`` a short replayable float assembly.

    Returns (user, n_steps, nll_micro, avg_nll).

    Scale: the shared per-entity sort, one (from, to) rollup, then the
    model — |cells|^2-bounded, tiny — is BROADCAST back onto the edge
    stream; one final combinable per-user rollup. No self-join of the
    ping table, no window beyond the shared sort."""
    w = Window.partitionBy(user_col).orderBy(ts_col, lon_col, lat_col)
    seq = pings.select(
        F.col(user_col),
        F.col(ts_col),
        F.col(lon_col),
        F.col(lat_col),
        cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("cell_id"),
    ).withColumn("_prev", F.lag("cell_id").over(w)).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("cell_id"))
    )
    w2 = Window.partitionBy(user_col).orderBy(ts_col, lon_col, lat_col)
    edges = seq.select(
        F.col(user_col),
        F.col("cell_id").alias("from_cell"),
        F.lead("cell_id").over(w2).alias("to_cell"),
    ).filter(F.col("to_cell").isNotNull())

    mat = edges.groupBy("from_cell", "to_cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_ft")
    )
    tot = mat.groupBy("from_cell").agg(F.sum("n_ft").cast("long").alias("n_f"))
    term = F.round(
        (
            F.log(F.col("n_ft").cast("double"))
            - F.log(F.col("n_f").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    model = mat.join(tot, "from_cell").select(
        "from_cell", "to_cell", term.alias("_t")
    )
    scored = edges.join(F.broadcast(model), ["from_cell", "to_cell"])
    n_steps = F.count(F.lit(1)).cast("long")
    return (
        scored.groupBy(user_col)
        .agg(
            n_steps.alias("n_steps"),
            (-F.sum("_t")).cast("long").alias("nll_micro"),
        )
        .select(
            user_col,
            "n_steps",
            "nll_micro",
            (
                F.round(
                    F.col("nll_micro").cast("double")
                    / F.col("n_steps").cast("double")
                    / F.lit(1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_nll"),
        )
    )


def frechet_sq(
    tracks: DataFrame,
    pairs: DataFrame,
    user_col: str = "user_id",
    tick_col: str = "tick",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """DISCRETE FRECHET DISTANCE (squared, planar integer) per candidate
    pair — the bottleneck curve metric (the "dog leash" distance): the
    smallest max-step cost over all monotone couplings of the two
    sequences. The INTEGER twin of dtw_distances(metric="frechet"):
    with integer coordinates every DP value IS one of the pairwise
    squared distances, so the result is engine-exact and has a FULL SQL
    oracle via the reachability characterization

        F^2 = min { t in {d^2 values} :  (n-1, m-1) reachable from
                    (0, 0) through cells with d^2 <= t }

    (recursive CTE over +i/+j/+diag moves) — the one DP family member
    whose oracle needs no unrolling.

    ``tracks``: (user, tick, x, y) integer planar coords (quantize
    upstream); ``pairs``: (user_a, user_b). Returns
    (user_a, user_b, n_a, n_b, frechet_sq). Pairs with an empty side
    are absent.

    Scale: dtw_distances' exact shape — two entity-keyed equi-joins,
    ONE shuffle on the pair key, per-group memory O(n*m) for its own
    pair; anti-diagonal int64 wavefront inside the kernel. Resample/cap
    tracks upstream; feed pairs from knn_graph/colocation so the
    quadratic term stays per-pair."""
    import numpy as np
    import pandas as pd

    t = tracks.select(
        F.col(user_col).alias("_u"),
        F.col(tick_col).alias("_k"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )
    pa = pairs.join(t, t["_u"] == pairs["user_a"]).select(
        "user_a", "user_b", F.lit("a").alias("_side"), "_k", "_x", "_y"
    )
    pb = pairs.join(t, t["_u"] == pairs["user_b"]).select(
        "user_a", "user_b", F.lit("b").alias("_side"), "_k", "_x", "_y"
    )
    both = pa.unionByName(pb)
    BIG = np.int64(2**62)

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        a = pdf[pdf["_side"] == "a"].sort_values("_k")
        b = pdf[pdf["_side"] == "b"].sort_values("_k")
        n, m = len(a), len(b)
        if n == 0 or m == 0:
            return pd.DataFrame(
                columns=["user_a", "user_b", "n_a", "n_b", "frechet_sq"]
            )
        ax = a["_x"].to_numpy(np.int64)[:, None]
        ay = a["_y"].to_numpy(np.int64)[:, None]
        bx = b["_x"].to_numpy(np.int64)[None, :]
        by = b["_y"].to_numpy(np.int64)[None, :]
        cost = (ax - bx) ** 2 + (ay - by) ** 2
        prev2 = np.full(n, BIG)
        prev = np.full(n, BIG)
        prev[0] = cost[0, 0]
        last = prev[0]
        for d in range(1, n + m - 1):
            lo = max(0, d - m + 1)
            hi = min(n - 1, d)
            cur = np.full(n, BIG)
            i_idx = np.arange(lo, hi + 1)
            c = cost[i_idx, d - i_idx]
            up = np.full(len(i_idx), BIG)
            left = np.full(len(i_idx), BIG)
            diag = np.full(len(i_idx), BIG)
            mask = i_idx > 0
            up[mask] = prev[i_idx[mask] - 1]
            jmask = (d - i_idx) > 0
            left[jmask] = prev[i_idx[jmask]]
            dmask = mask & jmask
            diag[dmask] = prev2[i_idx[dmask] - 1]
            best = np.minimum(np.minimum(up, left), diag)
            cur[lo : hi + 1] = np.maximum(c, best)
            prev2, prev = prev, cur
            if hi == n - 1 and d - (n - 1) == m - 1:
                last = cur[n - 1]
        if n == 1 and m == 1:
            last = cost[0, 0]
        return pd.DataFrame(
            {
                "user_a": [key[0]],
                "user_b": [key[1]],
                "n_a": [n],
                "n_b": [m],
                "frechet_sq": [int(last)],
            }
        )

    return both.groupBy("user_a", "user_b").applyInPandas(
        kern,
        schema=(
            "user_a long, user_b long, n_a long, n_b long, frechet_sq long"
        ),
    )


# Viterbi stay/move model: integer costs (micro-nat-ish units).
# Transition cost T[s1][s2], emission cost E[state][obs_bin].
VIT_TRANS = ((0, 30), (30, 0))
VIT_EMIT = ((0, 10, 25), (25, 10, 0))  # [stay|move][low, mid, high]


def viterbi_smooth(
    obs: DataFrame,
    user_col: str = "user_id",
    idx_col: str = "idx",
    obs_col: str = "obs",
) -> DataFrame:
    """(user_id, idx, obs, state, path_cost) — VITERBI SEQUENCE
    SMOOTHING of a per-entity observation sequence under the 2-state
    stay(0)/move(1) HMM with the integer cost tables VIT_TRANS /
    VIT_EMIT (costs = negative log-likelihoods in fixed units): the
    classic GPS-glitch smoother — an isolated high-speed observation
    inside a stay regime costs 25 to absorb vs 60 to switch regimes
    twice, so Viterbi explains it away, which a per-ping threshold
    cannot.

    All-integer DP => the optimal cost is engine-exact; among equal-
    cost paths the winner is the one with the SMALLEST state bitmask
    (mask = Σ state_i << i — later steps dominate, and tracking the
    min (cost, partial-mask) pair per state is exact for that order
    because equal-cost equal-state prefixes share their optimal
    futures).  path_cost is the sequence's total optimal cost.

    Scale: one applyInPandas per entity, O(T·|S|²) integer DP inside
    the batch — sequences are session-bounded; entities parallelize.
    The twin enumerates all 2^T trellis paths with the mask encoding
    (exponential, ORACLE-ONLY) and replays the (cost, mask) min."""
    import pandas as pd

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(idx_col).reset_index(drop=True)
        u = pdf[user_col].iloc[0]
        ob = [int(v) for v in pdf[obs_col]]
        t_len = len(ob)
        # DP over (cost, mask) pairs, lexicographic min
        cur = [
            (VIT_EMIT[s][ob[0]], s) for s in (0, 1)
        ]  # mask bit 0 = state
        for i in range(1, t_len):
            nxt = []
            for s in (0, 1):
                best = None
                for sp in (0, 1):
                    cand = (
                        cur[sp][0] + VIT_TRANS[sp][s] + VIT_EMIT[s][ob[i]],
                        cur[sp][1] | (s << i),
                    )
                    if best is None or cand < best:
                        best = cand
                nxt.append(best)
            cur = nxt
        cost, mask = min(cur)
        return pd.DataFrame(
            {
                "user_id": [u] * t_len,
                "idx": list(range(t_len)),
                "obs": ob,
                "state": [(mask >> i) & 1 for i in range(t_len)],
                "path_cost": [cost] * t_len,
            }
        )

    sel = obs.select(
        F.col(user_col).cast("long").alias(user_col),
        F.col(idx_col).cast("long").alias(idx_col),
        F.col(obs_col).cast("long").alias(obs_col),
    )
    return sel.groupBy(user_col).applyInPandas(
        fn,
        schema="user_id long, idx long, obs long, state long, path_cost long",
    )


def viterbi_smooth_sql(obs_cte: str) -> str:
    """DuckDB twin of viterbi_smooth — full trellis-path enumeration
    via a recursive CTE carrying (cost, mask), then the (cost, mask)
    min per entity and per-step mask decode.  Exponential in sequence
    length: ORACLE ONLY, fixture sequences are short.
    ``obs_cte`` -> (user_id, idx, obs) with idx dense from 0."""
    t00, t01 = VIT_TRANS[0]
    t10, t11 = VIT_TRANS[1]
    e = VIT_EMIT
    emit = (
        f"CASE WHEN st.s = 0 THEN CASE o.obs WHEN 0 THEN {e[0][0]}"
        f" WHEN 1 THEN {e[0][1]} ELSE {e[0][2]} END"
        f" ELSE CASE o.obs WHEN 0 THEN {e[1][0]}"
        f" WHEN 1 THEN {e[1][1]} ELSE {e[1][2]} END END"
    )
    return f"""
WITH RECURSIVE ob AS MATERIALIZED (
  SELECT CAST(user_id AS BIGINT) AS user_id, CAST(idx AS BIGINT) AS idx,
         CAST(obs AS BIGINT) AS obs
  FROM ({obs_cte})
),
tlen AS (SELECT user_id, max(idx) AS tmax FROM ob GROUP BY 1),
paths(user_id, i, s, cost, mask) AS (
  SELECT o.user_id, 0, st.s,
         {emit},
         CAST(st.s AS BIGINT)
  FROM ob o, (SELECT 0 AS s UNION ALL SELECT 1) st
  WHERE o.idx = 0
  UNION ALL
  SELECT p.user_id, p.i + 1, st.s,
         p.cost
           + CASE WHEN p.s = 0 AND st.s = 0 THEN {t00}
                  WHEN p.s = 0 AND st.s = 1 THEN {t01}
                  WHEN p.s = 1 AND st.s = 0 THEN {t10}
                  ELSE {t11} END
           + {emit},
         p.mask | (CAST(st.s AS BIGINT) << (p.i + 1))
  FROM paths p
  JOIN ob o ON o.user_id = p.user_id AND o.idx = p.i + 1,
       (SELECT 0 AS s UNION ALL SELECT 1) st
),
best AS (
  SELECT p.user_id, min(struct_pack(cost := p.cost, mask := p.mask)) AS bm
  FROM paths p JOIN tlen t ON t.user_id = p.user_id AND p.i = t.tmax
  GROUP BY 1
)
SELECT o.user_id, o.idx, o.obs,
       (b.bm.mask >> CAST(o.idx AS INTEGER)) & 1 AS state,
       b.bm.cost AS path_cost
FROM ob o JOIN best b ON b.user_id = o.user_id
"""


def home_work_anchors(
    pings: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    cell_col: str = "cell_id",
    night_start: int = 22,
    night_end: int = 6,
    work_start: int = 9,
    work_end: int = 17,
) -> DataFrame:
    """(user_id, home_cell, n_night_home, n_night, work_cell,
    n_work_at, n_work, n_pings, same_place, home_share_micro) — HOME /
    WORK ANCHOR DETECTION (the standard mobility prior, e.g. Phithakkitnukoon
    et al. 2012): a user's HOME is the cell with the most pings in the
    night window [night_start, 24) ∪ [0, night_end), WORK the cell with
    the most pings in [work_start, work_end]; ties break to the lowest
    cell id. home_share_micro = night pings at home / all night pings
    (integer micro division) — the anchor-confidence gate; users with
    no night (or work) pings get NULL for that anchor.

    Deterministic, no RNG, no floats. Scale: ONE combinable
    groupBy(user, cell) rollup with conditional counts, then the argmax
    per user is a MAX(struct(count, -cell)) rollup — no window, no
    second shuffle (the struct max merges map-side). Hours come from
    the session-pinned UTC clock in both engines."""
    hr = F.hour(F.col(ts_col))
    night = (hr >= night_start) | (hr < night_end)
    work = (hr >= work_start) & (hr <= work_end)
    per = pings.groupBy(
        F.col(user_col).alias("user_id"), F.col(cell_col).alias("cell")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum(night.cast("long")).cast("long").alias("n_night"),
        F.sum(work.cast("long")).cast("long").alias("n_work"),
    )
    pick_home = F.max(
        F.when(
            F.col("n_night") > 0,
            F.struct(
                F.col("n_night").alias("c"), (-F.col("cell")).alias("nc")
            ),
        )
    ).alias("_h")
    pick_work = F.max(
        F.when(
            F.col("n_work") > 0,
            F.struct(
                F.col("n_work").alias("c"), (-F.col("cell")).alias("nc")
            ),
        )
    ).alias("_w")
    agg = per.groupBy("user_id").agg(
        pick_home,
        pick_work,
        F.sum("n_night").cast("long").alias("n_night"),
        F.sum("n_work").cast("long").alias("n_work"),
        F.sum("n_all").cast("long").alias("n_pings"),
    )
    home = -F.col("_h.nc")
    workc = -F.col("_w.nc")
    return agg.select(
        "user_id",
        home.cast("long").alias("home_cell"),
        F.col("_h.c").cast("long").alias("n_night_home"),
        "n_night",
        workc.cast("long").alias("work_cell"),
        F.col("_w.c").cast("long").alias("n_work_at"),
        "n_work",
        "n_pings",
        (home == workc).alias("same_place"),
        F.when(
            F.col("n_night") > 0,
            F.expr("_h.c * 1000000 DIV n_night"),
        ).cast("long").alias("home_share_micro"),
    )


def home_work_anchors_sql(
    pings_cte: str,
    night_start: int = 22,
    night_end: int = 6,
    work_start: int = 9,
    work_end: int = 17,
) -> str:
    """DuckDB twin of home_work_anchors — identical conditional rollup;
    the struct argmax is replayed as max_by-free MAX((count, -cell))
    row comparisons via arg-struct ordering (DuckDB struct compare)."""
    return f"""
WITH hw_src AS ({pings_cte}),
hw_per AS (
  SELECT user_id, cell_id AS cell,
         CAST(count(*) AS BIGINT) AS n_all,
         CAST(sum(CASE WHEN hour(ts) >= {int(night_start)}
                        OR hour(ts) < {int(night_end)}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_night,
         CAST(sum(CASE WHEN hour(ts) >= {int(work_start)}
                       AND hour(ts) <= {int(work_end)}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_work
  FROM hw_src GROUP BY 1, 2
),
hw_agg AS (
  SELECT user_id,
         max(CASE WHEN n_night > 0 THEN {{'c': n_night, 'nc': -cell}} END) AS _h,
         max(CASE WHEN n_work > 0 THEN {{'c': n_work, 'nc': -cell}} END) AS _w,
         CAST(sum(n_night) AS BIGINT) AS n_night,
         CAST(sum(n_work) AS BIGINT) AS n_work,
         CAST(sum(n_all) AS BIGINT) AS n_pings
  FROM hw_per GROUP BY 1
)
SELECT user_id,
       CAST(-(_h.nc) AS BIGINT) AS home_cell,
       CAST(_h.c AS BIGINT) AS n_night_home,
       n_night,
       CAST(-(_w.nc) AS BIGINT) AS work_cell,
       CAST(_w.c AS BIGINT) AS n_work_at,
       n_work,
       n_pings,
       (-(_h.nc)) = (-(_w.nc)) AS same_place,
       CASE WHEN n_night > 0
            THEN _h.c * 1000000 // n_night END AS home_share_micro
FROM hw_agg
"""


def bearing_resultant(
    pings: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """(user, n_steps, sx, sy, rbar_micro) — CIRCULAR STATISTICS of
    movement direction per entity: the mean resultant vector of the
    per-step unit headings (Mardia's R̄). rbar_micro ≈ 1e6 means every
    step points the same way (a commuter on a straight road);
    rbar_micro ≈ 0 means isotropic wandering. The (sx, sy) pair IS the
    mean direction — reported as the exact integer vector rather than
    an atan2 angle (atan2's last ulp is not cross-engine pinned; the
    sd_ellipse orientation convention).

    Trig-free exactness: each consecutive-ping step contributes the
    QUANTIZED planar unit vector

        ux = round(1e6·dx / hypot),  uy = round(1e6·dy / hypot)

    — one pinned IEEE sqrt + divide + round per row, identical
    operation order in the twin — and the per-user sums sx = Σux,
    sy = Σuy are exact order-free int64. Zero-displacement steps are
    skipped (no direction). The resultant length is the final pinned
    assembly √(sx²+sy²) in doubles, and rbar_micro = ⌊R/n⌋.

    Scale: one ordered window per entity (the shared trajectory sort)
    + one combinable groupBy — same shape as track_speed; no joins."""
    w = Window.partitionBy("user_id").orderBy("_ts")
    steps = (
        pings.select(
            F.col(user_col).alias("user_id"),
            F.col(ts_col).alias("_ts"),
            F.col(lon_col).alias("_lon"),
            F.col(lat_col).alias("_lat"),
        )
        .withColumn("_lon1", F.lead("_lon").over(w))
        .withColumn("_lat1", F.lead("_lat").over(w))
        .filter(F.col("_lon1").isNotNull())
    )
    dx = F.col("_lon1") - F.col("_lon")
    dy = F.col("_lat1") - F.col("_lat")
    hyp = F.sqrt(dx * dx + dy * dy)
    unit = steps.filter(hyp > 0).select(
        "user_id",
        F.round(F.lit(1000000.0) * dx / hyp).cast("long").alias("_ux"),
        F.round(F.lit(1000000.0) * dy / hyp).cast("long").alias("_uy"),
    )
    agg = unit.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum("_ux").alias("sx"),
        F.sum("_uy").alias("sy"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "user_id",
        "n_steps",
        "sx",
        "sy",
        F.floor(
            F.sqrt(dd("sx") * dd("sx") + dd("sy") * dd("sy"))
            / F.col("n_steps")
        ).cast("long").alias("rbar_micro"),
    )


def bearing_resultant_sql(pings_cte: str) -> str:
    """DuckDB twin of bearing_resultant — identical step windows,
    per-row pinned unit quantization, and final assembly.
    ``pings_cte`` -> (user_id, ts, lon, lat)."""
    return f"""
WITH br_src AS ({pings_cte}),
br_steps AS (
  SELECT user_id,
         lead(lon) OVER uw - lon AS dx,
         lead(lat) OVER uw - lat AS dy
  FROM br_src
  WINDOW uw AS (PARTITION BY user_id ORDER BY ts)
),
br_unit AS (
  SELECT user_id,
         CAST(round(1000000.0 * dx / sqrt(dx * dx + dy * dy)) AS BIGINT)
           AS ux,
         CAST(round(1000000.0 * dy / sqrt(dx * dx + dy * dy)) AS BIGINT)
           AS uy
  FROM br_steps
  WHERE dx IS NOT NULL AND sqrt(dx * dx + dy * dy) > 0
),
br_agg AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_steps,
         CAST(sum(ux) AS BIGINT) AS sx, CAST(sum(uy) AS BIGINT) AS sy
  FROM br_unit GROUP BY 1
)
SELECT user_id, n_steps, sx, sy,
       CAST(floor(sqrt(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                       + CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                  / n_steps) AS BIGINT) AS rbar_micro
FROM br_agg
"""
