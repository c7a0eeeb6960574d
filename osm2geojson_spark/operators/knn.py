"""kNN via k-ring expansion with distance refinement (E3).

For each query point: candidates are targets in the Chebyshev k-ring of the
query's cell, refined by exact haversine distance + row_number window.
Queries whose k-th neighbor distance exceeds the ring's guaranteed radius
(i.e. the true neighbor could lie outside the searched ring) — or that have
fewer than k candidates — escalate to a wider ring; a bounded number of
rounds, then a brute-force fallback for stragglers. Every round is a plain
equi-join on cell_id (targets explode no rings; the *query* side explodes
its k-ring, keeping target-side shuffle partitioning reusable).

Haversine is a pure column expression (JVM-side, codegen).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import cells

EARTH_RADIUS_M = 6371008.8


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    rlon1, rlat1, rlon2, rlat2 = (F.radians(c) for c in (lon1, lat1, lon2, lat2))
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(F.least(F.lit(1.0), h)))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """Identical formula as ANSI SQL (DuckDB oracle parity)."""
    return (
        f"2.0 * {EARTH_RADIUS_M} * asin(sqrt(least(1.0, "
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))))"
    )


def _ring_guarantee_m(res: int, k_ring: int, q_lat: Column) -> Column:
    """Per-query guaranteed covered radius of the k-ring: any target closer
    than this MUST lie inside the searched cells, so a k-th neighbor within
    it is provably correct.

    A target outside the ring is beyond it in y (|dlat| >= k * 180/2^res,
    giving the exact north-south arc bound ``lat_m``) or beyond it in x
    (wrap-aware lon offset >= dlon = k * 360/2^res). For the x case the
    bound is the EXACT spherical distance from the query to a meridian
    dlon away: R * asin(sin(dlon) * cos(q_lat)) — evaluated at the query's
    OWN latitude. (Distance to T at lon offset d >= dlon is monotone in d
    on [0, 180 deg], and the point-to-meridian-great-circle minimum is
    asin(sin(dlon)cos(lat)); dlon credited at most 90 deg, where the bound
    saturates at the distance to the pole.)

    This certificate shrinks with cos(lat) exactly as near-polar neighbor
    distances do, so high-latitude queries resolve through ring rounds
    instead of collapsing to the brute-force fallback. (The previous
    linear bound cos(|lat| + ring reach) went to ZERO for any
    |lat| > 90 - (k+1)*cell_h as k grew — escalation could never certify
    high-latitude queries, stranding them all in the O(n_query * n_target)
    fallback.)

    When the ring wraps every lon column (2k+1 >= 2^res) the x boundary
    does not exist and the guarantee is the lat bound alone."""
    cell_h_deg = 180.0 / (1 << res)
    deg_m = (math.pi / 180.0) * EARTH_RADIUS_M
    k_ring = min(k_ring, (1 << res) // 2)
    lat_m = F.lit(k_ring * cell_h_deg * deg_m)
    if 2 * k_ring + 1 >= (1 << res):
        return lat_m * F.lit(0.99)
    dlon_rad = math.radians(min(90.0, k_ring * 2.0 * cell_h_deg))
    lon_m = F.lit(EARTH_RADIUS_M) * F.asin(
        F.lit(math.sin(dlon_rad)) * F.cos(F.radians(q_lat))
    )
    return F.least(lon_m, lat_m) * F.lit(0.99)


def _flat_ring(cell: Column, res: int, kr: int) -> Column:
    """Flat-grid ring with wrap safety: k is clamped at 2^res // 2 (a wider
    ring adds no new columns), and a full-wrap ring is deduplicated —
    k_ring's modular x wrap would otherwise repeat columns, and duplicate
    candidate rows would double-count a target in the top-k window."""
    n = 1 << res
    kr = min(kr, n // 2)
    ring = cells.k_ring(cell, res, kr)
    return F.array_distinct(ring) if 2 * kr + 1 >= n else ring


def _sphere_ring_guarantee_m(res: int, k_ring: int, q_lat: Column) -> Column:
    """Ring guarantee for the spherical cube-face grid (cells_sphere):
    latitude-INDEPENDENT — sphere cells keep a bounded minimum angular
    width everywhere (the quadratic projection's min-width metric is
    ~0.943/2^res radians), so polar queries resolve through ring rounds
    instead of falling back to brute force. The extra 0.5 factor is a
    safety margin for grid misalignment across cube-face edges (a smaller
    guarantee only costs extra rounds, never correctness).

    The linear-in-k bound is only sound while the ring stays well inside a
    cube face: extrapolated past a face edge, angular coverage saturates
    (theta -> 90 deg) while 0.5*k*min_width grows without bound. Clamp the
    CREDITED k at 2^res/4 (a quarter-face, ~13 deg of arc at any res) —
    larger rings still widen the candidate set, but the certificate stops
    growing, so queries whose k-th neighbor is genuinely far escalate to
    the brute-force fallback instead of being mis-certified near a face
    edge/corner."""
    k_eff = min(k_ring, max(1, (1 << res) // 4))
    min_width_rad = 0.943 / (1 << res)
    return F.lit(0.5 * k_eff * min_width_rad * EARTH_RADIUS_M)


_GRIDS = {
    "flat": (
        lambda lon, lat, res: cells.cell_id(lon, lat, res),
        _flat_ring,
        _ring_guarantee_m,
    ),
}


def _sphere_grid():
    from . import cells_sphere as SPH

    return (
        lambda lon, lat, res: SPH.sphere_cell_id(lon, lat, res),
        lambda cell, res, kr: SPH.sphere_k_ring(cell, res, kr),
        _sphere_ring_guarantee_m,
    )


def knn_join(
    queries: DataFrame,
    targets: DataFrame,
    k: int,
    res: int = cells.DEFAULT_RES,
    qid: str = "qid",
    tid: str = "tid",
    rounds: tuple[int, ...] = (1, 4, 16),
    bruteforce_fallback: bool = True,
    grid: str = "flat",
) -> DataFrame:
    """(qid, tid, dist_m, rank) — the k nearest targets per query.

    Deterministic tie-break: (dist_m, tid) ordering.

    ``grid``: "flat" (equirectangular E1 cells — oracle-exact integer math;
    the ring certificate is the exact point-to-meridian distance, which
    shrinks with cos(lat) in step with near-polar neighbor spacing, so
    high-latitude queries still resolve through ring rounds; only
    queries whose k-th neighbor genuinely exceeds every round's covered
    radius fall back to brute force) or "sphere" (cube-face cells_sphere — uniform
    cell widths everywhere, so polar query sets resolve through the ring
    rounds; cell encode runs JVM-side, the ring expansion is an Arrow UDF).
    """
    cell_fn, ring_fn, guarantee_fn = (
        _GRIDS["flat"] if grid == "flat" else _sphere_grid()
    )
    q = queries.select(
        qid, F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
    ).withColumn("q_cell", cell_fn(F.col("q_lon"), F.col("q_lat"), res))
    # localCheckpoint (not cache): materialized once for the ring rounds and
    # released by the context cleaner when the plan goes out of scope — no
    # executor-storage leak across repeated knn_join calls in a session
    t = (
        targets.select(
            tid, F.col("lon").alias("t_lon"), F.col("lat").alias("t_lat")
        )
        .withColumn("cell_id", cell_fn(F.col("t_lon"), F.col("t_lat"), res))
        .localCheckpoint(eager=False)
    )

    remaining = q.localCheckpoint(eager=False)
    results = None
    for kr in rounds:
        if remaining.isEmpty():
            break
        cand = remaining.withColumn(
            "cell_id", F.explode(ring_fn(F.col("q_cell"), res, kr))
        ).join(t, "cell_id", "inner")
        cand = cand.withColumn(
            "dist_m", haversine_col(F.col("q_lon"), F.col("q_lat"), F.col("t_lon"), F.col("t_lat"))
        )
        wnd = Window.partitionBy(qid).orderBy(F.col("dist_m").asc(), F.col(tid).asc())
        # materialize top-k ONCE per round (lazily, at the next action) — the
        # stats / done / remaining consumers below all reuse it instead of
        # re-running the ring join + window three times
        topk = (
            cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= k)
            .select(qid, tid, "dist_m", "rank", "q_cell", "q_lon", "q_lat")
            .localCheckpoint(eager=False)
        )
        # resolved iff k found AND kth distance is inside the ring guarantee
        stats = topk.groupBy(qid).agg(
            F.count("*").alias("n"),
            F.max("dist_m").alias("kth"),
            F.first("q_lat").alias("q_lat"),
        )
        ok_ids = stats.filter(
            (F.col("n") >= k) & (F.col("kth") <= guarantee_fn(res, kr, F.col("q_lat")))
        ).select(qid).localCheckpoint(eager=False)
        done = topk.join(ok_ids, qid, "leftsemi").select(qid, tid, "dist_m", "rank")
        results = done if results is None else results.unionByName(done)
        remaining = remaining.join(ok_ids, qid, "left_anti").localCheckpoint(eager=False)

    if bruteforce_fallback and not remaining.isEmpty():
        cand = remaining.crossJoin(t.drop("cell_id"))
        cand = cand.withColumn(
            "dist_m", haversine_col(F.col("q_lon"), F.col("q_lat"), F.col("t_lon"), F.col("t_lat"))
        )
        wnd = Window.partitionBy(qid).orderBy(F.col("dist_m").asc(), F.col(tid).asc())
        bf = (
            cand.withColumn("rank", F.row_number().over(wnd))
            .filter(F.col("rank") <= k)
            .select(qid, tid, "dist_m", "rank")
        )
        results = bf if results is None else results.unionByName(bf)

    return results


def knn_bruteforce(
    queries: DataFrame, targets: DataFrame, k: int, qid: str = "qid", tid: str = "tid"
) -> DataFrame:
    """Oracle: full cross join + window."""
    q = queries.select(qid, F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"))
    t = targets.select(tid, F.col("lon").alias("t_lon"), F.col("lat").alias("t_lat"))
    cand = q.crossJoin(t).withColumn(
        "dist_m", haversine_col(F.col("q_lon"), F.col("q_lat"), F.col("t_lon"), F.col("t_lat"))
    )
    wnd = Window.partitionBy(qid).orderBy(F.col("dist_m").asc(), F.col(tid).asc())
    return (
        cand.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select(qid, tid, "dist_m", "rank")
    )


def knn_graph(
    points: DataFrame,
    k: int,
    id_col: str = "id",
    res: int = cells.DEFAULT_RES,
    grid: str = "flat",
    bruteforce_fallback: bool = True,
) -> DataFrame:
    """(id, nbr_id, dist_m, rank) — the k-nearest-neighbor GRAPH of one
    point set: every point paired with its k nearest OTHER points. The
    all-pairs building block of kNN-graph dedup and manifold methods,
    built as a self knn_join at k+1 (self is always a candidate at
    distance 0) with the self edge dropped and ranks recomputed over the
    same deterministic (dist_m, nbr_id) order.

    Scale shape is knn_join's: ring-round candidate generation on the cell
    grid — the corpus is both sides, so the join is cell-local and the
    only quadratic term is within-ring candidates. Coincident duplicate
    points make a self edge rank below another zero-distance edge; the
    re-rank window handles that correctly (the duplicate appears as the
    true rank-1 neighbor)."""
    q = points.select(F.col(id_col).alias("_qid"), "lon", "lat")
    t = points.select(F.col(id_col).alias("_tid"), "lon", "lat")
    raw = knn_join(
        q, t, k + 1, res=res, qid="_qid", tid="_tid", grid=grid,
        bruteforce_fallback=bruteforce_fallback,
    )
    wnd = Window.partitionBy("_qid").orderBy(
        F.col("dist_m").asc(), F.col("_tid").asc()
    )
    return (
        raw.filter(F.col("_qid") != F.col("_tid"))
        .withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_qid").alias(id_col),
            F.col("_tid").alias("nbr_id"),
            "dist_m",
            "rank",
        )
    )


def knn_outliers(
    points: DataFrame,
    k: int,
    threshold_m: float,
    id_col: str = "id",
    res: int = cells.DEFAULT_RES,
    grid: str = "flat",
) -> DataFrame:
    """SPATIAL OUTLIER DETECTION by k-DISTANCE — a point is an outlier
    when even its k-th nearest neighbor is farther than ``threshold_m``
    (the k-distance gate, the first stage of LOF and the standard GPS /
    sensor-glitch spatial filter; isolated points cannot hide behind one
    accidental close neighbor).

    Returns (id, k_dist, is_outlier) with k_dist the distance to the
    k-th neighbor — a MAX over the neighbor set, so it is exact and
    order-independent (never a float sum). Points with fewer than k
    other points in the corpus are absent (undefined k-distance).

    Scale: exactly knn_graph's (ring-round candidates, cell-local);
    the gate is a rank filter — no extra shuffle."""
    g = knn_graph(
        points, k, id_col=id_col, res=res, grid=grid
    )
    return g.filter(F.col("rank") == k).select(
        id_col,
        F.col("dist_m").alias("k_dist"),
        (F.col("dist_m") > F.lit(float(threshold_m))).alias("is_outlier"),
    )


LOF_SCALE = 1_000_000_000  # fixed-point lrd scale


def lof_scores(
    points: DataFrame,
    k: int,
    id_col: str = "id",
    res: int = cells.DEFAULT_RES,
    grid: str = "flat",
) -> DataFrame:
    """LOCAL OUTLIER FACTOR (Breunig et al. 2000) — the full density-ratio
    score on top of the k-distance gate (knn_outliers): LOF >> 1 means
    the point sits in a region much sparser than its neighbors' regions
    (the metric that catches outliers NEXT TO clusters, which a global
    k-distance threshold cannot).

    Exactness scheme — every aggregate is integer so no float-sum
    ordering can flip a bit between engines or partitionings:

        reach_mm(p,o) = floor(1000 * max(k_dist(o), d(p,o)))   int64 mm
        lrd_q(p)      = (1000 * k * SCALE) div sum_o reach_mm  int64
        LOF(p)        = sum_o lrd_q(o) / (k * lrd_q(p))        one divide

    (mm quantization changes scores by < 1e-6 relative — far below any
    decision threshold LOF is used with.) Returns (id, lrd_q, lof).
    Coincident-duplicate degenerate neighborhoods (reach sum 0) clamp to
    1 mm so lrd stays finite (the duplicates all share the same clamp —
    their mutual LOF is 1, the correct "not an outlier" answer).

    Scale: knn_graph once (ring-round candidates), then two id-keyed
    joins (k_dist to the NEIGHBOR side, lrd back to both sides) and two
    combinable integer rollups — no window over the corpus, no second
    spatial pass."""
    g = knn_graph(points, k, id_col=id_col, res=res, grid=grid)
    kd = g.filter(F.col("rank") == k).select(
        F.col(id_col).alias("_o"), F.col("dist_m").alias("_okd")
    )
    reach = (
        g.join(kd, g["nbr_id"] == kd["_o"])
        .select(
            F.col(id_col),
            F.col("nbr_id"),
            F.floor(
                F.lit(1000.0) * F.greatest(F.col("_okd"), F.col("dist_m"))
            )
            .cast("long")
            .alias("_reach_mm"),
        )
    )
    rs = reach.groupBy(id_col).agg(
        F.greatest(F.sum("_reach_mm"), F.lit(1)).alias("_rs")
    )
    lrd = rs.select(
        F.col(id_col).alias("_p"),
        F.expr(f"CAST({1000 * k * LOF_SCALE} AS BIGINT) div _rs").alias("_lrd"),
    )
    nbr_lrd = (
        g.select(id_col, "nbr_id")
        .join(lrd.select(F.col("_p").alias("nbr_id"), F.col("_lrd").alias("_nl")), "nbr_id")
        .groupBy(id_col)
        .agg(F.sum("_nl").alias("_snl"))
    )
    return (
        nbr_lrd.join(lrd, nbr_lrd[id_col] == lrd["_p"])
        .select(
            id_col,
            F.col("_lrd").alias("lrd_q"),
            F.round(
                F.col("_snl").cast("double")
                / (F.lit(float(k)) * F.col("_lrd").cast("double")),
                6,
            ).alias("lof"),
        )
    )
