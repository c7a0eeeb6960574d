"""Geostatistics over point samples — IDW interpolation and the empirical
semivariogram.

The reference (aspectumapp/osm2geojson, main.py) stops at geometry
conversion; its users hand the resulting point layers to geostatistics
tools downstream. These two operators are the canonical pair — value
prediction (inverse-distance weighting, Shepard 1968) and spatial
dependence measurement (the Matheron empirical semivariogram) — built
Spark-first on the engine's own radius join:

* Candidate generation IS ``spatial_join.within_distance_join`` (cell
  covering explode + single-cell equi-join + JVM haversine refine), so
  both operators inherit its scale story: one shuffle, no cross join,
  salting available for dense cells.
* Every aggregate is EXACT-INTEGER by construction (fixed-point weights,
  integer squared differences), so results are bit-identical regardless
  of partitioning or summation order — the property that makes a
  distributed run reproducible across cluster sizes AND lets a serial
  DuckDB oracle hash-match the Spark answer. Only the final scalar
  (prediction / gamma) divides two exact integers, identically on both
  engines, then rounds.

Fixed-point IDW: w_i = floor(SCALE / max(d_i_km, 1)^p) as int64 with the
distance in KILOMETERS, clamped below at 1 km. With SCALE = 1e9 the
weight is in [1, 1e9] for every distance an Earth geometry can produce
(w = 1 first at d ~ 31,623 km > any great-circle distance, so w_sum > 0
whenever a neighbor exists — no division guard needed), and products
w*v / their sums stay far inside int64 for any realistic neighbor count
(documented bound below). The floor() quantization changes predictions
by < 1e-9 relative — noise next to IDW's own model error — and buys
order-independence.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame
from . import cells
from .spatial_join import within_distance_join

IDW_SCALE = 1_000_000_000  # fixed-point weight scale (w in [1, 1e9])
IDW_MIN_DIST_M = 1000.0  # 1 km clamp — below this all samples weigh alike


def _ipow(x: Column, p: int) -> Column:
    """x**p by repeated multiply — identical IEEE op sequence in the DuckDB
    twin (``_ipow_sql``), unlike libm pow() whose rounding differs."""
    out = x
    for _ in range(p - 1):
        out = out * x
    return out


def _ipow_sql(x: str, p: int) -> str:
    return "(" + " * ".join([x] * p) + ")"


def idw_weight(dist_m: Column, power: int = 2) -> Column:
    """int64 fixed-point IDW weight floor(SCALE / max(d_km, 1)^p)."""
    d = F.greatest(dist_m, F.lit(IDW_MIN_DIST_M)) / F.lit(1000.0)
    return F.floor(F.lit(float(IDW_SCALE)) / _ipow(d, power)).cast("long")


def idw_weight_sql(dist_expr: str, power: int = 2) -> str:
    d = f"(greatest({dist_expr}, {IDW_MIN_DIST_M}) / 1000.0)"
    return f"CAST(floor({float(IDW_SCALE)} / {_ipow_sql(d, power)}) AS BIGINT)"


def idw_interpolate(
    targets: DataFrame,
    samples: DataFrame,
    radius_m: float,
    power: int = 2,
    res: int = cells.DEFAULT_RES,
    target_id: str = "target_id",
    sample_id: str = "sample_id",
    value_col: str = "value",
    grid: str = "flat",
    salt_threshold: int | None = None,
) -> DataFrame:
    """Inverse-distance-weighted interpolation: for every target point,
    predict sum(w_i * v_i) / sum(w_i) over the samples within ``radius_m``
    (haversine), w_i the fixed-point weight above.

    ``targets``: (target_id, lon, lat); ``samples``: (sample_id, lon, lat,
    value) with integer values. Returns (target_id, n_samples, w_sum,
    wv_sum, pred) — the exact-int64 sufficient statistics plus the rounded
    scalar; targets with no sample in range are absent (no-extrapolation
    semantics, matching gdal_grid's nodata behavior).

    Scale: the radius join is the whole cost — one shuffle on cell id with
    the target disk-bbox covering exploded (superset, no dedup needed) and
    the sample side single-celled; the value join-back rides the SAME
    shuffle key as the radius join's sample side, and the final rollup is
    a map-side-combinable groupBy(target). int64 bound: |v| <= 1e6 and
    <= 9e3 in-range samples per target keeps |wv_sum| < 9.2e18; assert
    the value bound cheaply at ingest if unsure.

    Reference scope: aspectumapp/osm2geojson main.py (geometry only — this
    is downstream analytics the engine adds).
    """
    pairs = within_distance_join(
        targets.select(target_id, "lon", "lat"),
        samples.select(sample_id, "lon", "lat"),
        radius_m,
        res=res,
        lid=target_id,
        rid=sample_id,
        grid=grid,
        salt_threshold=salt_threshold,
    )
    vals = samples.select(sample_id, F.col(value_col).cast("long").alias("_v"))
    w = idw_weight(F.col("dist_m"), power)
    return (
        pairs.join(vals, sample_id)
        .select(F.col(target_id), w.alias("_w"), (w * F.col("_v")).alias("_wv"))
        .groupBy(target_id)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_samples"),
            F.sum("_w").cast("long").alias("w_sum"),
            F.sum("_wv").cast("long").alias("wv_sum"),
            F.round(
                F.sum("_wv").cast("double") / F.sum("_w").cast("double"), 6
            ).alias("pred"),
        )
    )


KDE_SCALE = 1_000_000_000  # fixed-point kernel scale


def kde_surface(
    points: DataFrame,
    bandwidth_m: float,
    res: int = cells.DEFAULT_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """KERNEL DENSITY SURFACE — the hotspot heatmap (Silverman 1986, the
    QGIS/ArcGIS "kernel density" tool): for every grid cell at ``res``
    whose CENTER lies within ``bandwidth_m`` (haversine) of at least one
    point, the Epanechnikov kernel sum

        k_sum = sum_i floor(SCALE * (1 - (d_i/h)^2))   (exact int64)

    over the in-range points, plus n_points and density = k_sum / SCALE.
    The Epanechnikov kernel (not Gaussian) is chosen deliberately: it has
    COMPACT SUPPORT, so the candidate set is finite (cells inside each
    point's disk) and the weight needs no libm exp() — one multiply, one
    subtract, identical IEEE ops in the DuckDB twin, floor-quantized so
    the sum is order-independent.

    Scale: sparse-first like rasterize — each point explodes to the cells
    covering its bandwidth disk (O((h/cell)^2) per point, duplicate-free),
    then ONE map-side-combinable groupBy(cell). Never cells-x-points; empty
    cells are never materialized. Pick res so h spans a few cells; dense
    urban hot cells are the standard salting case upstream if a single
    cell's point count explodes."""
    from .knn import haversine_col
    from .spatial_join import disk_bbox

    n = float(cells._grid_n(res))
    h = float(bandwidth_m)
    b = disk_bbox(F.col(lon_col), F.col(lat_col), h)
    cand = points.select(
        F.col(lon_col).alias("_plon"),
        F.col(lat_col).alias("_plat"),
        F.explode(cells.covering_cells(b[0], b[1], b[2], b[3], res)).alias(
            "cell_id"
        ),
    )
    x, y = cells.cell_xy(F.col("cell_id"))
    clon = (x.cast("double") + F.lit(0.5)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    clat = (y.cast("double") + F.lit(0.5)) / F.lit(n) * F.lit(180.0) - F.lit(90.0)
    d = haversine_col(F.col("_plon"), F.col("_plat"), clon, clat)
    scored = cand.select("cell_id", d.alias("_d")).filter(F.col("_d") <= F.lit(h))
    r = F.col("_d") / F.lit(h)
    w = F.floor(F.lit(float(KDE_SCALE)) * (F.lit(1.0) - r * r)).cast("long")
    return (
        scored.select("cell_id", w.alias("_w"))
        .groupBy("cell_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("_w").cast("long").alias("k_sum"),
            F.round(
                F.sum("_w").cast("double") / F.lit(float(KDE_SCALE)), 6
            ).alias("density"),
        )
    )


def kde_surface_sql(
    points_cte: str, bandwidth_m: float, res: int = cells.DEFAULT_RES
) -> str:
    """DuckDB twin of kde_surface: brute cells-x-points with the IDENTICAL
    center/haversine/kernel arithmetic — the exact d <= h gate makes the
    Spark side's covering-cell candidate pruning invisible. ``points_cte``
    must yield (lon, lat)."""
    from .knn import haversine_sql

    n = cells._grid_n(res)
    h = float(bandwidth_m)
    clon = f"((gx + 0.5) / {float(n)}) * 360.0 - 180.0"
    clat = f"((gy + 0.5) / {float(n)}) * 180.0 - 90.0"
    cell = (
        f"(CAST({res} AS BIGINT) * {1 << cells._R_SHIFT}"
        f" + gx * {1 << cells._X_SHIFT} + gy)"
    )
    d = haversine_sql("p.lon", "p.lat", "c.clon", "c.clat")
    return f"""
WITH p AS ({points_cte}),
g AS (SELECT CAST(a.range AS BIGINT) AS gx, CAST(b.range AS BIGINT) AS gy
      FROM range(0, {n}) a, range(0, {n}) b),
c AS (SELECT {cell} AS cell_id, {clon} AS clon, {clat} AS clat FROM g),
scored AS (
  SELECT c.cell_id, {d} AS d FROM p, c
), gated AS (
  SELECT cell_id, CAST(floor({float(KDE_SCALE)} * (1.0 - (d / {h}) * (d / {h}))) AS BIGINT) AS w
  FROM scored WHERE d <= {h}
)
SELECT cell_id, CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(w) AS BIGINT) AS k_sum,
       round(CAST(sum(w) AS DOUBLE) / {float(KDE_SCALE)}, 6) AS density
FROM gated GROUP BY cell_id
"""


def semivariogram(
    points: DataFrame,
    max_dist_m: float,
    bin_width_m: float,
    res: int = cells.DEFAULT_RES,
    id_col: str = "pid",
    value_col: str = "value",
    grid: str = "flat",
) -> DataFrame:
    """Empirical (Matheron) semivariogram: bin every unordered pair of
    distinct points with d <= max_dist_m by floor(d / bin_width) and
    report per bin

        gamma(h) = sum((v_i - v_j)^2) / (2 * n_pairs).

    ``points``: (pid, lon, lat, value) with integer values. Returns
    (bin, n_pairs, ssd, gamma) ordered by bin — ssd exact int64, gamma
    the rounded scalar. Self-pairs and double counting are excluded by
    the i < j gate, so n_pairs counts unordered pairs exactly once.

    Scale: the pair enumeration is within_distance_join on the points
    against themselves (cell-covering candidates only — never all pairs;
    pairs/point ~ density * pi * max_dist^2 stays bounded for the short
    lags a variogram needs), and the rollup is a tiny map-side-combinable
    groupBy over ~max_dist/bin_width rows. int64 bound: |v_i - v_j| <=
    3e6 over any pair count up to ~1e6 per bin-partition keeps partial
    sums exact; values are cast long so the square never overflows int32.
    """
    a = points.select(
        F.col(id_col).alias("_ia"), "lon", "lat"
    )
    b = points.select(F.col(id_col).alias("_ib"), "lon", "lat")
    pairs = within_distance_join(
        a, b, max_dist_m, res=res, lid="_ia", rid="_ib", grid=grid
    ).filter(F.col("_ia") < F.col("_ib"))
    vals = points.select(
        F.col(id_col), F.col(value_col).cast("long").alias("_v")
    )
    va = vals.select(F.col(id_col).alias("_ia"), F.col("_v").alias("_va"))
    vb = vals.select(F.col(id_col).alias("_ib"), F.col("_v").alias("_vb"))
    d = F.col("_vb") - F.col("_va")
    return (
        pairs.join(va, "_ia")
        .join(vb, "_ib")
        .select(
            F.floor(F.col("dist_m") / F.lit(float(bin_width_m)))
            .cast("long")
            .alias("bin"),
            (d * d).alias("_sq"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("_sq").cast("long").alias("ssd"),
            F.round(
                F.sum("_sq").cast("double")
                / (F.lit(2.0) * F.count(F.lit(1)).cast("double")),
                6,
            ).alias("gamma"),
        )
        .orderBy("bin")
    )


def voronoi_assign(
    cell_rows: DataFrame,
    seeds: DataFrame,
    res: int,
    cell_col: str = "cell_id",
    seed_id_col: str = "seed_id",
    seed_cell_col: str = "seed_cell",
) -> DataFrame:
    """DISCRETE VORONOI PARTITION — assign every input cell to its nearest
    seed: the grid-quantized Voronoi diagram / nearest-facility labeling
    (service-area assignment, k-means E-step over a raster, coverage
    maps). Working on CELLS rather than exact bisectors keeps the whole
    diagram integer-exact and embarrassingly parallel — the standard
    trade at raster scale.

    Metric: squared equirectangular distance between cell centers in
    exact int64 grid units,

        d2 = 4 * min(|dx|, n-|dx|)^2 + dy^2

    (x wraps at the antimeridian; the factor 4 = (360/180)^2 converts the
    x-cell width to y-cell units so one unit means 180/n degrees in both
    axes). Ties break to the smallest seed_id — deterministic on both
    engines. Returns (cell_col, seed_id, d2).

    Scale: seeds BROADCAST (a Voronoi diagram's seed set is small by
    construction — facilities, cluster centers); the plan is scan ->
    broadcast nested loop -> partial min -> final min, no shuffle of the
    cell table beyond the rollup's own combine. For large seed sets use
    knn_join (ring-bounded) instead; this operator is the k-small exact
    path."""
    n = 1 << res
    sx, sy = cells.cell_xy(F.col("_scell"))
    cx, cy = cells.cell_xy(F.col(cell_col))
    s = F.broadcast(
        seeds.select(
            F.col(seed_id_col).alias("_sid"), F.col(seed_cell_col).alias("_scell")
        )
    )
    dx0 = F.abs(cx - sx)
    dxw = F.least(dx0, F.lit(n) - dx0)
    dy = cy - sy
    d2 = F.lit(4) * dxw * dxw + dy * dy
    scored = cell_rows.select(cell_col).crossJoin(s).select(
        F.col(cell_col),
        F.struct(
            d2.cast("long").alias("d2"), F.col("_sid").cast("long").alias("sid")
        ).alias("_k"),
    )
    best = scored.groupBy(cell_col).agg(F.min("_k").alias("_b"))
    return best.select(
        cell_col,
        F.col("_b.sid").alias("seed_id"),
        F.col("_b.d2").alias("d2"),
    )


def ripleys_k(
    points: DataFrame,
    radii_m: list[float],
    area_m2: float,
    res: int = cells.DEFAULT_RES,
    id_col: str = "pid",
    grid: str = "flat",
) -> DataFrame:
    """RIPLEY'S K FUNCTION — the canonical second-order point-pattern
    statistic (Ripley 1976): for each analysis radius r,

        K_hat(r) = A * n_le(r) / n^2,    L_hat(r) = sqrt(K_hat(r) / pi)

    with n_le(r) the number of ORDERED pairs of distinct points within
    great-circle distance r and A the study-area size in m^2 (caller-
    supplied — the estimator is defined relative to a window). Under
    complete spatial randomness K(r) ~ pi r^2, so L(r) ~ r; L above the
    diagonal = clustering at that scale, below = dispersion/inhibition.
    This is the multi-scale refinement of the density statistics the
    engine already carries (Moran/Gi* measure WHERE, K measures AT WHAT
    RANGE). No edge correction (the border-naive estimator) — documented,
    and exactly what the oracle replays.

    Returns one row per radius, ascending: (r_m, n_pairs_le, k_hat,
    l_hat). n_pairs_le is exact int64 (2x the unordered-pair count, both
    integers); k_hat/l_hat are a three/four-float-op assembly executed in
    the identical order by the SQL twin, rounded to 6.

    Scale: ONE within_distance_join at max(radii) — cell-covering
    candidates, never all pairs (inherits salting for dense cells) — then
    a tiny explode-by-radius rollup (len(radii) rows out). Zero-pair
    radii still emit rows via the broadcast radius spine."""
    assert radii_m and area_m2 > 0
    rmax = max(radii_m)
    a = points.select(F.col(id_col).alias("_ia"), "lon", "lat")
    b = points.select(F.col(id_col).alias("_ib"), "lon", "lat")
    n = points.count()
    pairs = within_distance_join(
        a, b, float(rmax), res=res, lid="_ia", rid="_ib", grid=grid
    ).filter(F.col("_ia") < F.col("_ib"))
    radii = sorted(float(r) for r in radii_m)
    counts = (
        pairs.select(
            F.explode(F.array(*[F.lit(r) for r in radii])).alias("r_m"),
            "dist_m",
        )
        .filter(F.col("dist_m") <= F.col("r_m"))
        .groupBy("r_m")
        .agg((F.lit(2) * F.count(F.lit(1))).cast("long").alias("n_pairs_le"))
    )
    spine = local_frame(
        points.sparkSession, [(r,) for r in radii], "r_m double"
    )
    k_hat = (
        F.lit(float(area_m2))
        * F.col("n_pairs_le").cast("double")
        / F.lit(float(n * n))
    )
    return (
        spine.join(F.broadcast(counts), "r_m", "left")
        .na.fill({"n_pairs_le": 0})
        .select(
            "r_m",
            "n_pairs_le",
            (F.round(k_hat, 6) + F.lit(0.0)).alias("k_hat"),
            (F.round(F.sqrt(k_hat / F.lit(math.pi)), 6) + F.lit(0.0)).alias(
                "l_hat"
            ),
        )
        .orderBy("r_m")
    )


def clark_evans(
    points: DataFrame,
    area_m2: float,
    res: int = cells.DEFAULT_RES,
    id_col: str = "pid",
    grid: str = "flat",
) -> DataFrame:
    """CLARK-EVANS NEAREST-NEIGHBOR INDEX (Clark & Evans 1954) — the
    first-order complement of ripleys_k: the ratio of the observed mean
    nearest-neighbor distance to the expectation under complete spatial
    randomness,

        R = r_obs / r_exp,  r_exp = 0.5 * sqrt(A / n),
        z = (r_obs - r_exp) / se,  se = 0.26136 * sqrt(A) / n

    R < 1 clustered, R > 1 dispersed (max 2.1491 for a hexagonal
    lattice); z is the standard CSR significance score. Border-naive
    (no edge correction), like ripleys_k.

    Exactness: each point's NN distance is quantized to int64 MILLIMETRES
    before the cross-point sum (round(d * 1e3) — the location-entropy
    trick), so ``sum_nn_mm`` is order-free and hash-stable; r_obs and the
    derived ratios are a short float assembly replayed in the identical
    order by the oracle. Requires n >= 2 (the NN of a lone point is
    undefined).

    Returns ONE row: (n, sum_nn_mm, r_obs_m, r_exp_m, ce_index, z).

    Scale: knn_graph(k=1) — ring-round candidate generation on the cell
    grid, cell-local, with the brute fallback only for stragglers; then a
    single combinable rollup to one row."""
    from .knn import knn_graph

    nn = knn_graph(
        points.select(F.col(id_col).alias("id"), "lon", "lat"),
        k=1,
        id_col="id",
        res=res,
        grid=grid,
    )
    d_mm = F.round(F.col("dist_m") * F.lit(1e3)).cast("long")
    agg = nn.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d_mm).cast("long").alias("sum_nn_mm"),
    )
    n_d = F.col("n").cast("double")
    r_obs = (F.col("sum_nn_mm").cast("double") / F.lit(1e3)) / n_d
    r_exp = F.lit(0.5) * F.sqrt(F.lit(float(area_m2)) / n_d)
    se = F.lit(0.26136) * F.sqrt(F.lit(float(area_m2))) / n_d
    return agg.select(
        "n",
        "sum_nn_mm",
        (F.round(r_obs, 6) + F.lit(0.0)).alias("r_obs_m"),
        (F.round(r_exp, 6) + F.lit(0.0)).alias("r_exp_m"),
        (F.round(r_obs / r_exp, 6) + F.lit(0.0)).alias("ce_index"),
        (F.round((r_obs - r_exp) / se, 6) + F.lit(0.0)).alias("z"),
    )


def viewshed(
    dem: DataFrame,
    observers: DataFrame,
    max_dist: int = 20,
) -> DataFrame:
    """GRID VIEWSHED — line-of-sight visibility along the 8 principal
    rays from each observer over an integer DEM (the radio-planning /
    terrain-analysis primitive: which cells can a tower at (ox, oy)
    actually see?).

    ``dem`` is (x, y, z) integer cells; ``observers`` is
    (obs_id, ox, oy, tower) with eye height z(ox, oy) + tower. Along
    each ray d in the 8 king directions, the sample at step t (cell
    (ox + t*dx, oy + t*dy), t = 1..max_dist) is VISIBLE iff every
    nearer sample s < t subtends a strictly smaller elevation angle:

        dz_t * s > dz_s * t        (dz = z_cell - z_eye, both int64)

    — the float-free cross-multiplied form of atan2 comparison, exact
    on both engines. Samples whose cell is absent from the DEM (off
    grid) neither block nor get scored, on both sides identically.

    Returns one row per (obs_id, ray) with n_samples, n_visible and
    max_visible_t (ray ids 0..7 in (dx, dy) = (-1,-1),(-1,0),(-1,1),
    (0,-1),(0,1),(1,-1),(1,0),(1,1) order).

    Scale: samples = observers x 8 x max_dist rows built JVM-side
    (explode of a literal ray table + sequence), ONE equi-join against
    the cell-keyed DEM, then a bounded within-ray self-join (<= max_dist
    blockers per sample — O(L) per member, never a cross join). The DEM
    join is the only big shuffle and it co-partitions by cell key; at
    planetary scale pre-bucket the DEM on (x, y)."""
    dirs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    ray_tbl = F.array(
        *[
            F.struct(
                F.lit(i).alias("ray"), F.lit(dx).alias("dx"), F.lit(dy).alias("dy")
            )
            for i, (dx, dy) in enumerate(dirs)
        ]
    )
    eye = observers.join(
        dem.select(
            F.col("x").alias("ox"), F.col("y").alias("oy"), F.col("z").alias("_z0")
        ),
        ["ox", "oy"],
    ).select(
        "obs_id", "ox", "oy",
        (F.col("_z0") + F.col("tower")).cast("long").alias("z_eye"),
    )
    samples = (
        eye.select("*", F.explode(ray_tbl).alias("r"))
        .select("*", F.explode(F.sequence(F.lit(1), F.lit(int(max_dist)))).alias("t"))
        .select(
            "obs_id",
            F.col("r.ray").alias("ray"),
            "t",
            (F.col("ox") + F.col("t") * F.col("r.dx")).alias("x"),
            (F.col("oy") + F.col("t") * F.col("r.dy")).alias("y"),
            "z_eye",
        )
        .join(dem, ["x", "y"])
        .select(
            "obs_id", "ray", "t",
            (F.col("z").cast("long") - F.col("z_eye")).alias("dz"),
        )
    )
    a = samples.alias("a")
    b = samples.select(
        F.col("obs_id").alias("b_obs"), F.col("ray").alias("b_ray"),
        F.col("t").alias("s"), F.col("dz").alias("dz_s"),
    ).alias("b")
    blocked = (
        a.join(
            b,
            (F.col("a.obs_id") == F.col("b_obs"))
            & (F.col("a.ray") == F.col("b_ray"))
            & (F.col("s") < F.col("a.t"))
            & (F.col("dz_s") * F.col("a.t") >= F.col("a.dz") * F.col("s")),
        )
        .select(
            F.col("a.obs_id").alias("obs_id"), F.col("a.ray").alias("ray"),
            F.col("a.t").alias("t"),
        )
        .distinct()
    )
    vis = samples.join(blocked, ["obs_id", "ray", "t"], "left_anti")
    n_s = samples.groupBy("obs_id", "ray").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples")
    )
    n_v = vis.groupBy("obs_id", "ray").agg(
        F.count(F.lit(1)).cast("long").alias("n_visible"),
        F.max("t").cast("long").alias("max_visible_t"),
    )
    return n_s.join(n_v, ["obs_id", "ray"], "left").select(
        "obs_id",
        F.col("ray").cast("int").alias("ray"),
        "n_samples",
        F.coalesce("n_visible", F.lit(0)).cast("long").alias("n_visible"),
        "max_visible_t",
    )


def flow_direction(dem: DataFrame) -> DataFrame:
    """D8 FLOW DIRECTION + CONVERGENCE — for every DEM cell, the
    steepest-descent neighbor among the 8 king directions (the
    hydrology routing primitive under watershed delineation and flood
    risk), plus the cell's drainage in-degree (how many neighbors drain
    INTO it — the local convergence signal).

    Exactness: slope comparison is float-free. slope^2 = dz^2 / dist^2
    with dist^2 in {1, 2}, so the integer key

        key = 2 * dz^2   (cardinal)  |  dz^2   (diagonal)

    orders candidates exactly like |dz|/dist; only DESCENDING neighbors
    (dz < 0) compete; ties break on the smallest direction id in
    (dx, dy) = (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)
    order. Cells with no descending neighbor are SINKS (dir NULL).

    Returns (x, y, z, dir, down_x, down_y, indeg).

    Scale: one explode to 8 probes, ONE cell-keyed equi-join against
    the DEM (bucket by (x, y) at scale), an exact max-struct argmax
    (no window, map-side combinable), and one groupBy for in-degree.
    No geometry, no floats, no iteration."""
    dirs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    probe_tbl = F.array(
        *[
            F.struct(
                F.lit(i).alias("dir"),
                F.lit(dx).alias("dx"),
                F.lit(dy).alias("dy"),
                F.lit(2 if dx * dy == 0 else 1).alias("wt"),
            )
            for i, (dx, dy) in enumerate(dirs)
        ]
    )
    nb = (
        dem.select("x", "y", F.col("z").cast("long").alias("z"),
                   F.explode(probe_tbl).alias("p"))
        .select(
            "x", "y", "z",
            F.col("p.dir").alias("dir"),
            F.col("p.wt").alias("wt"),
            (F.col("x") + F.col("p.dx")).alias("nx"),
            (F.col("y") + F.col("p.dy")).alias("ny"),
        )
        .join(
            dem.select(
                F.col("x").alias("nx"), F.col("y").alias("ny"),
                F.col("z").cast("long").alias("nz"),
            ),
            ["nx", "ny"],
        )
        .withColumn("dz", F.col("nz") - F.col("z"))
        .filter(F.col("dz") < 0)
    )
    key = F.col("wt") * F.col("dz") * F.col("dz")
    best = nb.groupBy("x", "y").agg(
        F.max(
            F.struct(
                key.alias("k"),
                (-F.col("dir")).alias("nr"),
                F.col("dir").alias("dir"),
                F.col("nx").alias("down_x"),
                F.col("ny").alias("down_y"),
            )
        ).alias("b")
    ).select(
        "x", "y",
        F.col("b.dir").cast("int").alias("dir"),
        F.col("b.down_x").alias("down_x"),
        F.col("b.down_y").alias("down_y"),
    )
    flow = dem.join(best, ["x", "y"], "left")
    indeg = (
        flow.filter(F.col("down_x").isNotNull())
        .groupBy(
            F.col("down_x").alias("x"), F.col("down_y").alias("y")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("indeg"))
    )
    return flow.join(indeg, ["x", "y"], "left").select(
        "x", "y", F.col("z").cast("long").alias("z"), "dir",
        "down_x", "down_y",
        F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
    )


def watershed_basins(dem: DataFrame, max_path: int = 4096) -> DataFrame:
    """WATERSHED DELINEATION — every DEM cell labeled with the SINK it
    ultimately drains to by following D8 steepest-descent pointers (the
    basin segmentation behind catchment stats and flood aggregation).

    Built on flow_direction's exact routing; the pointer chase uses
    POINTER DOUBLING: each round joins the current pointer table to
    itself (follow(x) := follow(follow(x))), so a drainage path of
    length L resolves in ceil(log2 L) shuffles, not L — the technique
    that makes million-step river networks tractable. ``max_path``
    bounds the supported path length (rounds = ceil(log2(max_path))).

    Returns (x, y, sink_x, sink_y, basin_id) with
    basin_id = sink_y * 2^32 + sink_x (stable integer label); sinks
    label themselves. All arithmetic integer; a recursive-CTE twin
    following single steps hash-matches exactly.

    Scale: O(log max_path) self equi-joins on the cell key over
    (cell, pointer) pairs — each round halves the remaining depth;
    lineage kept flat with localCheckpoint per round."""
    import math

    flow = flow_direction(dem).select(
        "x", "y",
        # sinks point at themselves - the fixed point of the chase
        F.coalesce("down_x", F.col("x")).alias("px"),
        F.coalesce("down_y", F.col("y")).alias("py"),
    ).localCheckpoint(eager=False)
    rounds = max(1, int(math.ceil(math.log2(max(2, int(max_path))))))
    cur = flow
    for _ in range(rounds):
        nxt = cur.select(
            F.col("x").alias("px"), F.col("y").alias("py"),
            F.col("px").alias("qx"), F.col("py").alias("qy"),
        )
        cur = (
            cur.join(nxt, ["px", "py"])
            .select(
                "x", "y",
                F.col("qx").alias("px"), F.col("qy").alias("py"),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select(
        "x", "y",
        F.col("px").alias("sink_x"), F.col("py").alias("sink_y"),
        (F.col("py") * F.lit(2**32) + F.col("px")).cast("long").alias("basin_id"),
    )


def tree_rollup(
    nodes: DataFrame,
    max_rounds: int = 6,
    id_col: str = "node_id",
    parent_col: str = "parent_id",
    weight_col: str = "w",
) -> DataFrame:
    """(node_id, depth, root_id, subtree_n, subtree_w) — HIERARCHY
    ROLLUP over a parent-pointer forest (the org-chart / category-tree
    / file-system recursive aggregate every warehouse needs and plain
    SQL groupBy cannot express): per node its depth, its root, and the
    exact count/weight-sum of its whole subtree (self included).

    The ancestor closure is built by POINTER DOUBLING — round k holds
    every (descendant, ancestor) pair at distance < 2^k, and one
    self-join doubles the horizon — so a depth-D forest needs
    ceil(log2 D) + 1 rounds, not D.  ``max_rounds`` = 6 covers depth
    64.  Cycles are the caller's bug (forests only); all sums exact
    int64.

    Scale: the closure has n·depth rows — the inherent size of the
    answer for path-dependent aggregates; each round is one equi-join
    shuffle on node id. Subtree sums and depths are then combinable
    rollups over the closure. Real hierarchies (org charts, catalogs,
    admin-area trees) have depth 5-20, so the closure is a small
    constant times the node table."""
    v = nodes.select(
        F.col(id_col).cast("long").alias("v"),
        F.col(parent_col).cast("long").alias("p"),
        F.col(weight_col).cast("long").alias("w"),
    )
    # closure of strict ancestors: (d)escendant -> (a)ncestor
    clos = v.filter(F.col("p").isNotNull()).select(
        F.col("v").alias("d"), F.col("p").alias("a")
    )
    for _ in range(int(max_rounds)):
        hop = clos.alias("x").join(
            clos.alias("y"), F.col("x.a") == F.col("y.d")
        ).select(F.col("x.d").alias("d"), F.col("y.a").alias("a"))
        new = clos.unionByName(hop).distinct().localCheckpoint(eager=False)
        if new.count() == clos.count():
            clos = new
            break
        clos = new
    roots = v.filter(F.col("p").isNull()).select(F.col("v").alias("a"))
    depth = clos.groupBy("d").agg(F.count(F.lit(1)).alias("depth"))
    root_of = clos.join(roots, "a").select(
        F.col("d").alias("v"), F.col("a").alias("root_id")
    )
    sub = (
        clos.join(
            v.select(F.col("v").alias("d"), F.col("w").alias("dw")), "d"
        )
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("desc_n"), F.sum("dw").alias("desc_w"))
    )
    return (
        v.join(depth, v["v"] == depth["d"], "left")
        .drop("d")
        .join(root_of.withColumnRenamed("v", "_rv"), v["v"] == F.col("_rv"), "left")
        .drop("_rv")
        .join(sub, v["v"] == sub["a"], "left")
        .drop("a")
        .select(
            F.col("v").alias(id_col),
            F.coalesce("depth", F.lit(0)).alias("depth"),
            F.coalesce("root_id", F.col("v")).alias("root_id"),
            (F.coalesce("desc_n", F.lit(0)) + 1).alias("subtree_n"),
            (F.coalesce("desc_w", F.lit(0)) + F.col("w")).alias("subtree_w"),
        )
    )


def tree_rollup_sql(nodes_cte: str) -> str:
    """DuckDB twin of tree_rollup — recursive-CTE ancestor closure,
    identical rollups.  ``nodes_cte`` -> (node_id, parent_id, w)."""
    return f"""
WITH RECURSIVE v AS (
  SELECT CAST(node_id AS BIGINT) AS v, CAST(parent_id AS BIGINT) AS p,
         CAST(w AS BIGINT) AS w
  FROM ({nodes_cte})
),
clos(d, a) AS (
  SELECT v, p FROM v WHERE p IS NOT NULL
  UNION
  SELECT c.d, v.p FROM clos c JOIN v ON v.v = c.a WHERE v.p IS NOT NULL
),
depth AS (SELECT d, count(*) AS depth FROM clos GROUP BY 1),
root_of AS (
  SELECT c.d AS v, c.a AS root_id
  FROM clos c JOIN v r ON r.v = c.a AND r.p IS NULL
),
sub AS (
  SELECT c.a, count(*) AS desc_n, CAST(sum(w.w) AS BIGINT) AS desc_w
  FROM clos c JOIN v w ON w.v = c.d GROUP BY 1
)
SELECT v.v AS node_id,
       CAST(COALESCE(depth.depth, 0) AS BIGINT) AS depth,
       COALESCE(root_of.root_id, v.v) AS root_id,
       CAST(COALESCE(sub.desc_n, 0) + 1 AS BIGINT) AS subtree_n,
       CAST(COALESCE(sub.desc_w, 0) + v.w AS BIGINT) AS subtree_w
FROM v
LEFT JOIN depth ON depth.d = v.v
LEFT JOIN root_of ON root_of.v = v.v
LEFT JOIN sub ON sub.a = v.v
"""



def decluster_weights(
    points: DataFrame,
    res: int = 5,
    id_col: str = "pid",
    lon_col: str = "lon",
    lat_col: str = "lat",
    value_col: str | None = None,
) -> DataFrame:
    """(pid, cell_id, c_cell, w_num, w_den, weight[, value]) — CELL
    DECLUSTERING weights (GSLIB DECLUS, Deutsch 1989): preferentially-
    sampled point sets (dense clusters where drilling/measuring was
    cheap) bias any naive mean; the cell method gives sample i in a
    cell holding c_i samples the weight

        w_i = n / (c_i · n_cells)          (Σ w_i = n exactly)

    kept EXACT as the integer rational (w_num = n, w_den = c_i·n_cells)
    with one pinned IEEE division for the double. The declustered mean
    is then Σ w_i·v_i / n downstream.

    Scale: one combinable cell rollup + a cell-keyed join back (the
    count relation is occupied-cell sized — broadcastable), two scalar
    aggregates. Scan-shaped; no window."""
    pts = points.select(
        F.col(id_col).alias("pid"),
        cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("cell_id"),
        *([F.col(value_col).alias("value")] if value_col else []),
    )
    per_cell = pts.groupBy("cell_id").agg(
        F.count(F.lit(1)).cast("long").alias("c_cell")
    )
    tot = per_cell.agg(
        F.sum("c_cell").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_ncells"),
    )
    out = (
        pts.join(F.broadcast(per_cell), "cell_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "pid",
            "cell_id",
            "c_cell",
            F.col("_n").alias("w_num"),
            (F.col("c_cell") * F.col("_ncells")).cast("long").alias("w_den"),
            (
                F.col("_n").cast("double")
                / (F.col("c_cell") * F.col("_ncells")).cast("double")
            ).alias("weight"),
            *(["value"] if value_col else []),
        )
    )
    return out


def decluster_weights_sql(
    points_cte: str,
    res: int = 5,
    id_col: str = "pid",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> str:
    """DuckDB twin of decluster_weights."""
    cell = cells.cell_id_sql(lon_col, lat_col, res)
    return f"""
WITH src AS ({points_cte}),
pts AS (SELECT {id_col} AS pid, {cell} AS cell_id FROM src),
per_cell AS (
  SELECT cell_id, CAST(count(*) AS BIGINT) AS c_cell
  FROM pts GROUP BY cell_id
),
tot AS (
  SELECT CAST(sum(c_cell) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS ncells
  FROM per_cell
)
SELECT pid, pts.cell_id, c_cell,
       tot.n AS w_num,
       CAST(c_cell * tot.ncells AS BIGINT) AS w_den,
       CAST(tot.n AS DOUBLE) / CAST(c_cell * tot.ncells AS DOUBLE) AS weight
FROM pts JOIN per_cell ON per_cell.cell_id = pts.cell_id, tot
"""


def k_centers(
    pts: DataFrame,
    k: int = 5,
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(round, pid, x, y, d2_when_added) — GONZALEZ FARTHEST-POINT
    K-CENTERS (Gonzalez 1985, the 2-approximation for minimax facility
    placement / coreset seeding / kmeans++ deterministic cousin): the
    first center is the LOWEST-id point; each round adds the point
    farthest from its nearest existing center (squared Euclidean, ties
    to lowest id). d2_when_added is the covering radius² just before
    that center joins — monotone non-increasing, the classic coverage
    curve.

    Exactness: integer coordinates, int64 squared distances, pinned
    (d2 DESC, id ASC) argmax — no RNG, no floats, engine-identical.

    Scale: each of the k rounds is ONE scan with the current centers as
    a broadcast literal array (min-over-centers is a column expression)
    plus a 1-row TakeOrdered — O(k) tiny jobs, points never shuffle.
    The SQL twin unrolls the same rounds as materialized CTEs."""
    base = pts.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint(eager=False)
    first = base.orderBy("pid").limit(1).collect()
    if not first:
        return local_frame(
            pts.sparkSession,
            [],
            "round int, pid long, x long, y long, d2_when_added long",
        )
    centers = [(1, first[0]["pid"], first[0]["x"], first[0]["y"], None)]
    for r in range(2, int(k) + 1):
        d2 = None
        for _, _, cx, cy, _ in centers:
            t = (F.col("x") - F.lit(cx)) ** 2 + (F.col("y") - F.lit(cy)) ** 2
            d2 = t if d2 is None else F.least(d2, t)
        top = (
            base.withColumn("_d2", d2.cast("long"))
            .orderBy(F.col("_d2").desc(), F.col("pid").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["_d2"] == 0:
            break
        centers.append(
            (r, top[0]["pid"], top[0]["x"], top[0]["y"], top[0]["_d2"])
        )
    return local_frame(
        pts.sparkSession,
        centers,
        "round int, pid long, x long, y long, d2_when_added long",
    )


def k_centers_sql(pts_cte: str, k: int = 5) -> str:
    """DuckDB twin of k_centers — identical unrolled rounds; each round
    re-derives the min distance to all previously selected centers via
    scalar subqueries on the prior winner CTEs."""
    parts = [
        f"""kc_p AS MATERIALIZED (
  SELECT CAST(pid AS BIGINT) AS pid, CAST(x AS BIGINT) AS x,
         CAST(y AS BIGINT) AS y
  FROM ({pts_cte})
),
kc_c1 AS MATERIALIZED (
  SELECT 1 AS round, pid, x, y, CAST(NULL AS BIGINT) AS d2
  FROM kc_p ORDER BY pid LIMIT 1
)"""
    ]
    for r in range(2, int(k) + 1):
        prevs = ["kc_c1"] + [f"kc_c{i}" for i in range(2, r)]
        mind = "least(" + ", ".join(
            f"(p.x - (SELECT x FROM {c})) * (p.x - (SELECT x FROM {c}))"
            f" + (p.y - (SELECT y FROM {c})) * (p.y - (SELECT y FROM {c}))"
            for c in prevs
        ) + ")" if len(prevs) > 1 else (
            f"(p.x - (SELECT x FROM kc_c1)) * (p.x - (SELECT x FROM kc_c1))"
            f" + (p.y - (SELECT y FROM kc_c1)) * (p.y - (SELECT y FROM kc_c1))"
        )
        parts.append(
            f"""kc_c{r} AS MATERIALIZED (
  SELECT {r} AS round, p.pid, p.x, p.y, CAST({mind} AS BIGINT) AS d2
  FROM kc_p p
  ORDER BY {mind} DESC, p.pid ASC LIMIT 1
)"""
        )
    sel = " UNION ALL ".join(
        f"SELECT round, pid, x, y, d2 AS d2_when_added FROM kc_c{r}"
        + (" WHERE d2 > 0" if r > 1 else "")
        for r in range(1, int(k) + 1)
    )
    return f"""
WITH {','.join(parts)}
SELECT CAST(round AS INTEGER) AS round, pid, x, y, d2_when_added
FROM ({sel})
"""


def shortest_dists(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    directed: bool = True,
) -> DataFrame:
    """(node, dist) — the minimum total edge weight from ANY source to each
    node over walks of at most ``max_hops`` edges (bounded Bellman-Ford:
    travel-time isochrones). Weights must be nonnegative; keep them integer for a
    bit-exact oracle. Unreached nodes (within the cap) are absent; sources
    report dist = 0.

    Each round is ONE relax shuffle (dist ⋈ edges on src, then a min-
    rollup over the union with the current labels) — the Pregel superstep
    as relational algebra, localCheckpoint'ed so iterative lineage stays
    flat. Early exit uses an exact two-scalar probe: distances only ever
    decrease and the node set only grows, so an unchanged
    (count, sum(dist)) pair proves a fixed point — no join against the
    previous round needed.

    At 10^12-edge scale the per-round shuffle carries only (node, dist)
    pairs and the rollup is map-side combinable; rounds <= max_hops is
    the product spec (bounded reach)."""
    e = edges.select(
        F.col(src_col).alias("_s"),
        F.col(dst_col).alias("_d"),
        F.col(weight_col).cast("long").alias("_w"),
    )
    if not directed:
        e = e.unionByName(
            edges.select(
                F.col(dst_col).alias("_s"),
                F.col(src_col).alias("_d"),
                F.col(weight_col).cast("long").alias("_w"),
            )
        )
    dist = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    sig = dist.agg(F.count(F.lit(1)), F.sum("dist")).collect()[0]
    for _ in range(max_hops):
        relaxed = dist.join(e, dist["node"] == e["_s"]).select(
            F.col("_d").alias("node"), (F.col("dist") + F.col("_w")).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
        nsig = dist.agg(F.count(F.lit(1)), F.sum("dist")).collect()[0]
        if tuple(nsig) == tuple(sig):
            break
        sig = nsig
    return dist


def shortest_dists_sql(
    edges_cte: str, sources_cte: str, max_hops: int, directed: bool = True
) -> str:
    """DuckDB recursive-CTE twin of shortest_dists: enumerate (node, dist,
    hops) walk states up to the cap (UNION dedups identical states), then
    min(dist) per node. Positive integer weights keep the state space
    finite and the arithmetic engine-exact."""
    und = (
        " UNION SELECT dst AS src, src AS dst, w FROM e0" if not directed else ""
    )
    return f"""
WITH RECURSIVE e0 AS ({edges_cte}),
e AS (SELECT src, dst, w FROM e0{und}),
s AS ({sources_cte}),
walk(node, dist, hops) AS (
  SELECT node, CAST(0 AS BIGINT), 0 FROM s
  UNION
  SELECT e.dst, walk.dist + e.w, walk.hops + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.hops < {max_hops}
)
SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM walk GROUP BY node
"""



def cost_distance(
    dem: DataFrame,
    sources: DataFrame,
    max_hops: int = 12,
    slope_cap: int = 3,
) -> DataFrame:
    """(x, y, dist) — COST DISTANCE over a raster DEM: the minimum
    accumulated traversal cost from any source cell through the
    4-neighbor grid, with per-step cost 1 + min(|Δz|, slope_cap) —
    flat terrain costs 1, steep steps up to 1 + slope_cap. The
    cost-surface primitive of siting and accessibility analysis
    (wildfire reach, wheelchair routing, least-cost corridors), and
    the weighted sibling of the D8 flow operators.

    BY COMPOSITION: the DEM becomes an undirected integer-weighted
    grid graph (two +1-offset self-joins — no kernel) and the
    distances are shortest_dists' bounded Bellman-Ford, so
    exactness, early-exit, and the per-round shuffle story are
    inherited wholesale. The cap on |Δz| keeps the weight alphabet
    tiny, which also bounds the oracle's walk-state space.

    Unreached cells (outside max_hops) are absent; sources are 0.

    Scale: the grid graph is 2 rows per cell (never materialized
    wider); each Bellman-Ford round moves (cell, dist) pairs only."""
    d = dem.select("x", "y", F.col("z").cast("long").alias("z"))
    a = d.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("z").alias("az")
    )
    right = d.select(
        (F.col("x") - 1).alias("ax"),
        F.col("y").alias("ay"),
        F.col("z").alias("bz"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    down = d.select(
        F.col("x").alias("ax"),
        (F.col("y") - 1).alias("ay"),
        F.col("z").alias("bz"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
    )
    n_side = 1 << 20  # node id packing pitch (grids far smaller)
    edges = (
        a.join(right, ["ax", "ay"])
        .unionByName(a.join(down, ["ax", "ay"]))
        .select(
            (F.col("ay") * n_side + F.col("ax")).alias("src"),
            (F.col("by") * n_side + F.col("bx")).alias("dst"),
            (
                F.lit(1)
                + F.least(F.abs(F.col("bz") - F.col("az")), F.lit(slope_cap))
            ).alias("w"),
        )
    )
    srcs = sources.select(
        (F.col("y") * n_side + F.col("x")).alias("node")
    )
    dist = shortest_dists(
        edges, srcs, max_hops=max_hops, directed=False
    )
    return dist.select(
        (F.col("node") % n_side).alias("x"),
        F.floor(F.col("node") / n_side).cast("long").alias("y"),
        "dist",
    )


def cost_distance_sql(
    dem_cte: str,
    sources_cte: str,
    max_hops: int = 12,
    slope_cap: int = 3,
) -> str:
    """DuckDB twin of cost_distance — the same grid-graph construction
    composed over shortest_dists_sql's recursive walk.
    ``dem_cte`` -> (x, y, z); ``sources_cte`` -> (x, y)."""
    n_side = 1 << 20
    edges = f"""
  SELECT a.y * {n_side} + a.x AS src, b.y * {n_side} + b.x AS dst,
         1 + least(abs(b.z - a.z), {slope_cap}) AS w
  FROM ({dem_cte}) a JOIN ({dem_cte}) b
    ON (b.x = a.x + 1 AND b.y = a.y) OR (b.x = a.x AND b.y = a.y + 1)
"""
    srcs = f"SELECT y * {n_side} + x AS node FROM ({sources_cte})"
    inner = shortest_dists_sql(edges, srcs, max_hops=max_hops, directed=False)
    return f"""
SELECT node % {n_side} AS x, node // {n_side} AS y, dist
FROM ({inner})
"""


def median_center(
    pts: DataFrame,
    rounds: int = 4,
    w_scale: int = 1_000_000,
    group_col: str = "g",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(g, n, cx0, cy0, cx, cy) — per-group GEOMETRIC MEDIAN (Weiszfeld
    1937 iteration, the "median center" of every GIS toolbox): the
    point minimizing the SUM of distances to the group's points —
    robust facility location / cluster-prototype pick where the
    centroid is outlier-dragged. (cx0, cy0) is the integer centroid
    seed; (cx, cy) the center after ``rounds`` fixed-point updates.

    Engine-exact scheme: coordinates must be NONNEGATIVE integers
    (quantize upstream; |Σx| < 2^52 so the seed's floor(Σx/n) IEEE
    division is exact). Each round, per point: d = sqrt(int64 squared
    distance) (IEEE sqrt is correctly rounded — bit-identical
    cross-engine), weight w = floor(w_scale / d) (IEEE divide then
    floor, deterministic), points AT the current center drop out
    (classic Weiszfeld handling), and the new center is
    Σ(w·x) DIV Σw — all-int64 products and sums, order-free. A group
    whose every point sits on the center keeps its center.

    Scale: rounds × one broadcast join (centers are one row per group)
    + one combinable rollup — the point set is scanned ``rounds``
    times, never shuffled on itself; the iteration state is O(groups)."""
    p = pts.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint(eager=False)
    seed = p.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("cx"),
        F.floor(F.sum("y") / F.count(F.lit(1))).cast("long").alias("cy"),
    )
    cent = seed.select("g", "cx", "cy").localCheckpoint(eager=False)
    for _ in range(rounds):
        j = p.join(F.broadcast(cent), "g")
        dx = F.col("x") - F.col("cx")
        dy = F.col("y") - F.col("cy")
        d2 = dx * dx + dy * dy
        w = F.when(d2 > 0, F.floor(F.lit(w_scale) / F.sqrt(d2.cast("double"))))
        upd = j.groupBy("g").agg(
            F.sum(w).cast("long").alias("sw"),
            F.sum(w * F.col("x")).cast("long").alias("swx"),
            F.sum(w * F.col("y")).cast("long").alias("swy"),
            F.first("cx").alias("pcx"),
            F.first("cy").alias("pcy"),
        )
        cent = upd.select(
            "g",
            F.when(F.col("sw") > 0, F.expr("CAST(swx DIV sw AS BIGINT)"))
            .otherwise(F.col("pcx"))
            .alias("cx"),
            F.when(F.col("sw") > 0, F.expr("CAST(swy DIV sw AS BIGINT)"))
            .otherwise(F.col("pcy"))
            .alias("cy"),
        ).localCheckpoint(eager=False)
    return (
        seed.select("g", "n", F.col("cx").alias("cx0"), F.col("cy").alias("cy0"))
        .join(cent, "g")
        .select("g", "n", "cx0", "cy0", "cx", "cy")
    )


def median_center_sql(pts_cte: str, rounds: int = 4, w_scale: int = 1_000_000) -> str:
    """DuckDB twin of median_center: identical seed and unrolled rounds
    (MATERIALIZED — chained CTEs inline exponentially otherwise).
    ``pts_cte`` -> (g, x, y) nonnegative integers."""
    parts = [
        f"""mc_p AS MATERIALIZED (
  SELECT g, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y FROM ({pts_cte})
),
mc_seed AS MATERIALIZED (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(floor(SUM(x) / COUNT(*)) AS BIGINT) AS cx,
         CAST(floor(SUM(y) / COUNT(*)) AS BIGINT) AS cy
  FROM mc_p GROUP BY 1
),
mc_c0 AS MATERIALIZED (SELECT g, cx, cy FROM mc_seed)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""mc_c{i} AS MATERIALIZED (
  SELECT u.g,
         CASE WHEN u.sw > 0 THEN CAST(u.swx // u.sw AS BIGINT)
              ELSE u.pcx END AS cx,
         CASE WHEN u.sw > 0 THEN CAST(u.swy // u.sw AS BIGINT)
              ELSE u.pcy END AS cy
  FROM (
    SELECT p.g,
           CAST(SUM(w) AS BIGINT) AS sw,
           CAST(SUM(w * p.x) AS BIGINT) AS swx,
           CAST(SUM(w * p.y) AS BIGINT) AS swy,
           MIN(c.cx) AS pcx, MIN(c.cy) AS pcy
    FROM (
      SELECT p0.g, p0.x, p0.y,
             CASE WHEN (p0.x - c0.cx) * (p0.x - c0.cx)
                       + (p0.y - c0.cy) * (p0.y - c0.cy) > 0
                  THEN CAST(floor({w_scale} / sqrt(CAST(
                       (p0.x - c0.cx) * (p0.x - c0.cx)
                       + (p0.y - c0.cy) * (p0.y - c0.cy) AS DOUBLE)))
                       AS BIGINT)
                  ELSE NULL END AS w
      FROM mc_p p0 JOIN mc_c{i - 1} c0 USING (g)
    ) p
    JOIN mc_c{i - 1} c USING (g)
    GROUP BY 1
  ) u
)"""
        )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT s.g, s.n, s.cx AS cx0, s.cy AS cy0, c.cx, c.cy
FROM mc_seed s JOIN mc_c{rounds} c USING (g)
"""
