"""Cell-local spatial joins (E2 point-in-polygon, E4 raster-tile<->vector).

Design (SURVEY §2.3, BASELINE.json north_star):

* Both sides are keyed by the E1 cell grid: points by ``cell_id(lon,lat)``,
  polygons/tile-footprints by their bbox covering cells (exploded).
* The equi-join on ``cell_id`` is the only shuffle; the polygon side is
  **broadcast** when small (fixture polygon sets are ~KBs; a planet polygon
  table shuffles instead — caller's flag).
* Point-in-polygon refines in the JVM: each (cell, polygon) shard row
  carries only the ring edges a ray cast from that cell can cross, plus a
  parity bit per ring for the edges every such ray crosses, and one filter
  expression folds them per point (ray casting against cell-local polygon
  shards). No point crosses into Python.
* The raster<->vector exact refine (vectorized NumPy over Arrow batches)
  runs cell-locally after the join, grouped by polygon so each polygon
  decodes once per partition batch.

A brute-force variant (no cells, NumPy ray cast) exists as the tests'
oracle.
"""

from __future__ import annotations

from typing import Iterator

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import geom
from ..functions import kernels as K
from ..sources.local import arrow_table, local_frame
from . import cells


# ---------------------------------------------------------------- helpers


def polygons_to_df(spark, polys: list[tuple[int, bytes]]) -> DataFrame:
    """[(poly_id, gpb)] -> DataFrame(poly_id, gpb, minx, miny, maxx, maxy).

    A local relation: ``point_in_polygon_join``'s collect of it runs no
    Spark job, and a join against it is planned as a broadcast."""
    rows = []
    for pid, g in polys:
        minx, miny, maxx, maxy = geom.bbox(g)
        rows.append((pid, bytearray(g), minx, miny, maxx, maxy))
    return local_frame(
        spark,
        rows,
        "poly_id long, gpb binary, minx double, miny double, maxx double, maxy double",
    )


def shard_polygons(polys_df: DataFrame, res: int) -> DataFrame:
    """Explode each polygon to its bbox covering cells: (cell_id, poly_id, gpb)."""
    cov = cells.covering_cells(
        F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), res
    )
    return polys_df.select(
        "poly_id", "gpb", F.explode(cov).alias("cell_id")
    )


def sphere_shard_polygons(polys_df: DataFrame, res: int) -> DataFrame:
    """shard_polygons on the sphere grid (Arrow-batched coverer UDF)."""
    from . import cells_sphere as SPH

    cov = SPH.sphere_covering_cells_udf(
        F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy"), res
    )
    return polys_df.select("poly_id", "gpb", F.explode(cov).alias("cell_id"))


_CELL_EPS = 1e-9  # conservative pad >> float error of the JVM cell assignment

# The PIP shard table: one row per (cell, polygon) pair a point can match.
# ``rings`` is NULL for a cell wholly inside the polygon; for a boundary
# cell it holds each ring's ray-cast state for the points of that cell
# (see _cell_rings), which _in_rings folds per point.
SHARD_SCHEMA = (
    "cell_id long, poly_id long, rings array<struct<hole boolean, parity boolean, "
    "edges array<struct<x1 double, y1 double, x2 double, y2 double>>>>"
)


def _classify_cell(rings, cx0, cy0, cx1, cy1) -> str:
    """'inside' / 'outside' / 'boundary' for the closed cell rectangle.

    Any ring segment whose bbox touches the (padded) cell makes it boundary
    — conservative, so the fast path is provably exact: a non-boundary cell
    is uniformly inside or outside, decided by its center point."""
    cx0 -= _CELL_EPS
    cy0 -= _CELL_EPS
    cx1 += _CELL_EPS
    cy1 += _CELL_EPS
    for ring, _ in rings:
        x, y = ring[:, 0], ring[:, 1]
        sx0 = np.minimum(x[:-1], x[1:])
        sx1 = np.maximum(x[:-1], x[1:])
        sy0 = np.minimum(y[:-1], y[1:])
        sy1 = np.maximum(y[:-1], y[1:])
        if bool(((sx0 <= cx1) & (sx1 >= cx0) & (sy0 <= cy1) & (sy1 >= cy0)).any()):
            return "boundary"
    c = np.array([[(cx0 + cx1) / 2.0, (cy0 + cy1) / 2.0]])
    inside = False
    for ring, is_hole in rings:  # same fold as _in_rings
        hit = bool(K.points_in_ring(c, ring)[0])
        inside = (inside and not hit) if is_hole else (inside or hit)
    return "inside" if inside else "outside"


def _cell_rings(rings, bx0, by0, bx1, by1) -> list:
    """The eastward ray cast of ``kernels.points_in_ring`` cut down to the
    points of one padded cell box [bx0, bx1] x [by0, by1]: a list of
    (hole, parity, edges) in ``geom.all_rings`` order.

    An edge no ray from the box can cross is dropped: a horizontal one, one
    wholly above or below the box's latitude band, one wholly west of the
    box. An edge wholly east of the box that spans the whole band crosses
    every ray from the box; it is dropped too and flips the ring's parity.
    The other edges are kept and cast per point. A ring left with no edges
    and even parity hits no point of the box and so leaves the ring fold
    unchanged; it is dropped."""
    out = []
    for ring, is_hole in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        ylo, yhi = np.minimum(y1, y2), np.maximum(y1, y2)
        live = (y1 != y2) & (yhi >= by0) & (ylo <= by1) & (np.maximum(x1, x2) >= bx0)
        spans = live & (np.minimum(x1, x2) > bx1) & (ylo <= by0) & (yhi > by1)
        keep = live & ~spans
        parity = bool(np.count_nonzero(spans) % 2)
        if parity or keep.any():
            edges = np.column_stack([x1, y1, x2, y2])[keep].tolist()
            out.append((bool(is_hole), parity, [tuple(e) for e in edges]))
    return out


def classified_shards(polys: list[tuple[int, bytes]], res: int):
    """Shard build for a polygon set on the flat grid: returns
    (inside_rows, boundary_rows, boundary_rings) where rows are
    (cell_id, poly_id) at ``res`` and ``boundary_rings[k]`` is the
    ``_cell_rings`` of ``boundary_rows[k]``. Outside cells are dropped
    here — they never join."""
    n = 1 << res
    inside, boundary, boundary_rings = [], [], []
    for pid, g in polys:
        g = bytes(g)
        rings = geom.all_rings(g)
        minx, miny, maxx, maxy = geom.bbox(g)
        x0 = max(0, min(n - 1, int((minx + 180.0) / 360.0 * n)))
        x1 = max(0, min(n - 1, int((maxx + 180.0) / 360.0 * n)))
        y0 = max(0, min(n - 1, int((miny + 90.0) / 180.0 * n)))
        y1 = max(0, min(n - 1, int((maxy + 90.0) / 180.0 * n)))
        for x in range(x0, x1 + 1):
            cx0 = -180.0 + x * 360.0 / n
            cx1 = -180.0 + (x + 1) * 360.0 / n
            for y in range(y0, y1 + 1):
                cy0 = -90.0 + y * 180.0 / n
                cy1 = -90.0 + (y + 1) * 180.0 / n
                st = _classify_cell(rings, cx0, cy0, cx1, cy1)
                if st == "inside":
                    inside.append((cells.pack_cell_py(res, x, y), pid))
                elif st == "boundary":
                    boundary.append((cells.pack_cell_py(res, x, y), pid))
                    boundary_rings.append(_cell_rings(
                        rings, cx0 - _CELL_EPS, cy0 - _CELL_EPS,
                        cx1 + _CELL_EPS, cy1 + _CELL_EPS,
                    ))
    return inside, boundary, boundary_rings


def sphere_classified_shards(polys: list[tuple[int, bytes]], res: int):
    """Shard build on the SPHERE grid (cells_sphere): returns
    (inside_rows, boundary_rows, boundary_rings) as ``classified_shards``.

    Covering cells come from the hierarchical sphere coverer; each cell is
    classified against the polygon via its conservative lon/lat box
    (cell_lonlat_boxes): a cell whose padded box touches no polygon segment
    bbox is uniformly inside/outside (decided by the box center — the
    padded box is a connected planar region containing the cell, so if the
    polygon boundary misses the box, box and cell share one side), and a
    boundary cell's rings are cut down to that box.
    Pole-touching / antimeridian-wrapping cells (clean=False) are planar-
    disconnected, so they always go to the boundary class with every
    non-horizontal edge and no parity."""
    from . import cells_sphere as SPH

    inf = float("inf")
    inside, boundary, boundary_rings = [], [], []
    for pid, g in polys:
        g = bytes(g)
        rings = geom.all_rings(g)
        minx, miny, maxx, maxy = geom.bbox(g)
        for cell in SPH.sphere_covering_cells_py(minx, miny, maxx, maxy, res):
            f, _, i, j = SPH.sphere_parts_py(cell)
            boxes, clean = SPH._boxes_cached(f, res, i, j)
            if not clean:
                boundary.append((cell, pid))
                boundary_rings.append(_cell_rings(rings, -inf, -inf, inf, inf))
                continue
            bx0, by0, bx1, by1 = boxes[0]
            st = _classify_cell(rings, bx0, by0, bx1, by1)
            if st == "inside":
                inside.append((cell, pid))
            elif st == "boundary":
                boundary.append((cell, pid))
                boundary_rings.append(_cell_rings(
                    rings, bx0 - _CELL_EPS, by0 - _CELL_EPS,
                    bx1 + _CELL_EPS, by1 + _CELL_EPS,
                ))
    return inside, boundary, boundary_rings


def _shard_rows(polys: list, res: int, grid: str, compact: bool) -> list:
    """``SHARD_SCHEMA`` rows of a polygon layer: the interior cells with
    NULL rings, compacted when ``compact`` (H3-compactCells analogue: 4
    interior siblings collapse to their parent until fixpoint, so the
    interior shrinks from ~area/cell_area rows to ~perimeter/cell_width),
    then the boundary cells at ``res``."""
    if grid == "sphere":
        from . import cells_sphere as SPH

        inside, boundary, rings = sphere_classified_shards(polys, res)
        compact_fn = SPH.sphere_compact_cells_py
    else:
        inside, boundary, rings = classified_shards(polys, res)
        compact_fn = cells.compact_cells_py
    if compact and inside:
        inside = compact_fn(inside, res)
    return [(c, p, None) for c, p in inside] + [
        (c, p, r) for (c, p), r in zip(boundary, rings)
    ]


# Driver-side shard memo: a production session runs the same polygon layer
# against many point batches (and a bench/driver rep loop runs the
# identical layer every rep) — rebuilding ~0.3 s of single-core Python per
# call is pure replanning waste. Keyed by the polygon BYTES (not object
# identity), capped small: the layers worth caching are the handful a
# session reuses.
_SHARD_CACHE: dict = {}
_SHARD_CACHE_MAX = 8


def _shard_rows_cached(polys: list, res: int, grid: str, compact: bool) -> list:
    import hashlib

    h = hashlib.md5()
    for pid, gpb in polys:
        h.update(str(pid).encode())
        h.update(gpb)
    key = (h.hexdigest(), res, grid, compact)
    got = _SHARD_CACHE.get(key)
    if got is None:
        got = _shard_rows(polys, res, grid, compact)
        if len(_SHARD_CACHE) >= _SHARD_CACHE_MAX:
            _SHARD_CACHE.pop(next(iter(_SHARD_CACHE)))
        _SHARD_CACHE[key] = got
    return got


def _shard_batches(res: int, grid: str):
    """mapInArrow body of the shuffle path: polygon batches (poly_id, gpb)
    -> uncompacted ``SHARD_SCHEMA`` rows at ``res``, built on executors."""
    schema = T.StructType.fromDDL(SHARD_SCHEMA)  # parsed here: needs the JVM

    def build(batches):
        for b in batches:
            polys = list(zip(b.column("poly_id").to_pylist(), b.column("gpb").to_pylist()))
            yield from arrow_table(_shard_rows(polys, res, grid, False), schema).to_batches()

    return build


def _in_rings(rings: Column, lon: Column, lat: Column) -> Column:
    """The ring fold of ``_pip_refine`` over a shard row's rings as one JVM
    expression: an outer ring ORs its hit into the result, a hole ANDs in
    its negation. A ring's hit starts from its parity and XORs each kept
    edge's crossing, tested in ``kernels.points_in_ring``'s operand order
    so IEEE doubles give the same answer; the CASE keeps the division off
    horizontal edges. NULL rings (an interior cell) pass."""

    def cross(hit, e):
        return hit != F.when(
            (e["y1"] > lat) != (e["y2"] > lat),
            lon < e["x1"] + (lat - e["y1"]) * (e["x2"] - e["x1"]) / (e["y2"] - e["y1"]),
        ).otherwise(F.lit(False))

    def fold(inside, r):
        hit = F.aggregate(r["edges"], r["parity"], cross)
        return F.when(r["hole"], inside & ~hit).otherwise(inside | hit)

    return rings.isNull() | F.aggregate(rings, F.lit(False), fold)


def point_in_polygon_join(
    points: DataFrame,
    polys_df: DataFrame,
    res: int = cells.DEFAULT_RES,
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_polys: bool = True,
    grid: str = "flat",
    salt_threshold: int = 2_000_000,
    n_salts: int = 16,
    compact_interior: bool = True,
) -> DataFrame:
    """E2: rows of ``points`` paired with every polygon containing them.

    Output: all point columns + poly_id. One join of the points against the
    ``SHARD_SCHEMA`` table of ``polys_df`` on cell, then one JVM filter
    (``_in_rings``): an interior shard passes every point, a boundary shard
    ray-casts the point against only the edges that matter in its cell.
    The points are scanned once and never leave the JVM.

    A broadcastable polygon side (the default) builds the shard table on
    the driver, memoized per layer, with the interior compacted
    (``compact_interior``): points probe their ancestor cell at every
    resolution present (an antichain per polygon, so multiplicity is
    unchanged). Each point's cell is computed once, at the finest
    resolution present, and the coarser ones are shifted out of it. That
    is exact because both grids' index math is a clamped floor of a
    per-axis monotone map scaled by a power of two, and floor-division
    composes: floor(s*2^R) >> (R-r) == floor(s*2^r). It also keeps the
    generated code to one cell computation, not one per resolution. The
    join is a broadcast, so there is no shuffle.

    ``broadcast_polys=False`` (a planet-size polygon table) builds the
    shards on executors, uncompacted at ``res``, and shuffle-joins them.
    Dense cells (urban cores) are exactly the heavy hitters SCALE.md flags
    on this path, so heavy point cells are hash-spread over ``n_salts``
    with the matching shard rows replicated per salt (plans/skew.py).

    ``grid``: "flat" (equirectangular E1 cells) or "sphere" (cube-face
    cells_sphere — uniform cell area everywhere, so polar-heavy corpora
    don't concentrate into a handful of distorted cells). Results are
    identical; only candidate generation changes.
    """
    if grid == "sphere":
        from . import cells_sphere as SPH

        def probe_at(r):
            return SPH.sphere_cell_id(F.col(lon_col), F.col(lat_col), r)

        parent_of, cell_res = SPH.sphere_parent, SPH.sphere_cell_res_py
    else:

        def probe_at(r):
            return cells.cell_id(F.col(lon_col), F.col(lat_col), r)

        parent_of, cell_res = cells.parent_cell, cells.cell_res_py

    if broadcast_polys:
        polys = [(r["poly_id"], bytes(r["gpb"])) for r in polys_df.select("poly_id", "gpb").collect()]
        rows = _shard_rows_cached(polys, res, grid, compact_interior)
        res_set = sorted({cell_res(c) for c, _, _ in rows}) or [res]
        top = res_set[-1]
        probed = points.withColumn("cell_id", probe_at(top))
        if len(res_set) > 1:
            cell = F.col("cell_id")
            probed = probed.withColumn(
                "cell_id", F.explode(F.array(*[parent_of(cell, top, r) for r in res_set]))
            )
        shards = local_frame(points.sparkSession, rows, SHARD_SCHEMA)
        cand = probed.join(F.broadcast(shards), "cell_id")
    else:
        from ..plans.skew import salted_cell_join

        shards = polys_df.select("poly_id", "gpb").mapInArrow(
            _shard_batches(res, grid), SHARD_SCHEMA
        )
        cand = salted_cell_join(
            points.withColumn("cell_id", probe_at(res)),
            shards,
            cell_col="cell_id",
            threshold=salt_threshold,
            n_salts=n_salts,
            salt_src=lon_col,
        )
    inside = _in_rings(F.col("rings"), F.col(lon_col), F.col(lat_col))
    return cand.filter(inside).drop("cell_id", "rings")


def _pip_refine(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel of the brute-force oracle: keep rows whose point
    lies in the row's polygon. Decodes each distinct polygon once per batch,
    then vectorizes the ray cast over all its candidate points."""
    for pdf in pdf_iter:
        if len(pdf) == 0:
            yield pdf.drop(columns=["gpb"])
            continue
        keep = np.zeros(len(pdf), dtype=bool)
        for _, idx in pdf.groupby("poly_id").indices.items():
            g = pdf["gpb"].iloc[idx[0]]
            rings = geom.all_rings(bytes(g))
            pts = np.column_stack(
                [pdf["lon"].values[idx], pdf["lat"].values[idx]]
            ).astype(np.float64)
            inside = np.zeros(len(idx), dtype=bool)
            for ring, is_hole in rings:
                hit = K.points_in_ring(pts, ring)
                if is_hole:
                    inside &= ~hit
                else:
                    inside |= hit
            keep[idx] = inside
        yield pdf.loc[keep].drop(columns=["gpb"])


def point_in_polygon_bruteforce(
    points: DataFrame, polys_df: DataFrame, lon_col: str = "lon", lat_col: str = "lat"
) -> DataFrame:
    """Oracle: cross join + exact PIP (no cell index). Small inputs only."""
    cand = points.crossJoin(F.broadcast(polys_df.select("poly_id", "gpb")))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in cand.schema.fields if f.name != "gpb"
    )
    return cand.withColumnRenamed(lon_col, "lon").withColumnRenamed(lat_col, "lat").mapInPandas(
        _pip_refine, schema=out_schema.replace(f"{lon_col} ", "lon ").replace(f"{lat_col} ", "lat ")
    )


# ------------------------------------------------------- raster <-> vector


def tile_footprints(
    images: DataFrame,
    deg_per_px: float = 1e-4,
    phash_col: str = "phash",
) -> DataFrame:
    """Image tile footprint: bbox centered on the phash-decoded point, sized
    w x h pixels at ``deg_per_px`` (the tile's ground resolution)."""
    from ..sources import synthetic

    lon = synthetic.phash_lon(F.col(phash_col))
    lat = synthetic.phash_lat(F.col(phash_col))
    half_w = F.col("w").cast("double") * F.lit(deg_per_px / 2.0)
    half_h = F.col("h").cast("double") * F.lit(deg_per_px / 2.0)
    return images.select(
        "*",
        lon.alias("lon"),
        lat.alias("lat"),
        (lon - half_w).alias("fminx"),
        (lat - half_h).alias("fminy"),
        (lon + half_w).alias("fmaxx"),
        (lat + half_h).alias("fmaxy"),
    )


def raster_vector_join(
    images_fp: DataFrame,
    polys_df: DataFrame,
    res: int = cells.DEFAULT_RES,
    exact: bool = False,
    broadcast_polys: bool = True,
    grid: str = "flat",
) -> DataFrame:
    """E4: (image_id, poly_id) pairs whose tile footprint bbox intersects the
    polygon. Coarse pass: covering-cell equi-join + bbox intersect test
    (pure column exprs). ``exact=True`` adds the polygon-boundary refinement
    (footprint corners in polygon / polygon vertices in footprint / edge
    crossings) in an Arrow kernel.

    Footprints spanning multiple cells produce duplicate candidate pairs —
    deduped by (image_id, poly_id), an aggregation that stays cell-local
    before the final distinct.
    """
    if grid == "sphere":
        from . import cells_sphere as SPH

        fp_cov = SPH.sphere_covering_cells_udf(
            F.col("fminx"), F.col("fminy"), F.col("fmaxx"), F.col("fmaxy"), res
        )
        poly_shards = sphere_shard_polygons(polys_df, res)
    else:
        fp_cov = cells.covering_cells(
            F.col("fminx"), F.col("fminy"), F.col("fmaxx"), F.col("fmaxy"), res
        )
        poly_shards = shard_polygons(polys_df, res)
    fp = images_fp.withColumn("cell_id", F.explode(fp_cov))
    shards = poly_shards.join(
        polys_df.select("poly_id", "minx", "miny", "maxx", "maxy"), "poly_id"
    )
    if broadcast_polys:
        shards = F.broadcast(shards)
    cand = fp.join(shards, "cell_id", "inner").filter(
        (F.col("fminx") <= F.col("maxx"))
        & (F.col("fmaxx") >= F.col("minx"))
        & (F.col("fminy") <= F.col("maxy"))
        & (F.col("fmaxy") >= F.col("miny"))
    )
    pairs = cand.select("image_id", "poly_id", "gpb", "fminx", "fminy", "fmaxx", "fmaxy")
    if exact:
        pairs = pairs.mapInPandas(
            _bbox_polygon_refine,
            schema="image_id string, poly_id long, fminx double, fminy double, fmaxx double, fmaxy double",
        )
    return pairs.select("image_id", "poly_id").distinct()


def _bbox_polygon_refine(pdf_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in pdf_iter:
        if len(pdf) == 0:
            yield pdf.drop(columns=["gpb"])
            continue
        keep = np.zeros(len(pdf), dtype=bool)
        for _, idx in pdf.groupby("poly_id").indices.items():
            g = bytes(pdf["gpb"].iloc[idx[0]])
            rings = geom.all_rings(g)
            for j in idx:
                bx = (
                    pdf["fminx"].iloc[j],
                    pdf["fminy"].iloc[j],
                    pdf["fmaxx"].iloc[j],
                    pdf["fmaxy"].iloc[j],
                )
                keep[j] = _bbox_intersects_polygon(bx, rings)
        yield pdf.loc[keep].drop(columns=["gpb"])


def _bbox_intersects_polygon(b, rings) -> bool:
    minx, miny, maxx, maxy = b
    corners = np.array(
        [[minx, miny], [maxx, miny], [maxx, maxy], [minx, maxy]], dtype=np.float64
    )
    shells = [r for r, hole in rings if not hole]
    holes = [r for r, hole in rings if hole]
    # corner strictly inside polygon
    for c in corners:
        in_shell = any(K.point_in_ring(c, s) for s in shells)
        in_hole = any(K.point_in_ring(c, h) for h in holes)
        if in_shell and not in_hole:
            return True
    # polygon vertex inside bbox
    for s in shells:
        inb = (s[:, 0] >= minx) & (s[:, 0] <= maxx) & (s[:, 1] >= miny) & (s[:, 1] <= maxy)
        if bool(inb.any()):
            return True
    # edge crossings
    edges = [
        (corners[0], corners[1]),
        (corners[1], corners[2]),
        (corners[2], corners[3]),
        (corners[3], corners[0]),
    ]
    for s in shells:
        for i in range(len(s) - 1):
            for e0, e1 in edges:
                if K._segments_properly_intersect(s[i], s[i + 1], e0, e1):
                    return True
    return False


# --------------------------------------------------- within-distance join


def spatiotemporal_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    max_dt_s: float,
    res: int = cells.DEFAULT_RES,
    lid: str = "lid",
    rid: str = "rid",
    ts_col: str = "ts",
    grid: str = "flat",
) -> DataFrame:
    """SPATIO-TEMPORAL PROXIMITY JOIN: every (left, right) pair within
    ``radius_m`` meters (haversine) AND within ``max_dt_s`` seconds —
    the contact/encounter join (epidemiology exposure pairs, AIS vessel
    rendezvous, photo-burst grouping) where co-location alone is not
    enough and exact tick alignment is too strict.

    Both inputs: (id, lon, lat, ts). Output (lid, rid, dist_m, dt_us) with
    dt_us = right ts - left ts in microseconds (signed, exact int64).

    Plan: candidates are keyed by (cell, time_bucket) — the right side
    gets ONE key per row (its point cell, its floor(t/dt) bucket); the
    left side explodes to covering cells of its disk bbox x its THREE
    adjacent buckets {b-1, b, b+1}, which provably contain every row
    within max_dt_s. One equi-join shuffle on the composite key; no pair
    can match twice (the right row's single key either appears in the
    left's key set or not — coverings are duplicate-free and the 3
    buckets are distinct). The exact haversine + integer |dt| refine runs
    JVM-side in codegen.

    Scale: this is within_distance_join's scale story with the candidate
    volume FURTHER divided by the time spread — a year of data with a
    1-hour window cuts each spatial cell's candidates ~8760x. Hot keys
    are now (crowded cell, rush-hour bucket); widen res or salt upstream
    exactly as for the pure spatial join."""
    from .knn import haversine_col

    if grid == "sphere":
        from . import cells_sphere as SPH

        def cell_of(lon, lat):
            return SPH.sphere_cell_id(lon, lat, res)

        def cov_of(a, b, c, d):
            return SPH.sphere_covering_cells_udf(a, b, c, d, res)

    else:

        def cell_of(lon, lat):
            return cells.cell_id(lon, lat, res)

        def cov_of(a, b, c, d):
            return cells.covering_cells(a, b, c, d, res)

    dt_us = int(round(max_dt_s * 1_000_000))
    L = left.select(
        F.col(lid),
        F.col("lon").alias("l_lon"),
        F.col("lat").alias("l_lat"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("l_t"),
    )
    bb = disk_bbox(F.col("l_lon"), F.col("l_lat"), radius_m)
    # exact FLOOR division via pmod (negative-epoch safe; plain div
    # truncates toward zero and double-division floor can mis-bucket
    # boundary timestamps)
    L = (
        L.withColumn("cell_id", F.explode(cov_of(*bb)))
        .withColumn("_b0", F.expr(f"(l_t - pmod(l_t, {dt_us})) div {dt_us}"))
        .withColumn("bucket", F.explode(F.sequence(F.col("_b0") - 1, F.col("_b0") + 1)))
        .drop("_b0")
    )
    R = right.select(
        F.col(rid),
        F.col("lon").alias("r_lon"),
        F.col("lat").alias("r_lat"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("r_t"),
    )
    R = R.withColumn("cell_id", cell_of(F.col("r_lon"), F.col("r_lat"))).withColumn(
        "bucket", F.expr(f"(r_t - pmod(r_t, {dt_us})) div {dt_us}")
    )
    cand = L.join(R, ["cell_id", "bucket"])
    return (
        cand.withColumn(
            "dist_m",
            haversine_col(
                F.col("l_lon"), F.col("l_lat"), F.col("r_lon"), F.col("r_lat")
            ),
        )
        .filter(
            (F.col("dist_m") <= F.lit(float(radius_m)))
            & (F.abs(F.col("r_t") - F.col("l_t")) <= F.lit(dt_us))
        )
        .select(
            lid,
            rid,
            "dist_m",
            (F.col("r_t") - F.col("l_t")).alias("dt_us"),
        )
    )


def bbox_intersect_join(
    left: DataFrame,
    right: DataFrame,
    res: int = cells.DEFAULT_RES,
    lid: str = "lid",
    rid: str = "rid",
) -> DataFrame:
    """RECTANGLE-INTERSECTION JOIN — every (left, right) pair of
    axis-aligned boxes that intersect (closed edges: touching counts),
    with the intersection box: the image-footprint overlap detector
    (which scenes cover which AOIs / which footprints mutually overlap
    for mosaic seam planning).

    Both inputs: (id, x0, y0, x1, y1) with x0 <= x1 (split antimeridian
    boxes upstream). Output (lid, rid, ix0, iy0, ix1, iy1).

    Plan: both sides explode to their covering cells at ``res`` and
    equi-join on cell — the only shuffle. A pair whose boxes overlap
    several shared cells would be emitted once PER shared cell, so the
    classic PBSM reporting-cell rule (Patel & DeWitt 1996) dedups for
    free: the pair is kept ONLY in the cell that contains the
    intersection's min corner — that cell is provably in both coverings
    and unique, so every intersecting pair survives exactly once with no
    distinct() and no second shuffle.

    Scale: candidates ~ sum over cells of |L boxes touching| x |R boxes
    touching| — the standard spatial-join cost model; res trades covering
    fan-out against cell selectivity, and a hot cell (all footprints over
    one city) is the plans/skew salting case on the cell key."""
    L = left.select(
        F.col(lid),
        F.col("x0").alias("_lx0"),
        F.col("y0").alias("_ly0"),
        F.col("x1").alias("_lx1"),
        F.col("y1").alias("_ly1"),
    ).withColumn(
        "cell_id",
        F.explode(
            cells.covering_cells(
                F.col("_lx0"), F.col("_ly0"), F.col("_lx1"), F.col("_ly1"), res
            )
        ),
    )
    R = right.select(
        F.col(rid),
        F.col("x0").alias("_rx0"),
        F.col("y0").alias("_ry0"),
        F.col("x1").alias("_rx1"),
        F.col("y1").alias("_ry1"),
    ).withColumn(
        "cell_id",
        F.explode(
            cells.covering_cells(
                F.col("_rx0"), F.col("_ry0"), F.col("_rx1"), F.col("_ry1"), res
            )
        ),
    )
    ix0 = F.greatest(F.col("_lx0"), F.col("_rx0"))
    iy0 = F.greatest(F.col("_ly0"), F.col("_ry0"))
    ix1 = F.least(F.col("_lx1"), F.col("_rx1"))
    iy1 = F.least(F.col("_ly1"), F.col("_ry1"))
    return (
        L.join(R, "cell_id")
        .filter(
            (ix0 <= ix1)
            & (iy0 <= iy1)
            # PBSM reporting cell: only the cell holding the intersection's
            # min corner emits the pair
            & (F.col("cell_id") == cells.cell_id(ix0, iy0, res))
        )
        .select(
            lid,
            rid,
            ix0.alias("ix0"),
            iy0.alias("iy0"),
            ix1.alias("ix1"),
            iy1.alias("iy1"),
        )
    )


def smallest_containing_box(
    points: DataFrame,
    boxes: DataFrame,
    res: int = cells.DEFAULT_RES,
    pid: str = "pid",
    box_id: str = "box_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """REVERSE GEOCODE — assign every point its SMALLEST containing box
    (area, ties by id): the most-specific-admin-level lookup when the box
    layer is a nested AOI hierarchy (country > region > city), and the
    deterministic disambiguator when AOIs overlap. Points in no box are
    absent. ``boxes``: (box_id, x0, y0, x1, y1), closed containment.

    Returns (pid, box_id, area) with area in deg^2 (the comparison key —
    products of the corner doubles, identical in the SQL twin).

    Plan: broadcast (cell -> box) covering candidates + exact bbox gate,
    then ONE per-point min-struct aggregation — no window sort, no second
    shuffle: min over the (area, box_id, ...) struct is associative and
    map-side combinable, which beats a row_number window at 10^12
    points."""
    pts = points.select(
        F.col(pid),
        F.col(lon_col).alias("_plon"),
        F.col(lat_col).alias("_plat"),
        cells.cell_id(F.col(lon_col), F.col(lat_col), res).alias("_cell"),
    )
    bx = boxes.select(
        F.col(box_id).alias("_bid"), "x0", "y0", "x1", "y1",
        F.explode(
            cells.covering_cells(
                F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), res
            )
        ).alias("_cell"),
    )
    area = (F.col("x1") - F.col("x0")) * (F.col("y1") - F.col("y0"))
    cand = (
        pts.join(F.broadcast(bx), "_cell")
        .filter(
            (F.col("_plon") >= F.col("x0"))
            & (F.col("_plon") <= F.col("x1"))
            & (F.col("_plat") >= F.col("y0"))
            & (F.col("_plat") <= F.col("y1"))
        )
        .select(F.col(pid), F.struct(area.alias("a"), F.col("_bid").alias("b")).alias("_s"))
    )
    best = cand.groupBy(pid).agg(F.min("_s").alias("_s"))
    return best.select(
        pid,
        F.col("_s.b").alias(box_id),
        F.col("_s.a").alias("area"),
    )


def disk_bbox(lon: Column, lat: Column, radius_m: float):
    """(min_lon, min_lat, max_lon, max_lat) columns of the lon/lat bbox
    that provably contains the haversine disk of ``radius_m`` around each
    point.

    Latitude extent is exact (a meridian is a great circle): ±radius/R.
    Longitude half-width uses d/cos(|lat|+d) in radians, which dominates
    the true maximum deviation asin(sin d / cos lat) whenever the disk
    stays off the poles (proof: sqrt(cos²φ − sin²d) ≥ cos(φ+d) for
    φ, φ+d ∈ [0, 90°], so asin(sin d/cos φ) ≤ sin d/cos(φ+d) ≤ d/cos(φ+d)).
    A disk touching a pole degrades to the full longitude band. Boxes
    crossing the antimeridian come back with min_lon > max_lon — the
    RFC 7946 convention both ``cells.covering_cells`` and
    ``cells_sphere.sphere_covering_cells_udf`` consume."""
    from .knn import EARTH_RADIUS_M

    deg_m = math.pi / 180.0 * EARTH_RADIUS_M  # meters per degree of arc
    dlat = radius_m / deg_m
    lat0 = F.greatest(lat - F.lit(dlat), F.lit(-90.0))
    lat1 = F.least(lat + F.lit(dlat), F.lit(90.0))
    lat_far = F.greatest(F.abs(lat0), F.abs(lat1))
    coslat = F.greatest(F.cos(F.radians(lat_far)), F.lit(1e-12))
    dlon = F.least(F.lit(dlat) / coslat, F.lit(180.0))
    full = (dlon >= F.lit(180.0)) | (F.abs(lat) + F.lit(dlat) >= F.lit(90.0))
    raw0 = lon - dlon
    raw1 = lon + dlon
    min_lon = F.when(full, F.lit(-180.0)).otherwise(
        F.when(raw0 < F.lit(-180.0), raw0 + F.lit(360.0)).otherwise(raw0)
    )
    max_lon = F.when(full, F.lit(180.0)).otherwise(
        F.when(raw1 > F.lit(180.0), raw1 - F.lit(360.0)).otherwise(raw1)
    )
    return min_lon, lat0, max_lon, lat1


def within_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    res: int = cells.DEFAULT_RES,
    lid: str = "lid",
    rid: str = "rid",
    grid: str = "flat",
    salt_threshold: int | None = None,
    n_salts: int = 16,
    expand: str = "left",
    pair_sample_rate: float | None = None,
    _gate_key: tuple[str, str] | None = None,
) -> DataFrame:
    """Spatial range (radius) join: every (left, right) pair within
    ``radius_m`` meters by haversine distance. Output columns:
    (lid, rid, dist_m).

    Plan: the right side gets ONE cell per point; each left point explodes
    to the covering cells of its disk bbox (a provable superset — see
    ``disk_bbox``), so the cell equi-join is the only shuffle and no pair
    can match twice (the right point's single cell either is in the left
    covering or not — no post-join dedup). Exact haversine refine runs
    JVM-side in codegen.

    ``expand`` picks which side's disk bbox is exploded to covering cells
    ("left" default, or "right"); the other side stays one row per point.
    The covering explode multiplies that side's scan by ~(2·radius/cell
    width + 1)² rows, so for asymmetric corpora (huge left corpus × small
    right query set) expand the SMALL side — the result set is identical
    (haversine is symmetric; the superset property holds either way).

    ``grid``: "flat" (equirectangular E1 cells) or "sphere" (cube-face
    cells_sphere) — identical results, polar-robust candidate generation.

    Scale: pick ``res`` so a disk covering stays small (covering cells ~
    (2·radius/cell_width)²); dense right-side cells (urban cores) are the
    heavy hitters — pass ``salt_threshold`` to hash-spread them over
    ``n_salts`` with the plans/skew.py treatment (left covering rows
    replicated per salt), same as the PIP shuffle path."""
    from .knn import haversine_col

    if expand == "right":
        # forward the sample rate AND pin the gate key to the caller's
        # (lid, rid) order so the surviving pair set is identical whichever
        # side is expanded (round-3 ADVICE, medium)
        out = within_distance_join(
            right, left, radius_m, res=res, lid=rid, rid=lid, grid=grid,
            salt_threshold=salt_threshold, n_salts=n_salts, expand="left",
            pair_sample_rate=pair_sample_rate,
            _gate_key=_gate_key or (lid, rid),
        )
        return out.select(lid, rid, "dist_m")

    if grid == "sphere":
        from . import cells_sphere as SPH

        def cell_of(lon, lat):
            return SPH.sphere_cell_id(lon, lat, res)

        def cov_of(a, b, c, d):
            return SPH.sphere_covering_cells_udf(a, b, c, d, res)

    else:

        def cell_of(lon, lat):
            return cells.cell_id(lon, lat, res)

        def cov_of(a, b, c, d):
            return cells.covering_cells(a, b, c, d, res)

    L = left.select(
        F.col(lid), F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat")
    )
    bb = disk_bbox(F.col("l_lon"), F.col("l_lat"), radius_m)
    L = L.withColumn("cell_id", F.explode(cov_of(*bb)))
    R = right.select(
        F.col(rid), F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat")
    ).withColumn("cell_id", cell_of(F.col("r_lon"), F.col("r_lat")))

    if salt_threshold:
        from ..plans.skew import salted_cell_join

        cand = salted_cell_join(
            R, L, cell_col="cell_id",
            threshold=salt_threshold, n_salts=n_salts, salt_src=rid,
        )
    else:
        cand = L.join(R, "cell_id")
    if pair_sample_rate is not None:
        # SAMPLED range join (the Random-Sampling-over-Spatial-Range-Joins
        # problem, ICDE 2025): a deterministic hash gate on the PAIR KEY,
        # applied to CANDIDATES — i.e. pushed BELOW the exact refine. The
        # gate is independent of geometry, so sample(join) == join(sample)
        # exactly (same pairs survive either order — pinned by tests), but
        # the expensive haversine/refine work shrinks by the sampling rate
        # — at 10^12-row scale the refine dominates the join, so this is
        # where sampling must happen.
        from ..functions import text as TXT

        thr = int(pair_sample_rate * 1_000_003)
        ka, kb = _gate_key or (lid, rid)
        key = F.concat(
            F.col(ka).cast("string"), F.lit("_"), F.col(kb).cast("string")
        )
        cand = cand.filter(TXT.md5_long(key) % F.lit(1_000_003) < F.lit(thr))
    return (
        cand.withColumn(
            "dist_m",
            haversine_col(
                F.col("l_lon"), F.col("l_lat"), F.col("r_lon"), F.col("r_lat")
            ),
        )
        .filter(F.col("dist_m") <= F.lit(float(radius_m)))
        .select(lid, rid, "dist_m")
    )


def segment_intersect_join(
    left: DataFrame,
    right: DataFrame,
    res: int = cells.DEFAULT_RES,
    lid: str = "lid",
    rid: str = "rid",
) -> DataFrame:
    """SEGMENT-INTERSECTION JOIN — every (left, right) pair of planar
    line segments that intersect or touch: ST_Intersects for segment
    sets, the road-crossing / cadastral-boundary-conflict / route-vs-
    fence detector. Both inputs: (id, ax, ay, bx, by) with INTEGER
    coordinates (quantize upstream; bound |coord| <= ~1e6 keeps every
    cross product and product-of-crosses within int64).

    Exactness: the CLRS predicate on integer cross products —
    d1 = cross(C, D, A), d2 = cross(C, D, B), d3 = cross(A, B, C),
    d4 = cross(A, B, D); PROPER crossing iff d1*d2 < 0 and d3*d4 < 0;
    TOUCHING iff some d_i = 0 and the collinear point lies inside the
    other segment's bbox. No floats anywhere, so Spark and the SQL twin
    agree bit-for-bit on every tangency.

    Returns (lid, rid, is_proper).

    Plan: candidates come from bbox_intersect_join — covering-cell
    equi-join with the PBSM reporting-cell rule, so each bbox-
    overlapping pair arrives EXACTLY once and no distinct() is needed
    before the exact gate. Endpoints ride back in via two id-keyed
    equi-joins; the predicate is pure JVM column math.

    Scale: same cost model as bbox_intersect_join (candidates ~ per-cell
    |L| x |R|); the exact gate is selective and free. A segment set with
    continental extents should be subdivided upstream (geometry.
    subdivide) so coverings stay bounded."""
    lb = left.select(
        F.col(lid),
        F.least("ax", "bx").alias("x0"), F.least("ay", "by").alias("y0"),
        F.greatest("ax", "bx").alias("x1"), F.greatest("ay", "by").alias("y1"),
    )
    rb = right.select(
        F.col(rid),
        F.least("ax", "bx").alias("x0"), F.least("ay", "by").alias("y0"),
        F.greatest("ax", "bx").alias("x1"), F.greatest("ay", "by").alias("y1"),
    )
    cand = bbox_intersect_join(lb, rb, res=res, lid=lid, rid=rid).select(lid, rid)
    lco = left.select(
        F.col(lid),
        F.col("ax").cast("long").alias("lax"), F.col("ay").cast("long").alias("lay"),
        F.col("bx").cast("long").alias("lbx"), F.col("by").cast("long").alias("lby"),
    )
    rco = right.select(
        F.col(rid),
        F.col("ax").cast("long").alias("rax"), F.col("ay").cast("long").alias("ray_"),
        F.col("bx").cast("long").alias("rbx"), F.col("by").cast("long").alias("rby"),
    )
    p = cand.join(lco, lid).join(rco, rid)

    def cross(ox, oy, px, py, qx, qy):
        return (F.col(px) - F.col(ox)) * (F.col(qy) - F.col(oy)) - (
            F.col(py) - F.col(oy)
        ) * (F.col(qx) - F.col(ox))

    d1 = cross("rax", "ray_", "rbx", "rby", "lax", "lay")  # A vs CD
    d2 = cross("rax", "ray_", "rbx", "rby", "lbx", "lby")  # B vs CD
    d3 = cross("lax", "lay", "lbx", "lby", "rax", "ray_")  # C vs AB
    d4 = cross("lax", "lay", "lbx", "lby", "rbx", "rby")   # D vs AB

    def onseg(px, py, sx0, sy0, sx1, sy1):
        return (
            (F.col(px) >= F.least(sx0, sx1)) & (F.col(px) <= F.greatest(sx0, sx1))
            & (F.col(py) >= F.least(sy0, sy1)) & (F.col(py) <= F.greatest(sy0, sy1))
        )

    p = p.withColumn("_d1", d1).withColumn("_d2", d2).withColumn(
        "_d3", d3
    ).withColumn("_d4", d4)
    proper = (F.col("_d1") * F.col("_d2") < 0) & (F.col("_d3") * F.col("_d4") < 0)
    touch = (
        ((F.col("_d1") == 0) & onseg("lax", "lay", F.col("rax"), F.col("ray_"),
                                     F.col("rbx"), F.col("rby")))
        | ((F.col("_d2") == 0) & onseg("lbx", "lby", F.col("rax"), F.col("ray_"),
                                       F.col("rbx"), F.col("rby")))
        | ((F.col("_d3") == 0) & onseg("rax", "ray_", F.col("lax"), F.col("lay"),
                                       F.col("lbx"), F.col("lby")))
        | ((F.col("_d4") == 0) & onseg("rbx", "rby", F.col("lax"), F.col("lay"),
                                       F.col("lbx"), F.col("lby")))
    )
    return p.filter(proper | touch).select(
        lid, rid, proper.alias("is_proper")
    )
