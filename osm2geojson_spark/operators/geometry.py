"""Distributed geometry post-processing over GPB binary columns.

The reference (aspectumapp/osm2geojson) delegates geometry math to shapely
and never simplifies; this module is engine-extension surface for the
tile-serving stage: simplify assembled features BEFORE the GeoJSON sink or
a per-zoom tile write (tolerance per zoom level), cutting payload bytes
where full vertex fidelity is invisible.

All processing is Arrow-batched mapInPandas over the packed-binary geometry
codec (functions/geom.py) — no Python-per-row UDFs, no shapely.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import geom
from ..functions import kernels as K


def simplify_gpb(buf: bytes, tolerance: float) -> bytes:
    """Douglas-Peucker simplification of one GPB geometry (degrees
    tolerance). Points pass through; rings never degenerate below a
    triangle (kernels.dp_simplify_ring)."""
    g = geom.to_geojson_geometry(buf)
    t = g["type"]

    def line(c):
        return K.dp_simplify(np.asarray(c, dtype=np.float64), tolerance)

    def ring(c):
        return K.dp_simplify_ring(np.asarray(c, dtype=np.float64), tolerance)

    if t == "LineString":
        return geom.linestring(line(g["coordinates"]))
    if t == "MultiLineString":
        return geom.multilinestring([line(c) for c in g["coordinates"]])
    if t == "Polygon":
        return geom.polygon([ring(c) for c in g["coordinates"]])
    if t == "MultiPolygon":
        return geom.multipolygon(
            [[ring(c) for c in poly] for poly in g["coordinates"]]
        )
    return bytes(buf)  # Point / empty: nothing to simplify


def simplify_geometries(
    df: DataFrame, tolerance: float, gpb_col: str = "gpb"
) -> DataFrame:
    """Simplify a GPB geometry column in place (schema unchanged) — one
    Arrow pass, embarrassingly parallel, no shuffle."""
    fields = df.schema.fields
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[gpb_col] = [
                None if b is None else simplify_gpb(bytes(b), tolerance)
                for b in pdf[gpb_col]
            ]
            yield pdf

    return df.mapInPandas(fn, schema=out_schema)


def dissolve(df: DataFrame, group_col: str = "g", gpb_col: str = "gpb") -> DataFrame:
    """Group-wise polygon union — the GIS *dissolve* / ST_Union aggregate
    (the reference reaches it through shapely.unary_union, main.py:694; here
    it is the same planar noding + face-extraction kernel the relation
    assembler uses, run as a distributed aggregate).

    Returns one row per group: (group, gpb MultiPolygon, n_parts, area) with
    ``area`` = sum over parts of |shell| - sum |holes| (shoelace — exact in
    float64 for dyadic-coordinate fixtures, which is what the driver oracle
    pins).

    Plan: ONE collect_list shuffle keyed by the group, then an Arrow batch
    of whole groups through the union kernel — many groups per batch, never
    per-group applyInPandas scheduling.  Skew note: a group whose member
    count explodes (country-sized dissolve) should be pre-unioned per
    partition (partial dissolve is associative) before the final merge; at
    this corpus scale the direct form is optimal."""
    packed = df.groupBy(group_col).agg(F.collect_list(F.col(gpb_col)).alias("gpbs"))

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            groups, blobs, nparts, areas = [], [], [], []
            for grp, bufs in zip(pdf[group_col], pdf["gpbs"]):
                polys = []
                for buf in bufs:
                    gj = geom.to_geojson_geometry(bytes(buf))
                    if gj["type"] == "Polygon":
                        polys.append([np.asarray(r, np.float64) for r in gj["coordinates"]])
                    elif gj["type"] == "MultiPolygon":
                        polys.extend(
                            [np.asarray(r, np.float64) for r in p] for p in gj["coordinates"]
                        )
                merged = K.orient_multipolygon(K.union_overlay(polys))
                area = 0.0
                for rings in merged:
                    area += abs(K.signed_area(K.close_ring(rings[0])))
                    for hole in rings[1:]:
                        area -= abs(K.signed_area(K.close_ring(hole)))
                groups.append(grp)
                blobs.append(geom.multipolygon(merged))
                nparts.append(len(merged))
                areas.append(area)
            yield pd.DataFrame(
                {group_col: groups, "gpb": blobs, "n_parts": nparts, "area": areas}
            )

    gtype = packed.schema[group_col].dataType.simpleString()
    return packed.mapInPandas(
        fn, schema=f"{group_col} {gtype}, gpb binary, n_parts int, area double"
    )


def _gpb_to_polys(buf: bytes) -> list[list[np.ndarray]]:
    gj = geom.to_geojson_geometry(bytes(buf))
    if gj["type"] == "Polygon":
        return [[np.asarray(r, np.float64) for r in gj["coordinates"]]]
    if gj["type"] == "MultiPolygon":
        return [[np.asarray(r, np.float64) for r in p] for p in gj["coordinates"]]
    return []


def _merged_stats(merged):
    area = 0.0
    for rings in merged:
        area += abs(K.signed_area(K.close_ring(rings[0])))
        for hole in rings[1:]:
            area -= abs(K.signed_area(K.close_ring(hole)))
    return geom.multipolygon(merged), len(merged), area


def overlay_groups(
    df_a: DataFrame,
    df_b: DataFrame,
    op: str,
    group_col: str = "g",
    gpb_col: str = "gpb",
) -> DataFrame:
    """Per-group binary overlay (kernels.overlay_two): ST_Intersection /
    ST_Difference / ST_SymDifference / ST_Union between the polygon sets of
    the two frames, one output row per group key (groups missing from a
    side are treated as the empty set, so ``difference`` passes ``a``
    through and ``intersection`` yields an empty MultiPolygon with
    n_parts = 0).

    Plan: tag sides, union, ONE collect_list shuffle on the group key, then
    whole groups per Arrow batch — the dissolve shape with a side tag."""
    a = df_a.select(F.col(group_col), F.lit(0).alias("_side"), F.col(gpb_col))
    b = df_b.select(F.col(group_col), F.lit(1).alias("_side"), F.col(gpb_col))
    packed = (
        a.unionByName(b)
        .groupBy(group_col)
        .agg(F.collect_list(F.struct("_side", gpb_col)).alias("items"))
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            groups, blobs, nparts, areas = [], [], [], []
            for grp, items in zip(pdf[group_col], pdf["items"]):
                sides: list[list[list[np.ndarray]]] = [[], []]
                for item in items:
                    sides[int(item["_side"])].extend(_gpb_to_polys(item[gpb_col]))
                merged = K.orient_multipolygon(K.overlay_two(sides[0], sides[1], op))
                blob, n, area = _merged_stats(merged)
                groups.append(grp)
                blobs.append(blob)
                nparts.append(n)
                areas.append(area)
            yield pd.DataFrame(
                {group_col: groups, "gpb": blobs, "n_parts": nparts, "area": areas}
            )

    gtype = packed.schema[group_col].dataType.simpleString()
    return packed.mapInPandas(
        fn, schema=f"{group_col} {gtype}, gpb binary, n_parts int, area double"
    )


def convex_hull(
    df: DataFrame,
    group_col: str = "g",
    x_col: str = "x",
    y_col: str = "y",
    partial: bool = True,
) -> DataFrame:
    """Distributed grouped convex hull (the ST_ConvexHull aggregate; the
    reference reaches it through shapely's ``convex_hull`` on assembled
    shapes).  Output one row per group: (group, n_hull, area, gpb) where
    ``gpb`` is the CCW hull Polygon (None for degenerate <3-vertex hulls)
    and ``area`` the shoelace area — exact in float64 for integer-coordinate
    fixtures, which is what the driver oracle pins.

    Scale shape: hull is an associative, idempotent reduction
    (hull(A ∪ B) = hull(hull(A) ∪ hull(B))), so phase 1 collapses each
    in-partition group slice to its partial hull inside the scan — a
    map-side combine that bounds the single shuffle to O(h) points per
    (partition, group), h ~ O(log n) for uniform clouds.  Phase 2 re-runs
    the same kernel on the union of partial hulls.  ``partial=False``
    skips phase 1 (used by the equivalence tests)."""
    pts = df.select(
        F.col(group_col), F.col(x_col).alias("x"), F.col(y_col).alias("y")
    )
    gtype = pts.schema[group_col].dataType.simpleString()

    if partial:

        def phase1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                outs = []
                for grp, sub in pdf.groupby(group_col, sort=False):
                    h = K.convex_hull_pts(sub[["x", "y"]].to_numpy())
                    outs.append(
                        pd.DataFrame(
                            {group_col: grp, "x": h[:, 0], "y": h[:, 1]}
                        )
                    )
                yield pd.concat(outs) if outs else pdf.iloc[:0]

        pts = pts.mapInPandas(phase1, schema=f"{group_col} {gtype}, x double, y double")

    packed = pts.groupBy(group_col).agg(
        F.collect_list(F.struct("x", "y")).alias("pts")
    )

    def phase2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            groups, blobs, nh, areas = [], [], [], []
            for grp, ps in zip(pdf[group_col], pdf["pts"]):
                arr = np.array([[p["x"], p["y"]] for p in ps], dtype=np.float64)
                h = K.convex_hull_pts(arr)
                groups.append(grp)
                nh.append(len(h))
                if len(h) >= 3:
                    ring = np.vstack([h, h[:1]])
                    a2 = float(
                        np.sum(ring[:-1, 0] * ring[1:, 1] - ring[1:, 0] * ring[:-1, 1])
                    )
                    blobs.append(geom.polygon([ring]))
                    areas.append(a2 / 2.0)
                else:
                    blobs.append(None)
                    areas.append(0.0)
            yield pd.DataFrame(
                {group_col: groups, "n_hull": nh, "area": areas, "gpb": blobs}
            )

    return packed.mapInPandas(
        phase2, schema=f"{group_col} {gtype}, n_hull int, area double, gpb binary"
    )


def line_locate_points(
    df: DataFrame, frac_col: str = "frac", gpb_col: str = "gpb"
) -> DataFrame:
    """ST_Length + ST_LineInterpolatePoint in one Arrow pass: for each row
    (LineString gpb, fraction in [0, 1]) append (length, px, py) — the
    point at ``frac * length`` along the line (linear referencing; the
    reference reaches it through shapely's ``interpolate``).

    Embarrassingly parallel, no shuffle, schema = input + 3 columns.
    Interpolation is ``a + ((t - cum_prev) * (b - a)) / d`` with the
    segment chosen as the FIRST whose cumulative length >= t (vertex hits
    resolve to the earlier segment's endpoint) — the exact op order the
    driver oracle replays in SQL."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema = f"{fields}, length double, px double, py double"

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            lens, pxs, pys = [], [], []
            for buf, frac in zip(pdf[gpb_col], pdf[frac_col]):
                c = np.asarray(
                    geom.to_geojson_geometry(bytes(buf))["coordinates"],
                    dtype=np.float64,
                )
                d = np.hypot(np.diff(c[:, 0]), np.diff(c[:, 1]))
                cum = np.concatenate(([0.0], np.cumsum(d)))
                total = float(cum[-1])
                t = float(frac) * total
                i = int(np.searchsorted(cum, t, side="left"))
                if i == 0:
                    px, py = float(c[0, 0]), float(c[0, 1])
                else:
                    a, b = c[i - 1], c[i]
                    seg = float(d[i - 1])
                    px = float(a[0] + ((t - cum[i - 1]) * (b[0] - a[0])) / seg)
                    py = float(a[1] + ((t - cum[i - 1]) * (b[1] - a[1])) / seg)
                lens.append(total)
                pxs.append(px)
                pys.append(py)
            pdf = pdf.copy()
            pdf["length"], pdf["px"], pdf["py"] = lens, pxs, pys
            yield pdf

    return df.mapInPandas(fn, schema=out_schema)


def hausdorff_distance(
    df: DataFrame, gpb_a: str = "gpb_a", gpb_b: str = "gpb_b"
) -> DataFrame:
    """Discrete symmetric Hausdorff distance between the vertex sets of two
    geometries per row (shape similarity; the reference's users
    reach it through shapely's ``hausdorff_distance``). Appends
    ``hausdorff_sq`` = max(max_a min_b d2(a,b), max_b min_a d2(a,b)) — the
    SQUARED distance, exact in float64 for integer coordinates (no sqrt).

    One vectorized pairwise-distance matrix per row inside the Arrow batch
    — O(|A|*|B|) flops in one GEMM-shaped NumPy expression, never a Python
    point loop. Candidate pairing upstream is the engine's business:
    bbox/cell within-distance join prunes pairs whose bbox gap already
    exceeds the current threshold (d_bbox <= hausdorff is a lower bound),
    so at corpus scale this kernel only sees plausible pairs."""
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for ba, bb in zip(pdf[gpb_a], pdf[gpb_b]):
                A = np.asarray(
                    geom.to_geojson_geometry(bytes(ba))["coordinates"], np.float64
                )
                B = np.asarray(
                    geom.to_geojson_geometry(bytes(bb))["coordinates"], np.float64
                )
                D = (A[:, None, 0] - B[None, :, 0]) ** 2 + (
                    A[:, None, 1] - B[None, :, 1]
                ) ** 2
                out.append(float(max(D.min(axis=1).max(), D.min(axis=0).max())))
            pdf = pdf.copy()
            pdf["hausdorff_sq"] = out
            yield pdf

    return df.mapInPandas(fn, schema=f"{fields}, hausdorff_sq double")


def subdivide_polygons(
    polys_df: DataFrame, res: int, id_col: str = "poly_id", gpb_col: str = "gpb"
) -> DataFrame:
    """ST_Subdivide, grid-aligned: clip every polygon to its covering
    cells at ``res``, emitting one piece per non-empty (polygon, cell)
    intersection — (poly_id, cell_id, gpb piece, piece_area).

    This is the standard complement to salting for spatial-join balance:
    pieces bound both vertex count and area per row, the piece set
    PARTITIONS the polygon (so a point's cell probes exactly one piece —
    containment needs no post-join dedup), and a country-sized polygon
    stops being a single broadcast row. Pieces area-sum to the original
    (pinned by tests), so area rollups are piece-local.

    One Arrow pass: covering cells are integer math, each piece is one
    kernels.overlay_two intersection against the cell box."""
    import pandas as pd

    from ..functions import geom as _geom
    from ..functions import kernels as K
    from . import cells as _cells

    n = 1 << res

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for pid, buf in zip(pdf[id_col], pdf[gpb_col]):
                polys = _gpb_to_polys(bytes(buf))
                if not polys:
                    continue
                minx = min(float(r[:, 0].min()) for p in polys for r in p[:1])
                miny = min(float(r[:, 1].min()) for p in polys for r in p[:1])
                maxx = max(float(r[:, 0].max()) for p in polys for r in p[:1])
                maxy = max(float(r[:, 1].max()) for p in polys for r in p[:1])
                x0 = max(0, int((minx + 180.0) / 360.0 * n))
                x1 = min(n - 1, int((maxx + 180.0) / 360.0 * n))
                y0 = max(0, int((miny + 90.0) / 180.0 * n))
                y1 = min(n - 1, int((maxy + 90.0) / 180.0 * n))
                for cx in range(x0, x1 + 1):
                    for cy in range(y0, y1 + 1):
                        bx0 = -180.0 + cx * (360.0 / n)
                        by0 = -90.0 + cy * (180.0 / n)
                        box = np.array(
                            [
                                [bx0, by0],
                                [bx0 + 360.0 / n, by0],
                                [bx0 + 360.0 / n, by0 + 180.0 / n],
                                [bx0, by0 + 180.0 / n],
                                [bx0, by0],
                            ]
                        )
                        inter = K.overlay_two(polys, [[box]], "intersection")
                        if not inter:
                            continue
                        area = 0.0
                        for rings in inter:
                            area += abs(K.signed_area(K.close_ring(rings[0])))
                            for hole in rings[1:]:
                                area -= abs(K.signed_area(K.close_ring(hole)))
                        if area > 0.0:
                            rows.append(
                                (
                                    pid,
                                    _cells.pack_cell_py(res, cx, cy),
                                    _geom.multipolygon(inter),
                                    area,
                                )
                            )
            yield pd.DataFrame(
                rows, columns=[id_col, "cell_id", "gpb", "piece_area"]
            )

    ptype = polys_df.schema[id_col].dataType.simpleString()
    return polys_df.select(id_col, gpb_col).mapInPandas(
        fn, schema=f"{id_col} {ptype}, cell_id long, gpb binary, piece_area double"
    )


def _chaikin_open(pts: np.ndarray) -> np.ndarray:
    """One Chaikin corner-cut of an open polyline: each segment (A, B)
    contributes Q = 0.75*A + 0.25*B and R = 0.25*A + 0.75*B; the original
    endpoints are kept. The weights are dyadic rationals, so k iterations
    over integer-ish coordinates stay EXACT float64 (multiples of 4^-k) —
    the property the SQL twin relies on. Op order is fixed:
    (0.75 * A) + (0.25 * B), identically in the oracle."""
    if len(pts) < 3:
        return pts
    q = 0.75 * pts[:-1] + 0.25 * pts[1:]
    r = 0.25 * pts[:-1] + 0.75 * pts[1:]
    out = np.empty((2 * (len(pts) - 1) + 2, 2), dtype=np.float64)
    out[0] = pts[0]
    out[-1] = pts[-1]
    out[1:-1:2] = q
    out[2:-1:2] = r
    return out


def _chaikin_ring(pts: np.ndarray) -> np.ndarray:
    """One Chaikin cut of a CLOSED ring (stored first == last): every
    cyclic segment contributes Q and R; output re-closed. A ring never
    keeps original vertices — that is what rounds the corners."""
    u = pts[:-1]
    if len(u) < 3:
        return pts
    nxt = np.roll(u, -1, axis=0)
    q = 0.75 * u + 0.25 * nxt
    r = 0.25 * u + 0.75 * nxt
    out = np.empty((2 * len(u) + 1, 2), dtype=np.float64)
    out[0:-1:2] = q
    out[1:-1:2] = r
    out[-1] = out[0]
    return out


def chaikin_gpb(buf: bytes, iterations: int) -> bytes:
    """Chaikin smoothing of one GPB geometry (open treatment for lines,
    cyclic for polygon rings; points pass through)."""
    g = geom.to_geojson_geometry(buf)
    t = g["type"]

    def line(c):
        p = np.asarray(c, dtype=np.float64)
        for _ in range(iterations):
            p = _chaikin_open(p)
        return p

    def ring(c):
        p = np.asarray(c, dtype=np.float64)
        for _ in range(iterations):
            p = _chaikin_ring(p)
        return p

    if t == "LineString":
        return geom.linestring(line(g["coordinates"]))
    if t == "MultiLineString":
        return geom.multilinestring([line(c) for c in g["coordinates"]])
    if t == "Polygon":
        return geom.polygon([ring(c) for c in g["coordinates"]])
    if t == "MultiPolygon":
        return geom.multipolygon(
            [[ring(c) for c in poly] for poly in g["coordinates"]]
        )
    return bytes(buf)


def smooth_geometries(
    df: DataFrame, iterations: int = 1, gpb_col: str = "gpb"
) -> DataFrame:
    """CHAIKIN SMOOTHING (corner cutting, Chaikin 1974) of a GPB geometry
    column in place — the standard polyline/polygon rounding pass of
    cartographic rendering pipelines, the inverse-direction twin of
    ``simplify_geometries`` (DP removes vertices, Chaikin refines toward
    the quadratic B-spline limit curve; each iteration roughly doubles
    the vertex count).

    Endpoints of open lines are preserved exactly; rings stay closed.
    The cut weights (3/4, 1/4) are dyadic, so smoothing integer-grid
    coordinates is bit-exact float64 — no cross-engine ambiguity for the
    oracle to trip on.

    Scale: one Arrow pass, embarrassingly parallel, schema unchanged, no
    shuffle — identical plan shape to simplify_geometries. Each
    iteration ~2x the coordinate bytes: bound ``iterations`` (2-3 is the
    cartographic norm) or pre-simplify; the two operators compose
    scan-to-scan with no barrier between them."""
    fields = df.schema.fields
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in fields
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf.copy()
            pdf[gpb_col] = [
                None if b is None else chaikin_gpb(bytes(b), iterations)
                for b in pdf[gpb_col]
            ]
            yield pdf

    return df.mapInPandas(fn, schema=out_schema)


def geodesic_area(
    vertices: DataFrame,
    poly_col: str = "poly_id",
    idx_col: str = "idx",
    lon_col: str = "lon",
    lat_col: str = "lat",
    quantum: float = 1e-12,
) -> DataFrame:
    """(poly_id, n_vertices, sr_q, area_km2) — EXACT-pipeline spherical
    polygon area via the signed spherical excess (Girard / Eriksson
    tan-half-excess, Oosterom & Strackee 1983): fan-triangulate from
    vertex 0, per triangle (v0, vi, vi+1) of unit vectors

        E = 2 * atan2( v0 . (vi x vj),  1 + v0.vi + vi.vj + vj.v0 )

    and sum the signed excesses. Planar shoelace underestimates a
    continent-sized ring by whole percents; this is the sphere-true
    counterpart of kernels.signed_area.

    Float discipline (the engine's quantized-term-sum pattern, cf. IDW):
    each E is computed in one fixed expression tree — sin/cos/atan2
    parity holds across engines just as for haversine — then quantized
    to int64 steradian steps of ``quantum`` BEFORE summing, so the rollup
    is an order-free integer sum; the only post-aggregation float ops are
    the two of the km^2 assembly.
    ``sr_q`` (the signed quantized steradian sum) is exact int64;
    ``area_km2 = round(abs(sr_q) * quantum * R_km^2, 6)``.

    Input: one row per ring vertex, ``idx_col`` = 0..n-1 in ring order
    (closing vertex NOT repeated). Polygons with n < 3 emit no row.

    Scale: one window (partitioned BY POLYGON — parallel) + one
    combinable groupBy; no UDF, everything whole-stage codegen."""
    R_KM = 6371.0088
    pid, idx = F.col(poly_col), F.col(idx_col)
    lon = F.radians(F.col(lon_col))
    lat = F.radians(F.col(lat_col))
    base = vertices.select(
        pid.alias("_p"), idx.alias("_k"),
        (F.cos(lat) * F.cos(lon)).alias("x"),
        (F.cos(lat) * F.sin(lon)).alias("y"),
        F.sin(lat).alias("z"),
    )
    w = Window.partitionBy("_p").orderBy("_k")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tri = base.select(
        "_p", "_k",
        F.first("x").over(wall).alias("ax"),
        F.first("y").over(wall).alias("ay"),
        F.first("z").over(wall).alias("az"),
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("z").alias("bz"),
        F.lead("x").over(w).alias("cx"),
        F.lead("y").over(w).alias("cy"),
        F.lead("z").over(w).alias("cz"),
        F.count(F.lit(1)).over(wall).alias("_n"),
    ).filter((F.col("_k") >= 1) & F.col("cx").isNotNull())
    ax, ay, az = F.col("ax"), F.col("ay"), F.col("az")
    bx, by, bz = F.col("bx"), F.col("by"), F.col("bz")
    cx, cy, cz = F.col("cx"), F.col("cy"), F.col("cz")
    num = (
        ax * (by * cz - bz * cy)
        + ay * (bz * cx - bx * cz)
        + az * (bx * cy - by * cx)
    )
    den = (
        F.lit(1.0)
        + (ax * bx + ay * by + az * bz)
        + (bx * cx + by * cy + bz * cz)
        + (cx * ax + cy * ay + cz * az)
    )
    eq = F.round(F.lit(2.0) * F.atan2(num, den) / F.lit(quantum)).cast("long")
    out = tri.select("_p", "_n", eq.alias("_eq")).groupBy("_p", "_n").agg(
        F.sum("_eq").alias("sr_q")
    )
    return out.select(
        F.col("_p").alias(poly_col),
        F.col("_n").cast("long").alias("n_vertices"),
        "sr_q",
        F.round(
            F.abs(F.col("sr_q")).cast("double") * F.lit(quantum) * F.lit(R_KM * R_KM),
            6,
        ).alias("area_km2"),
    )


def geodesic_area_sql(
    vertices_cte: str,
    poly_col: str = "poly_id",
    idx_col: str = "idx",
    lon_col: str = "lon",
    lat_col: str = "lat",
    quantum: float = 1e-12,
) -> str:
    """DuckDB twin — identical expression tree per excess term, identical
    quantization, integer sum (order-free), identical km^2 assembly."""
    R_KM = 6371.0088
    return f"""
WITH verts AS ({vertices_cte}),
uv AS (
  SELECT {poly_col} AS _p, {idx_col} AS _k,
         cos(radians({lat_col})) * cos(radians({lon_col})) AS x,
         cos(radians({lat_col})) * sin(radians({lon_col})) AS y,
         sin(radians({lat_col})) AS z
  FROM verts
),
tri AS (
  SELECT _p, _k,
         first_value(x) OVER wall AS ax, first_value(y) OVER wall AS ay,
         first_value(z) OVER wall AS az,
         x AS bx, y AS by, z AS bz,
         lead(x) OVER wo AS cx, lead(y) OVER wo AS cy, lead(z) OVER wo AS cz,
         count(*) OVER wall AS _n
  FROM uv
  WINDOW wo AS (PARTITION BY _p ORDER BY _k),
         wall AS (PARTITION BY _p ORDER BY _k
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
terms AS (
  SELECT _p, _n,
    CAST(round((2.0 * atan2(
      ax * (by * cz - bz * cy) + ay * (bz * cx - bx * cz)
        + az * (bx * cy - by * cx),
      1.0 + (ax * bx + ay * by + az * bz) + (bx * cx + by * cy + bz * cz)
          + (cx * ax + cy * ay + cz * az)
    )) / {quantum!r}) AS BIGINT) AS eq
  FROM tri WHERE _k >= 1 AND cx IS NOT NULL
)
SELECT _p AS {poly_col}, CAST(_n AS BIGINT) AS n_vertices,
       CAST(sum(eq) AS BIGINT) AS sr_q,
       round(CAST(abs(sum(eq)) AS DOUBLE) * {quantum!r} * {R_KM * R_KM!r}, 6)
         AS area_km2
FROM terms GROUP BY _p, _n
"""


def ring_centroid_cols(ring):
    """(area2, cxn, cyn, cx, cy) COLUMN EXPRESSIONS for the shoelace
    centroid of one polygon ring given as ``array<struct<x,y>>`` (open —
    last vertex != first; the closing edge is implied). ST_Centroid as
    pure JVM column algebra: no UDF, whole-stage codegen, one pass over
    the vertex array per row.

        area2 = sum cross_i,  cross_i = x_i*y_j - x_j*y_i  (j = i+1 mod n)
        cxn   = sum (x_i + x_j) * cross_i      cx = cxn / (3 * area2)
        cyn   = sum (y_i + y_j) * cross_i      cy = cyn / (3 * area2)

    With INTEGER-VALUED coordinates every term and sum is exact in
    float64 (< 2^53), so ``area2/cxn/cyn`` cast to long are exact,
    order-independent integers — the hash-stable core; cx/cy are one
    rounded division each. area2 is signed (CCW positive), so the
    centroid is orientation-independent (signs cancel).

    Returns a tuple of five Columns to select/alias as needed."""
    n = F.size(ring)

    def xat(i):
        return F.element_at(ring, i + 1)["x"]

    def yat(i):
        return F.element_at(ring, i + 1)["y"]

    def jx(i):
        return F.element_at(ring, F.pmod(i + 1, n) + 1)["x"]

    def jy(i):
        return F.element_at(ring, F.pmod(i + 1, n) + 1)["y"]

    idx = F.sequence(F.lit(0), n - F.lit(1))
    cross = F.transform(idx, lambda i: xat(i) * jy(i) - jx(i) * yat(i))
    area2 = F.aggregate(cross, F.lit(0.0), lambda a, x: a + x)
    cxn = F.aggregate(
        F.transform(idx, lambda i: (xat(i) + jx(i)) * (xat(i) * jy(i) - jx(i) * yat(i))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cyn = F.aggregate(
        F.transform(idx, lambda i: (yat(i) + jy(i)) * (xat(i) * jy(i) - jx(i) * yat(i))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cx = F.round(cxn / (F.lit(3.0) * area2), 6) + F.lit(0.0)
    cy = F.round(cyn / (F.lit(3.0) * area2), 6) + F.lit(0.0)
    return (
        area2.cast("long").alias("area2"),
        cxn.cast("long").alias("cxn"),
        cyn.cast("long").alias("cyn"),
        cx.alias("cx"),
        cy.alias("cy"),
    )


def pole_of_inaccessibility(
    polys: DataFrame,
    cell: float = 1.0,
    id_col: str = "poly_id",
    ring_col: str = "ring",
) -> DataFrame:
    """POLE OF INACCESSIBILITY (the ``polylabel`` label-placement point):
    the interior grid cell farthest (L1) from the polygon's exterior, at
    ``cell`` resolution — rasterize the ring (even-odd rule on cell
    centers), EXACT two-pass L1 chamfer transform (for the L1 metric the
    chamfer IS the true distance — no approximation), then a
    deterministic argmax (max distance, then min y, then min x).

    All outputs are exact integers in grid units: (id, px, py, dist_l1,
    n_interior) with (px, py) the winning cell's integer grid coords
    relative to the ring's bbox min (cell centers at +0.5). An oracle
    can replay it as min-over-complement |dx|+|dy| — the chamfer's
    defining identity.

    Scale: embarrassingly parallel Arrow pass per polygon — the standard
    map-label / watermark-anchor sweep over 10^8 polygons is
    scan-shaped. Grid size is bbox/cell per row; subdivide_polygons
    first if a monster polygon would blow one task's memory."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                ring = r[1]
                xs = np.asarray([p["x"] for p in ring], dtype=np.float64)
                ys = np.asarray([p["y"] for p in ring], dtype=np.float64)
                x0, y0 = np.floor(xs.min()), np.floor(ys.min())
                w = int(np.ceil(xs.max() - x0) / cell) + 1
                h = int(np.ceil(ys.max() - y0) / cell) + 1
                cxs = x0 + (np.arange(w) + 0.5) * cell
                cys = y0 + (np.arange(h) + 0.5) * cell
                gx = np.broadcast_to(cxs[None, :], (h, w))
                gy = np.broadcast_to(cys[:, None], (h, w))
                inside = np.zeros((h, w), dtype=bool)
                n = len(xs)
                for i in range(n):
                    x1, y1 = xs[i], ys[i]
                    x2, y2 = xs[(i + 1) % n], ys[(i + 1) % n]
                    if y1 == y2:
                        continue
                    crosses = (gy < max(y1, y2)) & (gy >= min(y1, y2))
                    xi = x1 + (gy - y1) * (x2 - x1) / (y2 - y1)
                    inside ^= crosses & (gx < xi)
                if not inside.any():
                    rows.append((r[0], -1, -1, 0, 0))
                    continue
                # exact L1 chamfer (city-block two-pass IS the true L1
                # distance): pad-1 background border; each pass carries
                # the vertical term row by row and the horizontal term by
                # the accumulate trick min_j(v_j + |i-j|) =
                # min(acc(v - i) + i both directions) — row-vectorized
                big = np.int64(2 * (h + w))
                d = np.where(inside, big, 0).astype(np.int64)
                d = np.pad(d, 1, constant_values=0)
                W2 = d.shape[1]
                ix = np.arange(W2, dtype=np.int64)

                def xrelax(row):
                    left = np.minimum.accumulate(row - ix) + ix
                    rr = row[::-1] - ix
                    right = (np.minimum.accumulate(rr) + ix)[::-1]
                    return np.minimum(left, right)

                for yy in range(d.shape[0]):
                    if yy:
                        d[yy] = np.minimum(d[yy], d[yy - 1] + 1)
                    d[yy] = xrelax(d[yy])
                for yy in range(d.shape[0] - 2, -1, -1):
                    d[yy] = np.minimum(d[yy], d[yy + 1] + 1)
                    d[yy] = xrelax(d[yy])
                core = d[1 : h + 1, 1 : w + 1]
                best = int(core.max())
                pts = np.argwhere(core == best)
                py, px = pts[np.lexsort((pts[:, 1], pts[:, 0]))][0]
                rows.append(
                    (r[0], int(px), int(py), best, int(inside.sum()))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "px", "py", "dist_l1", "n_interior"],
            )

    return polys.select(id_col, ring_col).mapInPandas(
        fn,
        schema=f"{id_col} long, px long, py long, dist_l1 long,"
        " n_interior long",
    )


def oriented_envelope(
    df: DataFrame,
    group_col: str = "g",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """MINIMUM ORIENTED BOUNDING RECTANGLE per group (rotating calipers;
    PostGIS ST_OrientedEnvelope / shapely minimum_rotated_rectangle) —
    the tightest-area rectangle at any angle, the standard shape
    descriptor for footprint regularization and object elongation.

    By the classic theorem (Freeman & Shapira 1975) the optimal
    rectangle is flush with a convex-hull EDGE, so the search is exact
    and finite: for each hull edge, project all hull vertices onto the
    edge direction and its normal; the candidate area is
    (max_u−min_u)·(max_v−min_v)/|e|². Output one row per group with
    n_hull >= 3: du/dv/e2 (the UNNORMALIZED integer-exact extents for
    integer-coordinate fixtures), the IEEE-pinned double ``area``
    (du·dv/e2, one multiply + one divide — bit-identical cross-engine),
    and the flush edge's canonical endpoints (lexicographic min first)
    as the deterministic tie-break.

    Scale: identical shape to convex_hull — associative partial hulls
    collapse each group before the single shuffle; the caliper sweep is
    O(h²) NumPy per group on h = |hull| vertices. The twin replays the
    directed-edge hull characterization + the same projections in SQL."""
    pts = df.select(
        F.col(group_col), F.col(x_col).alias("x"), F.col(y_col).alias("y")
    )
    gtype = pts.schema[group_col].dataType.simpleString()

    def phase1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for grp, sub in pdf.groupby(group_col, sort=False):
                h = K.convex_hull_pts(sub[["x", "y"]].to_numpy())
                outs.append(
                    pd.DataFrame({group_col: grp, "x": h[:, 0], "y": h[:, 1]})
                )
            yield pd.concat(outs) if outs else pdf.iloc[:0]

    pts = pts.mapInPandas(
        phase1, schema=f"{group_col} {gtype}, x double, y double"
    )
    packed = pts.groupBy(group_col).agg(
        F.collect_list(F.struct("x", "y")).alias("pts")
    )
    cols = (
        "n_hull", "du", "dv", "e2", "area", "ax", "ay", "bx", "by"
    )

    def phase2(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {group_col: []}
            out.update({c: [] for c in cols})
            for grp, ps in zip(pdf[group_col], pdf["pts"]):
                arr = np.array(
                    [[p["x"], p["y"]] for p in ps], dtype=np.float64
                )
                h = K.convex_hull_pts(arr)
                if len(h) < 3:
                    continue
                best = None
                hx, hy = h[:, 0], h[:, 1]
                for i in range(len(h)):
                    ax, ay = h[i]
                    bx, by = h[(i + 1) % len(h)]
                    ex, ey = bx - ax, by - ay
                    e2 = ex * ex + ey * ey
                    u = (hx - ax) * ex + (hy - ay) * ey
                    v = (hx - ax) * (-ey) + (hy - ay) * ex
                    du = u.max() - u.min()
                    dv = v.max() - v.min()
                    area = du * dv / e2
                    p1, p2 = sorted([(ax, ay), (bx, by)])
                    key = (area, p1[0], p1[1], p2[0], p2[1])
                    if best is None or key < best:
                        best = key
                        vals = (
                            len(h), du, dv, e2, area,
                            p1[0], p1[1], p2[0], p2[1],
                        )
                out[group_col].append(grp)
                for c, val in zip(cols, vals):
                    out[c].append(val)
            yield pd.DataFrame(out)

    return packed.mapInPandas(
        phase2,
        schema=(
            f"{group_col} {gtype}, n_hull int, du double, dv double,"
            " e2 double, area double, ax double, ay double,"
            " bx double, by double"
        ),
    )


def oriented_envelope_sql(
    pts_cte: str, group_col: str = "g", x_col: str = "x", y_col: str = "y"
) -> str:
    """DuckDB twin of oriented_envelope over integer-coordinate points:
    hull edges via the directed-edge characterization (every other point
    strictly right, or collinear-and-between), then the identical
    projection extents and IEEE-pinned area, min by (area, canonical
    edge)."""
    g, x, y = group_col, x_col, y_col
    return f"""
WITH pts AS (SELECT DISTINCT {g} AS g, {x} AS x, {y} AS y FROM ({pts_cte})),
e AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by2
  FROM pts a JOIN pts b ON a.g = b.g AND NOT (a.x = b.x AND a.y = b.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM pts c
    WHERE c.g = a.g
      AND NOT (c.x = a.x AND c.y = a.y)
      AND NOT (c.x = b.x AND c.y = b.y)
      AND ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) > 0
           OR ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
               AND NOT (c.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
                        AND c.y BETWEEN least(a.y, b.y)
                            AND greatest(a.y, b.y))))
  )
),
hull_v AS (SELECT DISTINCT g, ax AS x, ay AS y FROM e),
nh AS (SELECT g, CAST(count(*) AS INTEGER) AS n_hull FROM hull_v GROUP BY g),
proj AS (
  SELECT e.g, e.ax, e.ay, e.bx, e.by2,
         (v.x - e.ax) * (e.bx - e.ax) + (v.y - e.ay) * (e.by2 - e.ay) AS u,
         (v.x - e.ax) * (e.ay - e.by2) + (v.y - e.ay) * (e.bx - e.ax) AS vv
  FROM e JOIN hull_v v ON v.g = e.g
),
cand AS (
  SELECT g, ax, ay, bx, by2,
         CAST(max(u) - min(u) AS DOUBLE) AS du,
         CAST(max(vv) - min(vv) AS DOUBLE) AS dv,
         CAST((bx - ax) * (bx - ax) + (by2 - ay) * (by2 - ay) AS DOUBLE)
           AS e2
  FROM proj GROUP BY 1, 2, 3, 4, 5
),
scored AS (
  SELECT g, du, dv, e2, du * dv / e2 AS area,
    CAST(CASE WHEN (ax < bx) OR (ax = bx AND ay < by2) THEN ax ELSE bx END
         AS DOUBLE) AS cax,
    CAST(CASE WHEN (ax < bx) OR (ax = bx AND ay < by2) THEN ay ELSE by2 END
         AS DOUBLE) AS cay,
    CAST(CASE WHEN (ax < bx) OR (ax = bx AND ay < by2) THEN bx ELSE ax END
         AS DOUBLE) AS cbx,
    CAST(CASE WHEN (ax < bx) OR (ax = bx AND ay < by2) THEN by2 ELSE ay END
         AS DOUBLE) AS cby
  FROM cand
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY g ORDER BY area, cax, cay, cbx, cby
  ) AS rn
  FROM scored
)
SELECT r.g, nh.n_hull, r.du, r.dv, r.e2, r.area,
       r.cax AS ax, r.cay AS ay, r.cbx AS bx, r.cby AS by
FROM ranked r JOIN nh ON nh.g = r.g
WHERE r.rn = 1 AND nh.n_hull >= 3
"""


def delaunay_triangles(
    pts: DataFrame,
    grp_col: str = "grp",
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(grp, a, b, c, area2) — the DELAUNAY COMPLEX of each point group
    (PostGIS ST_DelaunayTriangles semantics on integer-quantized
    coordinates): every vertex triple a < b < c (by point id) that is
    non-degenerate (orientation determinant != 0) and whose OPEN
    circumdisk contains no other point of the group.  On cocircular
    quadruples both diagonals' triangles qualify — the Delaunay complex
    is then the well-defined union of all valid triangulations, so the
    output stays deterministic without an RNG tie-break.

    All predicates are EXACT integer determinants (no floats anywhere):
    orientation is the 2x2 cross, in-circle the classical 3x3 lifted
    determinant evaluated relative to the probe point; the probe is
    strictly inside iff sign(det3) == sign(orient), which conveniently
    also self-excludes the triangle's own vertices (their det3 is 0).
    Coordinates must satisfy |x|,|y| <= ~50_000 so the lifted
    determinant (<= ~6·(2·max)^2·(2·max)^2·... ~ 1e17) stays in int64;
    the tile-quantized fixtures use <= 2^10.

    Scale: Delaunay is computed PER GROUP — groups are the engine's
    bounded spatial shards (one tile / cell neighborhood each, the same
    sharding the PIP and kNN layers use), so the O(n^3·n) exact kernel
    sees tile-local n (tens to low hundreds), vectorized across the
    probe axis in NumPy.  Groups parallelize across the cluster; only
    (grp, triple) rows ever shuffle.  area2 = |orientation det| (twice
    the triangle area in quantized units) rides along as a free
    cross-engine checksum."""
    from itertools import combinations

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"grp": [], "a": [], "b": [], "c": [], "area2": []}
        )
        n = len(pdf)
        if n < 3:
            return empty
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        g = pdf[grp_col].iloc[0]
        x = pdf[x_col].to_numpy(np.int64)
        y = pdf[y_col].to_numpy(np.int64)
        pid = pdf[id_col].to_numpy(np.int64)
        idx = np.array(list(combinations(range(n), 3)), dtype=np.int64)
        ia, ib, ic = idx[:, 0], idx[:, 1], idx[:, 2]
        ax, ay = x[ia], y[ia]
        bx, by = x[ib], y[ib]
        cx, cy = x[ic], y[ic]
        orient = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
        keep = orient != 0
        ia, ib, ic = ia[keep], ib[keep], ic[keep]
        ax, ay, bx, by, cx, cy = (
            ax[keep], ay[keep], bx[keep], by[keep], cx[keep], cy[keep]
        )
        orient = orient[keep]
        out_a, out_b, out_c, out_s = [], [], [], []
        # chunk the triple axis so the T x n probe matrices stay small
        step = max(1, 4_000_000 // max(n, 1))
        for lo in range(0, len(orient), step):
            hi = min(lo + step, len(orient))
            adx = ax[lo:hi, None] - x[None, :]
            ady = ay[lo:hi, None] - y[None, :]
            bdx = bx[lo:hi, None] - x[None, :]
            bdy = by[lo:hi, None] - y[None, :]
            cdx = cx[lo:hi, None] - x[None, :]
            cdy = cy[lo:hi, None] - y[None, :]
            ad2 = adx * adx + ady * ady
            bd2 = bdx * bdx + bdy * bdy
            cd2 = cdx * cdx + cdy * cdy
            det = (
                adx * (bdy * cd2 - cdy * bd2)
                - ady * (bdx * cd2 - cdx * bd2)
                + ad2 * (bdx * cdy - cdx * bdy)
            )
            inside = np.sign(det) == np.sign(orient[lo:hi])[:, None]
            ok = ~inside.any(axis=1)
            sel = np.nonzero(ok)[0] + lo
            out_a.append(pid[ia[sel]])
            out_b.append(pid[ib[sel]])
            out_c.append(pid[ic[sel]])
            out_s.append(np.abs(orient[sel]))
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "grp": np.full(sum(len(v) for v in out_a), g),
                "a": np.concatenate(out_a),
                "b": np.concatenate(out_b),
                "c": np.concatenate(out_c),
                "area2": np.concatenate(out_s),
            }
        )

    sel = pts.select(
        F.col(grp_col).cast("long").alias(grp_col),
        F.col(id_col).cast("long").alias(id_col),
        F.col(x_col).cast("long").alias(x_col),
        F.col(y_col).cast("long").alias(y_col),
    )
    return sel.groupBy(grp_col).applyInPandas(
        fn, schema="grp long, a long, b long, c long, area2 long"
    )


def delaunay_triangles_sql(pts_cte: str) -> str:
    """DuckDB twin of delaunay_triangles — identical exact integer
    predicates; emptiness of the open circumdisk via NOT EXISTS over the
    group's points (vertex self-exclusion falls out of sign(0) != ±1,
    mirrored here as det3 sign-match).  ``pts_cte`` -> (grp, pid, x, y)."""
    return f"""
WITH p AS (
  SELECT grp, pid, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ({pts_cte})
),
tri AS (
  SELECT a.grp, a.pid AS pa, b.pid AS pb, c.pid AS pc,
         a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by, c.x AS cx, c.y AS cy,
         (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) AS orient
  FROM p a
  JOIN p b ON b.grp = a.grp AND b.pid > a.pid
  JOIN p c ON c.grp = b.grp AND c.pid > b.pid
),
good AS (SELECT * FROM tri WHERE orient <> 0)
SELECT g.grp, g.pa AS a, g.pb AS b, g.pc AS c,
       CAST(abs(g.orient) AS BIGINT) AS area2
FROM good g
WHERE NOT EXISTS (
  SELECT 1 FROM p d
  WHERE d.grp = g.grp
    AND sign((g.ax - d.x) * ((g.by - d.y) * ((g.cx - d.x) * (g.cx - d.x)
              + (g.cy - d.y) * (g.cy - d.y))
            - (g.cy - d.y) * ((g.bx - d.x) * (g.bx - d.x)
              + (g.by - d.y) * (g.by - d.y)))
       - (g.ay - d.y) * ((g.bx - d.x) * ((g.cx - d.x) * (g.cx - d.x)
              + (g.cy - d.y) * (g.cy - d.y))
            - (g.cx - d.x) * ((g.bx - d.x) * (g.bx - d.x)
              + (g.by - d.y) * (g.by - d.y)))
       + ((g.ax - d.x) * (g.ax - d.x) + (g.ay - d.y) * (g.ay - d.y))
           * ((g.bx - d.x) * (g.cy - d.y) - (g.cx - d.x) * (g.by - d.y)))
        = sign(g.orient)
)
"""


def alpha_shape_edges(
    pts: DataFrame,
    alpha2: int,
    grp_col: str = "grp",
    id_col: str = "pid",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(grp, u, v, n_inc, boundary) — the ALPHA SHAPE (Edelsbrunner,
    Kirkpatrick & Seidel 1983) of each point group as the boundary of
    its alpha complex: keep the Delaunay triangles whose circumradius^2
    < ``alpha2``, then an edge is BOUNDARY iff exactly one kept
    triangle is incident to it (n_inc = 1; interior edges have 2).
    The concave-hull / footprint-extraction primitive (building
    outlines from lidar returns, coverage footprints from GPS pings)
    that convex_hull over-covers.

    Exactness: with integer coordinates the gate R^2 < alpha2 is the
    integer inequality

        |AB|^2 · |BC|^2 · |CA|^2  <  4 · alpha2 · orient^2

    (R = abc/(4K), 16K^2 = 4·orient^2). Squared edges are int64; the
    triple product is evaluated in DECIMAL(38,0) (Spark) / HUGEINT
    (DuckDB) so tile coordinates to ~10^6 stay exact — no floats, no
    epsilon. Degenerate (collinear) triples never enter: the Delaunay
    kernel already drops orient == 0.

    Scale: rides entirely on delaunay_triangles' per-tile sharding —
    three (grp, pid) equi-joins to recover vertex coordinates, one
    combinable groupBy(grp, u, v) edge rollup. Only (grp, triple) and
    (grp, edge) rows shuffle; no new kernel."""
    tris = delaunay_triangles(pts, grp_col, id_col, x_col, y_col)
    p = pts.select(
        F.col(grp_col).cast("long").alias("_g"),
        F.col(id_col).cast("long").alias("_p"),
        F.col(x_col).cast("long").alias("_x"),
        F.col(y_col).cast("long").alias("_y"),
    )

    def vert(tag: str) -> DataFrame:
        return p.select(
            F.col("_g").alias("grp"),
            F.col("_p").alias(tag),
            F.col("_x").alias(f"{tag}x"),
            F.col("_y").alias(f"{tag}y"),
        )

    t = (
        tris.join(vert("a"), ["grp", "a"])
        .join(vert("b"), ["grp", "b"])
        .join(vert("c"), ["grp", "c"])
    )
    ab2 = (F.col("bx") - F.col("ax")) ** 2 + (F.col("by") - F.col("ay")) ** 2
    bc2 = (F.col("cx") - F.col("bx")) ** 2 + (F.col("cy") - F.col("by")) ** 2
    ca2 = (F.col("ax") - F.col("cx")) ** 2 + (F.col("ay") - F.col("cy")) ** 2
    dec = "decimal(38,0)"
    prod = (
        ab2.cast("long").cast(dec)
        * bc2.cast("long").cast(dec)
        * ca2.cast("long").cast(dec)
    )
    rhs = (
        F.lit(4 * int(alpha2)).cast(dec)
        * F.col("area2").cast(dec)
        * F.col("area2").cast(dec)
    )
    kept = t.filter(prod < rhs).select("grp", "a", "b", "c")
    edges = kept.select(
        "grp",
        F.explode(
            F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
                F.struct(F.col("a").alias("u"), F.col("c").alias("v")),
            )
        ).alias("e"),
    ).select("grp", F.col("e.u").alias("u"), F.col("e.v").alias("v"))
    return edges.groupBy("grp", "u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_inc")
    ).withColumn("boundary", F.col("n_inc") == 1)


def alpha_shape_edges_sql(pts_cte: str, alpha2: int) -> str:
    """DuckDB twin of alpha_shape_edges — the Delaunay twin as a nested
    CTE, HUGEINT triple product, identical edge incidence rollup."""
    return f"""
WITH ash_tri AS ({delaunay_triangles_sql(pts_cte)}),
ash_p AS (
  SELECT grp, pid, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM ({pts_cte})
),
ash_kept AS (
  SELECT t.grp, t.a, t.b, t.c
  FROM ash_tri t
  JOIN ash_p pa ON pa.grp = t.grp AND pa.pid = t.a
  JOIN ash_p pb ON pb.grp = t.grp AND pb.pid = t.b
  JOIN ash_p pc ON pc.grp = t.grp AND pc.pid = t.c
  WHERE CAST((pb.x - pa.x) * (pb.x - pa.x) + (pb.y - pa.y) * (pb.y - pa.y)
             AS HUGEINT)
      * CAST((pc.x - pb.x) * (pc.x - pb.x) + (pc.y - pb.y) * (pc.y - pb.y)
             AS HUGEINT)
      * CAST((pa.x - pc.x) * (pa.x - pc.x) + (pa.y - pc.y) * (pa.y - pc.y)
             AS HUGEINT)
      < 4 * CAST({int(alpha2)} AS HUGEINT)
          * CAST(t.area2 AS HUGEINT) * CAST(t.area2 AS HUGEINT)
),
ash_edges AS (
  SELECT grp, a AS u, b AS v FROM ash_kept
  UNION ALL SELECT grp, b, c FROM ash_kept
  UNION ALL SELECT grp, a, c FROM ash_kept
)
SELECT grp, u, v, CAST(count(*) AS BIGINT) AS n_inc,
       count(*) = 1 AS boundary
FROM ash_edges GROUP BY 1, 2, 3
"""


RING_PACK = 1 << 20  # edge-id packing: ring_id * RING_PACK + edge_index


def ring_validity(
    rings: DataFrame,
    ring_col: str = "ring_id",
    seq_col: str = "seq",
    x_col: str = "x",
    y_col: str = "y",
    res: int = 6,
) -> DataFrame:
    """(ring_id, n_vertices, n_zero_len, n_spikes, n_bad_pairs,
    is_valid) — RING VALIDITY (the ST_IsValid core for a single closed
    ring, OGC simple-polygon rules): a ring is valid iff it has no
    zero-length edges, no spikes (a vertex whose incident edges double
    back collinearly), and no two NON-adjacent edges that intersect or
    touch (adjacent edges legitimately share exactly their common
    vertex). The geometry-QA gate before polygon ingestion.

    Exactness: spikes are the integer predicate cross(v,u,w) == 0 AND
    dot(u−v, w−v) > 0 on wrap-around vertex triples; edge-pair checks
    ride segment_intersect_join's CLRS integer gate — no floats, every
    tangency pinned.

    Scale: edges derive from two per-ring ordered windows (wrap via
    first/last over the frame); the pair check is the PBSM covering-
    cell join on packed edge ids (ring·2^20 + i — rings to 1M edges),
    same-ring + i<j + non-adjacency filtered AFTER the exactly-once
    candidate join; two combinable rollups merge the verdicts."""
    from .spatial_join import segment_intersect_join

    w = Window.partitionBy(ring_col).orderBy(F.col(seq_col).asc())
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vx, vy = F.col(x_col).cast("long"), F.col(y_col).cast("long")
    verts = rings.select(
        F.col(ring_col).alias("ring"),
        (F.row_number().over(w) - 1).alias("i"),
        vx.alias("x"),
        vy.alias("y"),
        F.coalesce(F.lead(vx).over(w), F.first(vx).over(wall)).alias("nx"),
        F.coalesce(F.lead(vy).over(w), F.first(vy).over(wall)).alias("ny"),
        F.coalesce(F.lag(vx).over(w), F.last(vx).over(wall)).alias("px"),
        F.coalesce(F.lag(vy).over(w), F.last(vy).over(wall)).alias("py"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    cross_v = (F.col("px") - F.col("x")) * (F.col("ny") - F.col("y")) - (
        F.col("py") - F.col("y")
    ) * (F.col("nx") - F.col("x"))
    dot_v = (F.col("px") - F.col("x")) * (F.col("nx") - F.col("x")) + (
        F.col("py") - F.col("y")
    ) * (F.col("ny") - F.col("y"))
    base = verts.groupBy("ring").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum(
            ((F.col("x") == F.col("nx")) & (F.col("y") == F.col("ny")))
            .cast("long")
        ).cast("long").alias("n_zero_len"),
        F.sum(((cross_v == 0) & (dot_v > 0)).cast("long"))
        .cast("long")
        .alias("n_spikes"),
    )
    edges = verts.select(
        (F.col("ring") * RING_PACK + F.col("i")).alias("eid"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.col("nx").alias("bx"),
        F.col("ny").alias("by"),
    )
    pairs = segment_intersect_join(
        edges.withColumnRenamed("eid", "lid"),
        edges.withColumnRenamed("eid", "rid"),
        res=res,
        lid="lid",
        rid="rid",
    )
    li = F.col("lid") % RING_PACK
    ri = F.col("rid") % RING_PACK
    lring = (F.col("lid") / RING_PACK).cast("long")
    rring = (F.col("rid") / RING_PACK).cast("long")
    bad = (
        pairs.filter((lring == rring) & (li < ri))
        .select(lring.alias("ring"), li.alias("li"), ri.alias("ri"))
        .join(base.select("ring", "n_vertices"), "ring")
        .filter(
            (F.col("ri") - F.col("li") != 1)
            & (F.col("ri") - F.col("li") != F.col("n_vertices") - 1)
        )
        .groupBy("ring")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bad_pairs"))
    )
    return (
        base.join(bad, "ring", "left")
        .select(
            F.col("ring").alias(ring_col),
            "n_vertices",
            "n_zero_len",
            "n_spikes",
            F.coalesce(F.col("n_bad_pairs"), F.lit(0)).cast("long").alias(
                "n_bad_pairs"
            ),
        )
        .withColumn(
            "is_valid",
            (F.col("n_zero_len") == 0)
            & (F.col("n_spikes") == 0)
            & (F.col("n_bad_pairs") == 0),
        )
    )


def ring_validity_sql(rings_cte: str) -> str:
    """DuckDB twin of ring_validity — identical wrap windows and spike
    predicate; the pair check brute-forces all same-ring edge pairs
    with the identical CLRS gate and adjacency exclusion."""
    return f"""
WITH rv_src AS ({rings_cte}),
rv_v AS (
  SELECT ring_id AS ring,
         CAST(row_number() OVER wo - 1 AS BIGINT) AS i,
         CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
         COALESCE(lead(CAST(x AS BIGINT)) OVER wo,
                  first_value(CAST(x AS BIGINT)) OVER wf) AS nx,
         COALESCE(lead(CAST(y AS BIGINT)) OVER wo,
                  first_value(CAST(y AS BIGINT)) OVER wf) AS ny,
         COALESCE(lag(CAST(x AS BIGINT)) OVER wo,
                  last_value(CAST(x AS BIGINT)) OVER wf) AS px,
         COALESCE(lag(CAST(y AS BIGINT)) OVER wo,
                  last_value(CAST(y AS BIGINT)) OVER wf) AS py,
         count(*) OVER wf AS n
  FROM rv_src
  WINDOW wo AS (PARTITION BY ring_id ORDER BY seq ASC),
         wf AS (PARTITION BY ring_id ORDER BY seq ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
rv_base AS (
  SELECT ring, CAST(count(*) AS BIGINT) AS n_vertices,
         CAST(sum(CASE WHEN x = nx AND y = ny THEN 1 ELSE 0 END) AS BIGINT)
           AS n_zero_len,
         CAST(sum(CASE WHEN (px - x) * (ny - y) - (py - y) * (nx - x) = 0
                        AND (px - x) * (nx - x) + (py - y) * (ny - y) > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes
  FROM rv_v GROUP BY 1
),
rv_pairs AS (
  SELECT a.ring, CAST(count(*) AS BIGINT) AS n_bad_pairs
  FROM rv_v a
  JOIN rv_v b ON b.ring = a.ring AND b.i > a.i
             AND b.i - a.i <> 1 AND b.i - a.i <> a.n - 1
  WHERE (
    ((b.nx - b.x) * (a.y - b.y) - (b.ny - b.y) * (a.x - b.x))
    * ((b.nx - b.x) * (a.ny - b.y) - (b.ny - b.y) * (a.nx - b.x)) < 0
    AND
    ((a.nx - a.x) * (b.y - a.y) - (a.ny - a.y) * (b.x - a.x))
    * ((a.nx - a.x) * (b.ny - a.y) - (a.ny - a.y) * (b.nx - a.x)) < 0
  )
  OR ( ((b.nx - b.x) * (a.y - b.y) - (b.ny - b.y) * (a.x - b.x)) = 0
       AND a.x BETWEEN least(b.x, b.nx) AND greatest(b.x, b.nx)
       AND a.y BETWEEN least(b.y, b.ny) AND greatest(b.y, b.ny) )
  OR ( ((b.nx - b.x) * (a.ny - b.y) - (b.ny - b.y) * (a.nx - b.x)) = 0
       AND a.nx BETWEEN least(b.x, b.nx) AND greatest(b.x, b.nx)
       AND a.ny BETWEEN least(b.y, b.ny) AND greatest(b.y, b.ny) )
  OR ( ((a.nx - a.x) * (b.y - a.y) - (a.ny - a.y) * (b.x - a.x)) = 0
       AND b.x BETWEEN least(a.x, a.nx) AND greatest(a.x, a.nx)
       AND b.y BETWEEN least(a.y, a.ny) AND greatest(a.y, a.ny) )
  OR ( ((a.nx - a.x) * (b.ny - a.y) - (a.ny - a.y) * (b.nx - a.x)) = 0
       AND b.nx BETWEEN least(a.x, a.nx) AND greatest(a.x, a.nx)
       AND b.ny BETWEEN least(a.y, a.ny) AND greatest(a.y, a.ny) )
  GROUP BY 1
)
SELECT b.ring AS ring_id, b.n_vertices, b.n_zero_len, b.n_spikes,
       COALESCE(p.n_bad_pairs, 0) AS n_bad_pairs,
       b.n_zero_len = 0 AND b.n_spikes = 0
         AND COALESCE(p.n_bad_pairs, 0) = 0 AS is_valid
FROM rv_base b LEFT JOIN rv_pairs p ON p.ring = b.ring
"""


def convex_layers(
    df: DataFrame,
    layers: int = 3,
    group_col: str = "g",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """(g, x, y, layer) — CONVEX LAYERS / onion peeling (Chazelle): hull
    vertices are layer 1, the hull of what remains is layer 2, ... The
    nonparametric depth ordering behind outlier trimming ("peel the
    outer k layers"), bagplots, and robust location — the 2-D
    generalization of ranking by extremity. Points beyond ``layers``
    peels are not emitted (interior mass). Input points are DISTINCT
    (g, x, y) value triples (duplicates collapse, as in the hull).

    Per layer the grouped-hull kernel runs exactly as in convex_hull
    (partial-hull map-side combine would apply at scale; here the
    per-group collect matches it), MINIMAL vertex sets — collinear
    boundary points are NOT vertices and survive to inner layers,
    which the twin's directed-edge characterization reproduces.
    Groups reduced to <= 2 points peel whole.

    Scale: layers × (one combinable collect per group + one anti-join
    on the peeled vertices); the live set shrinks every layer."""
    pts = df.select(
        F.col(group_col).alias("g"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    ).distinct().localCheckpoint(eager=False)
    out = None
    for layer in range(1, layers + 1):
        packed = pts.groupBy("g").agg(
            F.collect_list(F.struct("x", "y")).alias("pts")
        )

        def peel(it: Iterator[pd.DataFrame], _l=layer) -> Iterator[pd.DataFrame]:
            for pdf in it:
                gs, xs, ys = [], [], []
                for grp, ps in zip(pdf["g"], pdf["pts"]):
                    arr = np.array(
                        [[p["x"], p["y"]] for p in ps], dtype=np.float64
                    )
                    if len(arr) <= 2:
                        h = arr
                    else:
                        h = K.convex_hull_pts(arr)
                    for x, y in h:
                        gs.append(grp)
                        xs.append(float(x))
                        ys.append(float(y))
                yield pd.DataFrame({"g": gs, "x": xs, "y": ys})

        hull = packed.mapInPandas(
            peel, schema="g long, x double, y double"
        ).localCheckpoint(eager=False)
        labeled = hull.select(
            "g", "x", "y", F.lit(layer).cast("long").alias("layer")
        )
        out = labeled if out is None else out.unionByName(labeled)
        pts = pts.join(hull, ["g", "x", "y"], "left_anti").localCheckpoint(
            eager=False
        )
        if pts.limit(1).count() == 0:
            break
    return out


def convex_layers_sql(pts_cte: str, layers: int = 3) -> str:
    """DuckDB twin of convex_layers — per layer the directed-edge hull
    characterization (convex_hull's oracle) plus the <=2-point
    whole-group peel. ``pts_cte`` -> (g, x, y)."""
    parts = [
        f"""cl_p0 AS MATERIALIZED (
  SELECT DISTINCT g, CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
  FROM ({pts_cte})
)"""
    ]
    for i in range(1, layers + 1):
        parts.append(
            f"""cl_v{i} AS MATERIALIZED (
  SELECT DISTINCT g, x, y FROM (
    SELECT a.g, a.x, a.y
    FROM cl_p{i - 1} a JOIN cl_p{i - 1} b
      ON a.g = b.g AND NOT (a.x = b.x AND a.y = b.y)
    WHERE NOT EXISTS (
      SELECT 1 FROM cl_p{i - 1} c
      WHERE c.g = a.g
        AND NOT (c.x = a.x AND c.y = a.y)
        AND NOT (c.x = b.x AND c.y = b.y)
        AND ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) > 0
             OR ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
                 AND NOT (c.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
                          AND c.y BETWEEN least(a.y, b.y)
                              AND greatest(a.y, b.y))))
    )
    UNION ALL
    SELECT p.g, p.x, p.y FROM cl_p{i - 1} p
    JOIN (SELECT g FROM cl_p{i - 1} GROUP BY g HAVING COUNT(*) <= 2) s
      USING (g)
  )
),
cl_p{i} AS MATERIALIZED (
  SELECT p.g, p.x, p.y FROM cl_p{i - 1} p
  LEFT JOIN cl_v{i} v ON v.g = p.g AND v.x = p.x AND v.y = p.y
  WHERE v.g IS NULL
)"""
        )
    unions = " UNION ALL ".join(
        f"SELECT g, x, y, CAST({i} AS BIGINT) AS layer FROM cl_v{i}"
        for i in range(1, layers + 1)
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
{unions}
"""
