"""Spatial layer tests: cell index, PIP join, kNN, raster<->vector join —
each validated against a brute-force oracle (SURVEY §5 strategy)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom
from osm2geojson_spark.functions import kernels as K
from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators.knn import knn_bruteforce, knn_join
from osm2geojson_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygons_to_df,
    raster_vector_join,
    shard_polygons,
    tile_footprints,
)
from osm2geojson_spark.sources import synthetic as SYN


@pytest.fixture(scope="module")
def points(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("pid"),
        SYN.lon_expr(F.col("id"), (-10.0, -10.0, 10.0, 10.0)).alias("lon"),
        SYN.lat_expr(F.col("id"), (-10.0, -10.0, 10.0, 10.0)).alias("lat"),
    )
    df = df.cache()
    df.count()
    return df


def _triangle_with_hole():
    shell = [[-8, -8], [8, -8], [0, 8], [-8, -8]]
    hole = [[-2, -4], [2, -4], [0, 0], [-2, -4]]
    return geom.polygon([shell, hole])


def test_cell_roundtrip(spark):
    df = spark.range(0, 500).select(
        SYN.lon_expr(F.col("id")).alias("lon"), SYN.lat_expr(F.col("id")).alias("lat")
    )
    out = df.select(
        "lon",
        "lat",
        cells.cell_id(F.col("lon"), F.col("lat"), 9).alias("c"),
    )
    rows = out.collect()
    n = 1 << 9
    for r in rows:
        x = int((r["lon"] + 180) / 360 * n)
        y = int((r["lat"] + 90) / 180 * n)
        expected = (9 << 58) | (min(n - 1, x) << 29) | min(n - 1, y)
        assert r["c"] == expected


def test_parent_and_kring(spark):
    df = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    c12 = cells.cell_id(F.col("lon"), F.col("lat"), 12)
    row = df.select(
        cells.parent_cell(c12, 12, 7).alias("p"),
        cells.cell_id(F.col("lon"), F.col("lat"), 7).alias("c7"),
        F.size(cells.k_ring(c12, 12, 2)).alias("ring2"),
    ).collect()[0]
    assert row["p"] == row["c7"]
    assert row["ring2"] == 25


def test_kring_clamps_at_poles(spark):
    df = spark.createDataFrame([(0.0, 89.99)], "lon double, lat double")
    c = cells.cell_id(F.col("lon"), F.col("lat"), 5)
    row = df.select(F.size(cells.k_ring(c, 5, 1)).alias("n")).collect()[0]
    assert row["n"] == 6  # top row clamped away


def test_covering_wraps_antimeridian(spark):
    """A bbox given with min_lon > max_lon (GeoJSON RFC 7946 crossing
    convention) covers cells on BOTH sides of 180°, matching the cells of
    the two half-boxes; a normal bbox is unchanged."""
    res = 5
    df = spark.createDataFrame(
        [(170.0, -5.0, -170.0, 5.0)],
        "min_lon double, min_lat double, max_lon double, max_lat double",
    )
    cov = df.select(
        cells.covering_cells(
            F.col("min_lon"), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"), res
        ).alias("c")
    ).collect()[0]["c"]
    east = df.select(
        cells.covering_cells(
            F.col("min_lon"), F.col("min_lat"), F.lit(179.999999), F.col("max_lat"), res
        ).alias("c")
    ).collect()[0]["c"]
    west = df.select(
        cells.covering_cells(
            F.lit(-180.0), F.col("min_lat"), F.col("max_lon"), F.col("max_lat"), res
        ).alias("c")
    ).collect()[0]["c"]
    assert sorted(cov) == sorted(set(east) | set(west))
    assert len(set(cov)) == len(cov)
    # x values span both grid edges
    xs = {(c % (1 << 58)) >> 29 for c in cov}
    assert 0 in xs and (1 << res) - 1 in xs


def test_pip_join_matches_bruteforce(spark, points):
    poly = _triangle_with_hole()
    polys = polygons_to_df(spark, [(1, poly)])
    got = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(points, polys, res=5).collect()
    }
    # NumPy oracle
    pdf = points.toPandas()
    pts = pdf[["lon", "lat"]].values
    rings = geom.all_rings(poly)
    inside = np.zeros(len(pts), dtype=bool)
    for ring, is_hole in rings:
        hit = K.points_in_ring(pts, ring)
        inside = inside & ~hit if is_hole else inside | hit
    expected = {(int(pdf["pid"].iloc[i]), 1) for i in np.where(inside)[0]}
    assert got == expected
    assert len(got) > 50  # non-trivial


@pytest.mark.parametrize("compact_interior", [True, False])
def test_polygon_side_is_a_local_relation(spark, points, compact_interior):
    """The polygon table and the broadcast shard tables are JVM local
    relations: no scan of them starts a Python worker."""
    rects = [
        (1, geom.polygon([[(-6, -6), (6, -6), (6, 6), (-6, 6), (-6, -6)]])),
        (2, geom.polygon([[(2, 2), (9, 2), (9, 9), (2, 9), (2, 2)]])),
    ]
    polys = polygons_to_df(spark, rects)
    joined = point_in_polygon_join(
        points, polys, res=5, compact_interior=compact_interior
    )
    for df in (polys, joined):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
    n = {1: 0, 2: 0}
    for r in points.collect():
        n[1] += -6 <= r["lon"] <= 6 and -6 <= r["lat"] <= 6
        n[2] += 2 <= r["lon"] <= 9 and 2 <= r["lat"] <= 9
    got = joined.groupBy("poly_id").count().collect()
    assert {r["poly_id"]: r["count"] for r in got} == n


def test_pip_respects_holes(spark):
    poly = _triangle_with_hole()
    polys = polygons_to_df(spark, [(1, poly)])
    probe = spark.createDataFrame(
        [(1, 0.0, -2.0), (2, 0.0, 5.0), (3, 9.0, 9.0)], "pid long, lon double, lat double"
    )
    got = {r["pid"] for r in point_in_polygon_join(probe, polys, res=5).collect()}
    assert got == {2}  # 1 in hole, 3 outside


def _edge_case_polys():
    """Rectangles with every vertex on a res-4 flat grid line, a polygon
    with two holes, a multipolygon with two parts in one cell, a 97-gon
    reaching toward the pole, the whole world, and the issue-35 relation."""
    import json
    import os

    def rect(x0, y0, x1, y1):
        return [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]

    ang = np.linspace(0.0, 2.0 * np.pi, 98)
    gon = np.column_stack([20.0 + 40.0 * np.cos(ang), 72.0 + 14.0 * np.sin(ang)])
    gon[-1] = gon[0]
    with open(os.path.join(os.path.dirname(__file__), "data", "issue-35.geojson")) as fh:
        (feat,) = json.load(fh)["features"]
    return [
        (1, geom.polygon([rect(-45.0, -22.5, 45.0, 22.5)])),
        (2, geom.polygon([rect(-22.5, -11.25, 0.0, 0.0)])),
        (3, geom.polygon([
            rect(-90.0, -60.0, 90.0, 60.0),
            rect(-10.0, -10.0, 10.0, 10.0),
            rect(50.0, 20.0, 70.0, 45.0),
        ])),
        (4, geom.multipolygon([
            [[[100.1, 10.1], [100.4, 10.1], [100.4, 10.4], [100.1, 10.1]]],
            [[[100.5, 10.5], [101.0, 10.5], [101.0, 10.9], [100.5, 10.5]]],
        ])),
        (5, geom.polygon([gon])),
        (6, geom.polygon([rect(-180.0, -90.0, 180.0, 90.0)])),
        (7, geom.multipolygon(feat["geometry"]["coordinates"])),
    ]


@pytest.fixture(scope="module")
def edge_case_pip(spark):
    """(points, polygons, brute-force pairs) for the edge-case fixture."""
    from osm2geojson_spark.operators.spatial_join import point_in_polygon_bruteforce

    polys = _edge_case_polys()
    rng = np.random.default_rng(35)
    pts = list(zip(rng.uniform(-180, 180, 1500), rng.uniform(-90, 90, 1500)))
    for _, g in polys:
        x0, y0, x1, y1 = geom.bbox(g)
        pts += zip(rng.uniform(x0, x1, 400), rng.uniform(y0, y1, 400))
    # grid-line crossings, the rectangles' own vertices and the world's edge
    pts += [(x, y) for x in np.arange(-180.0, 180.1, 22.5) for y in np.arange(-90.0, 90.1, 11.25)]
    pts += [(x, y) for x in (-180.0, 180.0) for y in (-90.0, -45.0, 0.0, 45.0, 90.0)]
    pts += [(x, y) for x in (-90.0, 0.0, 90.0) for y in (-90.0, 90.0)]
    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)],
        "pid long, lon double, lat double",
    ).cache()
    polys_df = polygons_to_df(spark, polys)
    brute = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_bruteforce(points, polys_df).collect()
    }
    return points, polys_df, brute


@pytest.mark.parametrize("grid", ["flat", "sphere"])
@pytest.mark.parametrize("broadcast", [True, False])
def test_pip_edge_shards_match_bruteforce(spark, edge_case_pip, grid, broadcast):
    """The JVM edge-shard refine equals the NumPy ray cast on grid-aligned
    vertices, holes, a two-part cell, a 97-gon, issue-35's polygons and
    points at lon +-180 / lat +-90, on both grids and both join paths."""
    points, polys_df, brute = edge_case_pip
    got = point_in_polygon_join(
        points, polys_df, res=4, grid=grid, broadcast_polys=broadcast
    ).select("pid", "poly_id").collect()
    assert len(got) == len(set(got))
    assert {(r["pid"], r["poly_id"]) for r in got} == brute
    assert {p for _, p in brute} == {1, 2, 3, 4, 5, 6, 7}


def test_cell_rings_fold_equals_ray_cast():
    """_cell_rings keeps, per cell, exactly what the ray cast needs: its
    edges and parity folded as the JVM filter folds them give the full
    kernel's answer for points anywhere in the cell, edges included."""
    from osm2geojson_spark.operators.spatial_join import _CELL_EPS, _cell_rings

    rng = np.random.default_rng(8)
    n = 1 << 6
    for _, g in _edge_case_polys():
        rings = geom.all_rings(g)
        # points just either side of every edge: the ones a wrongly dropped
        # edge would misclassify
        mid = np.vstack([(r[:-1] + r[1:]) / 2.0 for r, _ in rings])
        near = np.vstack([mid + [d, 0.0] for d in (-1e-6, 1e-6)])
        x0, y0, x1, y1 = geom.bbox(g)
        for cx in range(int((x0 + 180) / 360 * n), min(n, int((x1 + 180) / 360 * n) + 1)):
            for cy in range(int((y0 + 90) / 180 * n), min(n, int((y1 + 90) / 180 * n) + 1)):
                bx0, bx1 = -180 + cx * 360 / n, -180 + (cx + 1) * 360 / n
                by0, by1 = -90 + cy * 180 / n, -90 + (cy + 1) * 180 / n
                pts = np.column_stack([rng.uniform(bx0, bx1, 16), rng.uniform(by0, by1, 16)])
                inb = (near[:, 0] >= bx0) & (near[:, 0] <= bx1) & (near[:, 1] >= by0) & (near[:, 1] <= by1)
                pts = np.vstack([pts, near[inb], [[bx0, by0], [bx1, by1], [bx0, by1], [bx1, by0]]])
                want = np.zeros(len(pts), dtype=bool)
                for ring, hole in rings:
                    hit = K.points_in_ring(pts, ring)
                    want = want & ~hit if hole else want | hit
                got = np.zeros(len(pts), dtype=bool)
                shard = _cell_rings(
                    rings, bx0 - _CELL_EPS, by0 - _CELL_EPS, bx1 + _CELL_EPS, by1 + _CELL_EPS
                )
                for hole, parity, edges in shard:
                    hit = np.full(len(pts), parity)
                    for ex1, ey1, ex2, ey2 in edges:
                        x, y = pts[:, 0], pts[:, 1]
                        with np.errstate(divide="ignore", invalid="ignore"):
                            cross = ((ey1 > y) != (ey2 > y)) & (
                                x < ex1 + (y - ey1) * (ex2 - ex1) / (ey2 - ey1)
                            )
                        hit ^= cross
                    got = got & ~hit if hole else got | hit
                assert (got == want).all(), (cx, cy)


def _python_nodes_and_leaves(plan):
    """[(python exec node name, names of the leaves under it)] of an
    executed plan, walked through py4j."""

    def children(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def leaves(node):
        kids = children(node)
        return [node.toString()] if not kids else [x for k in kids for x in leaves(k)]

    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Python" in name or "InPandas" in name or "InArrow" in name:
            out.append((name, leaves(node)))
        stack.extend(children(node))
    return out


@pytest.mark.parametrize("grid", ["flat", "sphere"])
def test_pip_plan_python_only_under_polygon_side(spark, points, grid):
    """Broadcast path: no Python exec node and no Union anywhere in the
    executed plan. Shuffle path: Python runs only under the polygon side
    (the executor-side shard build), never over the points."""
    polys = polygons_to_df(spark, [(1, _triangle_with_hole())])
    bc = point_in_polygon_join(points, polys, res=5, grid=grid)
    plan = bc._jdf.queryExecution().executedPlan()
    assert _python_nodes_and_leaves(plan) == []
    assert "Union" not in plan.toString()
    sh = point_in_polygon_join(points, polys, res=5, grid=grid, broadcast_polys=False)
    found = _python_nodes_and_leaves(sh._jdf.queryExecution().executedPlan())
    assert found
    for _, leaves in found:
        assert all("gpb" in leaf for leaf in leaves), leaves


def test_polygon_sharding_covers_bbox(spark):
    polys = polygons_to_df(spark, [(1, _triangle_with_hole())])
    n = shard_polygons(polys, 5).count()
    # bbox [-8,8]x[-8,8] at res 5 (11.25 x 5.625 deg cells)
    assert 4 <= n <= 12


def test_knn_matches_bruteforce(spark, points):
    queries = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, -9.5, 9.5), (3, 4.0, -8.0)],
        "qid long, lon double, lat double",
    )
    targets = points.select(F.col("pid").alias("tid"), "lon", "lat")
    got = [
        (r["qid"], r["rank"], r["tid"])
        for r in knn_join(queries, targets, k=5, res=7).collect()
    ]
    exp = [
        (r["qid"], r["rank"], r["tid"])
        for r in knn_bruteforce(queries, targets, k=5).collect()
    ]
    assert sorted(got) == sorted(exp)


def test_knn_polar_query_falls_back_correctly(spark):
    queries = spark.createDataFrame([(1, 10.0, 89.5)], "qid long, lon double, lat double")
    targets = spark.createDataFrame(
        [(i, float(i * 30 - 180), 89.0) for i in range(12)],
        "tid long, lon double, lat double",
    )
    got = [
        (r["rank"], r["tid"]) for r in knn_join(queries, targets, k=2, res=6).collect()
    ]
    exp = [
        (r["rank"], r["tid"]) for r in knn_bruteforce(queries, targets, k=2).collect()
    ]
    assert sorted(got) == sorted(exp)


def test_raster_vector_join_matches_bbox_oracle(spark):
    imgs = SYN.synthetic_images(spark, 400, bbox=(-9.0, -9.0, 9.0, 9.0), with_bytes=False)
    fp = tile_footprints(imgs, deg_per_px=0.02)
    poly = _triangle_with_hole()
    minx, miny, maxx, maxy = geom.bbox(poly)
    polys = polygons_to_df(spark, [(1, poly)])
    got = {r["image_id"] for r in raster_vector_join(fp, polys, res=5).collect()}
    pdf = fp.select("image_id", "fminx", "fminy", "fmaxx", "fmaxy").toPandas()
    exp = {
        r.image_id
        for r in pdf.itertuples()
        if r.fminx <= maxx and r.fmaxx >= minx and r.fminy <= maxy and r.fmaxy >= miny
    }
    assert got == exp and len(got) > 10


def test_hilbert_key_matches_reference(spark):
    """Vectorized Hilbert key == the public-spec scalar algorithm, and the
    curve is continuous (consecutive d -> grid-adjacent cells)."""
    from osm2geojson_spark.operators.cells import hilbert_d_py, hilbert_key, pack_cell_py

    res = 4
    n = 1 << res
    rows = [(pack_cell_py(res, x, y), x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "cell long, x int, y int")
    got = {
        (r["x"], r["y"]): r["d"]
        for r in df.withColumn("d", hilbert_key(F.col("cell"), res)).collect()
    }
    for (x, y), d in got.items():
        assert d == hilbert_d_py(x, y, res)
    # continuity: walk the curve, each step moves exactly 1 in the grid
    by_d = sorted(((d, xy) for xy, d in got.items()))
    assert [d for d, _ in by_d] == list(range(n * n))
    for (_, (x0, y0)), (_, (x1, y1)) in zip(by_d, by_d[1:]):
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_raster_vector_exact_refine(spark):
    """exact=True drops bbox-overlapping tiles that miss the polygon proper:
    a diamond (rotated square) vs corner tiles whose bboxes overlap the
    diamond's bbox but not the diamond."""
    from osm2geojson_spark.functions import geom as GEO
    from osm2geojson_spark.operators.spatial_join import (
        polygons_to_df,
        raster_vector_join,
    )
    from osm2geojson_spark.sources.synthetic import phash_encode

    diamond = GEO.polygon([[[0.0, -10.0], [10.0, 0.0], [0.0, 10.0], [-10.0, 0.0], [0.0, -10.0]]])
    polys = polygons_to_df(spark, [(0, diamond)])
    # tile footprints: small squares centered at corner vs center points
    pts = [
        ("center", 0.0, 0.0, True),     # inside
        ("corner", 9.0, 9.0, False),    # inside the diamond's bbox, outside the diamond
        ("edge", 5.0, 4.9, True),       # near the edge, inside
        ("far", 30.0, 30.0, False),     # outside the bbox entirely
    ]
    imgs = spark.createDataFrame(
        [(n, 10, 10) for n, *_ in pts], "image_id string, w int, h int"
    ).withColumn(
        "phash",
        F.when(F.col("image_id") == "center", phash_encode(F.lit(0.0), F.lit(0.0)))
        .when(F.col("image_id") == "corner", phash_encode(F.lit(9.0), F.lit(9.0)))
        .when(F.col("image_id") == "edge", phash_encode(F.lit(5.0), F.lit(4.9)))
        .otherwise(phash_encode(F.lit(30.0), F.lit(30.0))),
    )
    from osm2geojson_spark.operators.spatial_join import tile_footprints

    fp = tile_footprints(imgs, deg_per_px=0.01)
    coarse = {r["image_id"] for r in raster_vector_join(fp, polys, res=5).collect()}
    exact = {r["image_id"] for r in raster_vector_join(fp, polys, res=5, exact=True).collect()}
    assert "corner" in coarse  # bbox pass keeps the false positive
    assert exact == {"center", "edge"}


def test_knn_sphere_grid_matches_bruteforce_at_poles(spark):
    """The sphere-grid kNN returns exactly the brute-force answer, and a
    polar query set resolves through ring rounds WITHOUT the brute-force
    fallback (the flat grid's polar guarantee collapses; the sphere grid's
    does not)."""
    import numpy as np

    from osm2geojson_spark.operators.knn import knn_bruteforce, knn_join

    rng = np.random.default_rng(9)
    # dense polar target cloud + mid-latitude noise
    tg = [(i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 400), rng.uniform(80, 89.99, 400)))]
    tg += [(1000 + i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 100), rng.uniform(-60, 60, 100)))]
    targets = spark.createDataFrame(tg, "tid long, lon double, lat double")
    qs = [(j, float(lo), float(la)) for j, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 12), rng.uniform(84, 89.9, 12)))]
    queries = spark.createDataFrame(qs, "qid long, lon double, lat double")

    exact = {
        (r["qid"], r["rank"]): r["tid"]
        for r in knn_bruteforce(queries, targets, k=3).collect()
    }
    got_rows = knn_join(
        queries, targets, k=3, res=6, grid="sphere",
        rounds=(1, 4, 16, 64), bruteforce_fallback=False,
    ).collect()
    got = {(r["qid"], r["rank"]): r["tid"] for r in got_rows}
    assert got == exact  # complete (no fallback needed) AND identical


def test_knn_sphere_face_edge_large_k_is_exact(spark):
    """Queries packed against a cube-face edge AND corner, with a ring round
    so large its linear guarantee would (before the k_eff clamp) overrun the
    saturating cross-face coverage. Exactness vs brute force is the
    contract; the clamp makes over-large rings escalate to the fallback
    instead of mis-certifying."""
    import numpy as np

    rng = np.random.default_rng(21)
    # face 0/1 edge is lon=45; the face corner (45, ~35.26) where 3 faces meet
    tg = [(i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(40, 50, 300), rng.uniform(30, 40, 300)))]
    tg += [(1000 + i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 150), rng.uniform(-60, 60, 150)))]
    targets = spark.createDataFrame(tg, "tid long, lon double, lat double")
    qs = [(j, float(44.999) + 0.002 * (j % 2), float(35.264) + 0.3 * (j - 4))
          for j in range(8)]
    queries = spark.createDataFrame(qs, "qid long, lon double, lat double")

    exact = {
        (r["qid"], r["rank"]): r["tid"]
        for r in knn_bruteforce(queries, targets, k=4).collect()
    }
    got = {
        (r["qid"], r["rank"]): r["tid"]
        for r in knn_join(
            queries, targets, k=4, res=5, grid="sphere", rounds=(2, 48)
        ).collect()
    }
    assert got == exact


def _sphere_poly_fixture():
    def boxpoly(x0, y0, x1, y1):
        return geom.polygon(
            [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]
        )

    return [
        (1, boxpoly(-10, -5, 25, 20)),
        (2, boxpoly(100, 60, 170, 88)),     # high-latitude
        (3, boxpoly(-179.5, -30, 179.5, 30)),  # near-global band
        (4, boxpoly(5, 80, 60, 89.9)),      # polar
        (5, boxpoly(-60, -89.5, -5, -75)),  # south polar
    ]


def test_pip_join_sphere_matches_bruteforce(spark):
    """grid="sphere" PIP equals the brute-force oracle on a point cloud with
    a dense polar component, against polar/high-lat/near-global polygons —
    both the broadcast and the shuffle path."""
    from osm2geojson_spark.operators.spatial_join import (
        point_in_polygon_bruteforce,
    )

    rng = np.random.default_rng(3)
    pts = [(int(i), float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 1500), rng.uniform(-90, 90, 1500)))]
    pts += [(10000 + i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-180, 180, 500), rng.uniform(75, 90, 500)))]
    points_df = spark.createDataFrame(pts, "pid long, lon double, lat double")
    pdf = polygons_to_df(spark, _sphere_poly_fixture())

    brute = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_bruteforce(points_df, pdf)
        .select("pid", "poly_id").collect()
    }
    assert len(brute) > 400
    for bc in (True, False):
        got = {
            (r["pid"], r["poly_id"])
            for r in point_in_polygon_join(
                points_df, pdf, res=4, broadcast_polys=bc, grid="sphere"
            ).select("pid", "poly_id").collect()
        }
        assert got == brute, f"broadcast_polys={bc}"


def test_raster_vector_join_sphere_matches_flat(spark):
    """grid="sphere" raster<->vector join returns exactly the flat-grid
    pairs (the flat path is itself oracle-checked above)."""
    rng = np.random.default_rng(13)
    rows = [(f"img{i:06d}", float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-179, 179, 800), rng.uniform(-89, 89, 800)))]
    imgs = spark.createDataFrame(rows, "image_id string, lon double, lat double")
    fp = imgs.select(
        "image_id",
        (F.col("lon") - 0.8).alias("fminx"),
        (F.col("lat") - 0.8).alias("fminy"),
        (F.col("lon") + 0.8).alias("fmaxx"),
        (F.col("lat") + 0.8).alias("fmaxy"),
    )
    pdf = polygons_to_df(spark, _sphere_poly_fixture())
    flat = set(map(tuple, raster_vector_join(fp, pdf, res=4).collect()))
    sph = set(map(tuple, raster_vector_join(fp, pdf, res=4, grid="sphere").collect()))
    assert sph == flat and len(flat) > 100


def test_pip_join_shuffle_path_matches_broadcast_path(spark, points):
    """broadcast_polys=False (the huge-polygon-table shuffle path) returns
    exactly the broadcast path's result."""
    poly = _triangle_with_hole()
    polys = polygons_to_df(spark, [(1, poly)])
    bc = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(points, polys, res=5).collect()
    }
    sh = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(
            points, polys, res=5, broadcast_polys=False
        ).collect()
    }
    assert sh == bc and len(sh) > 50


def test_pip_shuffle_path_salts_heavy_cells(spark, points):
    """Skewed fixture: with a salt threshold every point cell exceeds, the
    shuffle-path PIP join must (a) return the identical result and (b)
    actually join on (cell_id, salt) — the plans/skew.py heavy-hitter
    treatment, not a raw cell_id join that concentrates a dense urban cell
    on one task."""
    poly = _triangle_with_hole()
    polys = polygons_to_df(spark, [(1, poly)])
    bc = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(points, polys, res=5).collect()
    }
    # res=0 => ALL points share one cell: the worst-case heavy hitter
    for res in (0, 5):
        df = point_in_polygon_join(
            points, polys, res=res, broadcast_polys=False,
            salt_threshold=10, n_salts=4,
        )
        got = {(r["pid"], r["poly_id"]) for r in df.collect()}
        assert got == bc, f"res={res}"
    # plan shape: the candidate join carries the salt key
    plan = (
        point_in_polygon_join(
            points, polys, res=5, broadcast_polys=False,
            salt_threshold=10, n_salts=4,
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "salt" in plan


# ------------------------------------------------- within-distance join


def _wd_points(spark, n, seed, bbox, name):
    return spark.range(0, n).select(
        F.col("id").alias(name),
        SYN.lon_expr(F.col("id") + seed, bbox).alias("lon"),
        SYN.lat_expr(F.col("id") + seed, bbox).alias("lat"),
    )


def _wd_brute(left, right, radius_m):
    from osm2geojson_spark.operators.knn import haversine_col

    cand = (
        left.select(F.col("lid"), F.col("lon").alias("l_lon"), F.col("lat").alias("l_lat"))
        .crossJoin(
            right.select(
                F.col("rid"), F.col("lon").alias("r_lon"), F.col("lat").alias("r_lat")
            )
        )
        .withColumn(
            "dist_m",
            haversine_col(F.col("l_lon"), F.col("l_lat"), F.col("r_lon"), F.col("r_lat")),
        )
        .filter(F.col("dist_m") <= radius_m)
    )
    return {(r["lid"], r["rid"]) for r in cand.collect()}


@pytest.mark.parametrize("grid", ["flat", "sphere"])
def test_within_distance_matches_bruteforce(spark, grid):
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    bbox = (-12.0, -12.0, 12.0, 12.0)
    left = _wd_points(spark, 60, 7, bbox, "lid")
    right = _wd_points(spark, 400, 400_000, bbox, "rid")
    want = _wd_brute(left, right, 250_000.0)
    assert want, "fixture must produce pairs"
    got = {
        (r["lid"], r["rid"])
        for r in within_distance_join(
            left, right, 250_000.0, res=6, grid=grid
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("grid", ["flat", "sphere"])
def test_within_distance_antimeridian_and_polar(spark, grid):
    """Disks straddling the antimeridian and containing a pole must not
    lose pairs: the bbox wraps (min_lon > max_lon) or degrades to the full
    lon band, and both coverers consume that convention."""
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    left = spark.createDataFrame(
        [(0, 179.7, 10.0), (1, -179.9, -30.0), (2, 25.0, 89.2), (3, 60.0, -89.5)],
        "lid long, lon double, lat double",
    )
    rows = []
    for i in range(600):
        rows.append((i, -180.0 + (i * 0.6) % 360.0, -89.9 + (i * 7.31) % 179.8))
    right = spark.createDataFrame(rows, "rid long, lon double, lat double")
    want = _wd_brute(left, right, 250_000.0)
    assert want
    got = {
        (r["lid"], r["rid"])
        for r in within_distance_join(
            left, right, 250_000.0, res=5, grid=grid
        ).collect()
    }
    assert got == want


def test_within_distance_salted_path(spark):
    """Heavy right-side cells: salting must keep the result identical and
    the candidate join must carry the salt key."""
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    bbox = (-3.0, -3.0, 3.0, 3.0)
    left = _wd_points(spark, 40, 11, bbox, "lid")
    right = _wd_points(spark, 500, 900_000, bbox, "rid")
    want = _wd_brute(left, right, 80_000.0)
    got = {
        (r["lid"], r["rid"])
        for r in within_distance_join(
            left, right, 80_000.0, res=3, salt_threshold=10, n_salts=4
        ).collect()
    }
    assert got == want
    plan = (
        within_distance_join(
            left, right, 80_000.0, res=3, salt_threshold=10, n_salts=4
        )
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "salt" in plan


# ------------------------------------------------------- cell compaction


def test_compact_cells_antichain_and_area():
    """Compaction preserves covered area exactly and yields an antichain
    (no output cell is an ancestor of another for the same polygon)."""
    from osm2geojson_spark.operators.cells import (
        cell_res_py,
        compact_cells_py,
        pack_cell_py,
    )

    res = 4
    rows = [
        (pack_cell_py(res, x, y), 7)
        for x in range(16)
        for y in range(16)
        if not (x == 5 and y == 5)
    ] + [(pack_cell_py(res, 0, 0), 9), (pack_cell_py(res, 0, 1), 9)]
    out = compact_cells_py(rows, res)
    assert len(out) < len(rows)

    def leaves(c, p):
        r = cell_res_py(c)
        x = (c >> 29) & ((1 << 29) - 1)
        y = c & ((1 << 29) - 1)
        d = res - r
        return {
            (pack_cell_py(res, (x << d) + dx, (y << d) + dy), p)
            for dx in range(1 << d)
            for dy in range(1 << d)
        }

    covered = set()
    for c, p in out:
        lv = leaves(c, p)
        assert not (covered & lv), "overlap => not an antichain"
        covered |= lv
    assert covered == set(rows)


def test_pip_compact_interior_equivalence(spark, points):
    """compact_interior=True must return exactly the uncompacted result;
    the interior broadcast table must actually shrink for a large polygon."""
    from osm2geojson_spark.operators.cells import compact_cells_py
    from osm2geojson_spark.operators.spatial_join import (
        classified_shards,
        point_in_polygon_join,
    )

    big = geom.polygon([[[-9, -9], [9, -9], [9, 9], [-9, 9], [-9, -9]]])
    polys = polygons_to_df(spark, [(1, big)])
    res = 8
    inside_rows, _, _ = classified_shards([(1, big)], res)
    compacted = compact_cells_py(inside_rows, res)
    assert len(compacted) < len(inside_rows) / 3, (len(inside_rows), len(compacted))

    plain = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(
            points, polys, res=res, compact_interior=False
        ).collect()
    }
    comp = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(
            points, polys, res=res, compact_interior=True
        ).collect()
    }
    assert comp == plain and len(plain) > 100


def test_pip_compact_interior_sphere_equivalence(spark, points):
    """Sphere-grid compaction: identical results, shrunken interior table."""
    from osm2geojson_spark.operators.cells_sphere import sphere_compact_cells_py
    from osm2geojson_spark.operators.spatial_join import (
        point_in_polygon_join,
        sphere_classified_shards,
    )

    big = geom.polygon([[[-9, -9], [9, -9], [9, 9], [-9, 9], [-9, -9]]])
    polys = polygons_to_df(spark, [(1, big)])
    res = 7
    inside_rows, _, _ = sphere_classified_shards([(1, big)], res)
    assert inside_rows, "fixture polygon must have interior sphere cells"
    compacted = sphere_compact_cells_py(inside_rows, res)
    assert len(compacted) < len(inside_rows)

    plain = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(
            points, polys, res=res, grid="sphere", compact_interior=False
        ).collect()
    }
    comp = {
        (r["pid"], r["poly_id"])
        for r in point_in_polygon_join(
            points, polys, res=res, grid="sphere", compact_interior=True
        ).collect()
    }
    assert comp == plain and len(plain) > 100


def test_disk_bbox_contains_disk_boundary(spark):
    """Property test of the superset proof: for random centers/radii, every
    point ON the haversine circle lies inside the disk bbox (with RFC 7946
    wrap semantics)."""
    import numpy as np
    from osm2geojson_spark.operators.knn import EARTH_RADIUS_M
    from osm2geojson_spark.operators.spatial_join import disk_bbox

    rng = np.random.default_rng(5)
    n, m = 25, 72
    lon0 = rng.uniform(-180, 180, n)
    lat0 = rng.uniform(-89.9, 89.9, n)
    rad = rng.uniform(1e3, 3e6, n)  # 1 km .. 3000 km
    from pyspark.sql import functions as F2

    res_rows = []
    for i in range(n):
        one = spark.createDataFrame(
            [(float(lon0[i]), float(lat0[i]))], "lon double, lat double"
        )
        bb = disk_bbox(F2.col("lon"), F2.col("lat"), float(rad[i]))
        res_rows.append(
            one.select(*[b.alias(f"b{k}") for k, b in enumerate(bb)]).collect()[0]
        )
    for i, row in enumerate(res_rows):
        minx, miny, maxx, maxy = row["b0"], row["b1"], row["b2"], row["b3"]
        d = rad[i] / EARTH_RADIUS_M
        br = np.linspace(0, 2 * np.pi, m)
        la1 = np.radians(lat0[i])
        lo1 = np.radians(lon0[i])
        la2 = np.arcsin(
            np.sin(la1) * np.cos(d) + np.cos(la1) * np.sin(d) * np.cos(br)
        )
        lo2 = lo1 + np.arctan2(
            np.sin(br) * np.sin(d) * np.cos(la1),
            np.cos(d) - np.sin(la1) * np.sin(la2),
        )
        plon = (np.degrees(lo2) + 540.0) % 360.0 - 180.0
        plat = np.degrees(la2)
        assert (plat >= miny - 1e-9).all() and (plat <= maxy + 1e-9).all(), i
        if minx <= maxx:
            ok = (plon >= minx - 1e-9) & (plon <= maxx + 1e-9)
        else:  # wrapped box
            ok = (plon >= minx - 1e-9) | (plon <= maxx + 1e-9)
        assert ok.all(), (i, lon0[i], lat0[i], rad[i])


def test_simplify_geometries_distributed(spark):
    """Arrow-pass simplification: schema unchanged, polygons stay closed
    rings, vertex counts drop, Points/None pass through untouched."""
    from osm2geojson_spark.operators.geometry import simplify_geometries

    theta = np.linspace(0, 2 * np.pi, 101)
    circle = np.column_stack([np.cos(theta), np.sin(theta)])
    circle[-1] = circle[0]
    rows = [
        (1, bytearray(geom.polygon([circle]))),
        (2, bytearray(geom.linestring(np.array([[0, 0], [1, 0.001], [2, 0]])))),
        (3, bytearray(geom.point(5.0, 6.0))),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "fid long, gpb binary")
    out = {r["fid"]: r["gpb"] for r in simplify_geometries(df, 0.05).collect()}
    poly = geom.to_geojson_geometry(bytes(out[1]))
    ring = poly["coordinates"][0]
    assert 4 <= len(ring) < 101 and ring[0] == ring[-1]
    line = geom.to_geojson_geometry(bytes(out[2]))["coordinates"]
    assert len(line) == 2
    assert bytes(out[3]) == bytes(rows[2][1])  # Point untouched
    assert out[4] is None


def test_dp_eps0_equals_collinear_filter():
    """The exactness contract behind the simplify_vertices oracle: at
    eps=0, dp_simplify retains exactly the endpoints plus every vertex
    not collinear-between its immediate neighbours, PROVIDED x is
    monotone (betweenness automatic). 200 random integer staircases."""
    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(3, 60))
        x = np.cumsum(rng.integers(1, 3, size=n))
        y = rng.integers(0, 4, size=n)
        pts = np.column_stack([x, y]).astype(np.float64)
        out = K.dp_simplify(pts, 0.0)
        d1 = pts[1:-1] - pts[:-2]
        d2 = pts[2:] - pts[1:-1]
        cross = d1[:, 0] * d2[:, 1] - d1[:, 1] * d2[:, 0]
        keep = np.ones(n, dtype=bool)
        keep[1:-1] = cross != 0
        assert out.tolist() == pts[keep].tolist()


def test_dp_eps0_keeps_collinear_not_between():
    """Line-distance DP (this kernel) keeps a vertex that is collinear
    with its neighbours but NOT between them (polyline doubles back):
    B=(2,0) is on line A(0,0)-C(1,0) but beyond C, and its distance to
    the A-D chord is nonzero, so it must survive eps=0. This pins the
    betweenness clause of the simplify_vertices oracle proof."""
    pts = np.array([[0, 0], [2, 0], [1, 0], [1, 5]], dtype=np.float64)
    out = K.dp_simplify(pts, 0.0)
    assert out.tolist() == pts.tolist()  # every vertex survives


@pytest.mark.parametrize("grid", ["flat", "sphere"])
def test_within_distance_expand_right_equivalent(spark, grid):
    """expand='right' (covering explode on the right side, one cell per
    LEFT point — the huge-left/small-right shape) must return the exact
    pair set of the default, on both grids."""
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    bbox = (-12.0, -12.0, 12.0, 12.0)
    left = _wd_points(spark, 60, 7, bbox, "lid")
    right = _wd_points(spark, 400, 400_000, bbox, "rid")
    want = _wd_brute(left, right, 250_000.0)
    assert want
    got = {
        (r["lid"], r["rid"])
        for r in within_distance_join(
            left, right, 250_000.0, res=6, grid=grid, expand="right"
        ).collect()
    }
    assert got == want


def test_hilbert_cte_sql_matches_reference():
    """The unrolled DuckDB CTE twin reproduces hilbert_d_py on EVERY cell
    of the res-1..6 grids — including the negative intermediate
    coordinates the s-1-x rotation produces (bit-tested via two's
    complement & in both implementations)."""
    import duckdb

    from osm2geojson_spark.operators.cells import hilbert_cte_sql, hilbert_d_py

    for res in (1, 2, 3, 5, 6):
        n = 1 << res
        src = (
            f"SELECT x0*{n}+y0 AS cell_id, x0, y0 "
            f"FROM range({n}) a(x0), range({n}) b(y0)"
        )
        rows = duckdb.sql(hilbert_cte_sql(src, res, cols="cell_id")).fetchall()
        assert len(rows) == n * n
        for cid, h in rows:
            assert h == hilbert_d_py(cid // n, cid % n, res), (res, cid)


def test_morton_key_sql_matches_column_math(spark):
    import duckdb

    from osm2geojson_spark.operators.cells import (
        morton_key,
        morton_key_sql,
        pack_cell_py,
    )

    res = 4
    cells_py = [pack_cell_py(res, x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame([(c,) for c in cells_py], "cell long")
    got = {
        r["cell"]: r["m"]
        for r in df.withColumn("m", morton_key(F.col("cell"), res)).collect()
    }
    sql = f"SELECT c, {morton_key_sql('c', res)} AS m FROM (SELECT unnest(?) AS c)"
    for c, m in duckdb.execute(sql, [cells_py]).fetchall():
        assert got[c] == m, c


def test_hilbert_layout_prunes_more_files_than_scan_order():
    """Why the layout key exists: order the res-6 grid by hilbert vs by
    raw cell_id (x-major scan), cut into 64 equal 'files', and count files
    whose (x, y) extent intersects each 8x8 bbox query. Hilbert files are
    compact 8x8 blocks, scan-order files are full-height x-strips, so the
    average touched-file count must be strictly lower — this is the
    file-pruning win a clustered Parquet write gets from min/max stats."""
    from osm2geojson_spark.operators.cells import hilbert_d_py

    n = 64
    cells_xy = [(x, y) for x in range(n) for y in range(n)]

    def touched(order_key):
        cs = sorted(cells_xy, key=order_key)
        per = len(cs) // 64
        boxes = []
        for f in range(64):
            chunk = cs[f * per : (f + 1) * per]
            xs = [c[0] for c in chunk]
            ys = [c[1] for c in chunk]
            boxes.append((min(xs), min(ys), max(xs), max(ys)))
        total = 0
        for qx in range(0, n, 8):
            for qy in range(0, n, 8):
                total += sum(
                    1
                    for (x0, y0, x1, y1) in boxes
                    if x1 >= qx and x0 <= qx + 7 and y1 >= qy and y0 <= qy + 7
                )
        return total

    t_scan = touched(lambda c: (c[0], c[1]))
    t_hil = touched(lambda c: hilbert_d_py(c[0], c[1], 6))
    assert t_hil == 64  # perfect: each 8x8 query hits exactly one file
    assert t_scan >= 8 * 64  # every query crosses all 8 x-strip files


# ---------------------------------------------------------------- convex hull


def _hull_oracle_minimal(P: np.ndarray):
    """O(n^3) minimal-hull vertex set via the directed-edge test — the same
    characterization the driver oracle (_CONVEX_HULL_SQL) evaluates in SQL:
    (a,b) is a hull edge iff every other point is strictly right of a->b,
    or collinear and between a and b."""
    P = np.unique(P, axis=0)
    verts = set()
    for a in range(len(P)):
        for b in range(len(P)):
            if a == b:
                continue
            A, B = P[a], P[b]
            ok = True
            for c in range(len(P)):
                if c in (a, b):
                    continue
                C = P[c]
                cr = (B[0] - A[0]) * (C[1] - A[1]) - (B[1] - A[1]) * (C[0] - A[0])
                if cr > 0 or (
                    cr == 0
                    and not (
                        min(A[0], B[0]) <= C[0] <= max(A[0], B[0])
                        and min(A[1], B[1]) <= C[1] <= max(A[1], B[1])
                    )
                ):
                    ok = False
                    break
            if ok:
                verts.add((A[0], A[1]))
                verts.add((B[0], B[1]))
    return verts


def test_hull_kernel_matches_edge_oracle_property():
    rng = np.random.default_rng(7)
    for _ in range(60):
        pts = rng.integers(0, 40, size=(int(rng.integers(3, 90)), 2)).astype(float)
        h = K.convex_hull_pts(pts)
        P = np.unique(pts, axis=0)
        collinear = all(
            (P[1][0] - P[0][0]) * (q[1] - P[0][1])
            == (P[1][1] - P[0][1]) * (q[0] - P[0][0])
            for q in P
        ) if len(P) > 2 else True
        if len(P) <= 2 or collinear:
            assert len(h) == min(len(P), 2)
            continue
        assert set(map(tuple, h)) == _hull_oracle_minimal(pts)
        ring = np.vstack([h, h[:1]])  # CCW: positive shoelace
        assert np.sum(ring[:-1, 0] * ring[1:, 1] - ring[1:, 0] * ring[:-1, 1]) > 0


def test_hull_kernel_drops_collinear_and_duplicates():
    # square with collinear edge midpoints and duplicated corners
    pts = np.array(
        [[0, 0], [2, 0], [4, 0], [4, 2], [4, 4], [2, 4], [0, 4], [0, 2],
         [0, 0], [4, 4], [2, 2]], dtype=float)
    h = K.convex_hull_pts(pts)
    assert set(map(tuple, h)) == {(0, 0), (4, 0), (4, 4), (0, 4)}
    assert len(h) == 4


def test_hull_kernel_all_collinear():
    pts = np.array([[0, 0], [1, 1], [2, 2], [3, 3]], dtype=float)
    h = K.convex_hull_pts(pts)
    assert len(h) == 2 and {tuple(p) for p in h} == {(0.0, 0.0), (3.0, 3.0)}


def test_convex_hull_operator_two_phase_equals_direct(spark):
    from osm2geojson_spark.operators.geometry import convex_hull

    df = spark.range(600).select(
        (F.col("id") % 5).alias("g"),
        ((F.col("id") * 7919) % 500).cast("double").alias("x"),
        ((F.col("id") * 104729) % 500).cast("double").alias("y"),
    )
    two = (
        convex_hull(df.repartition(7), partial=True)
        .select("g", "n_hull", "area")
        .orderBy("g")
        .collect()
    )
    direct = (
        convex_hull(df, partial=False)
        .select("g", "n_hull", "area")
        .orderBy("g")
        .collect()
    )
    assert [r.asDict() for r in two] == [r.asDict() for r in direct]
    # hull polygon blob decodes to a closed CCW ring with n_hull + 1 points
    blob = convex_hull(df).filter(F.col("g") == 0).select("gpb", "n_hull").first()
    gj = geom.to_geojson_geometry(bytes(blob["gpb"]))
    assert gj["type"] == "Polygon"
    ring = gj["coordinates"][0]
    assert len(ring) == blob["n_hull"] + 1 and ring[0] == ring[-1]


# ------------------------------------------------------------ linear reference


def test_line_locate_points_general_path(spark):
    from osm2geojson_spark.operators.geometry import line_locate_points

    rng = np.random.default_rng(11)
    rows = []
    for fid in range(40):
        coords = rng.uniform(-50, 50, size=(int(rng.integers(2, 12)), 2))
        rows.append((fid, geom.linestring(coords.tolist()), float(rng.uniform(0, 1)), coords))
    df = spark.createDataFrame(
        [(f, b, fr) for f, b, fr, _ in rows], "feature_id long, gpb binary, frac double"
    )
    got = {
        r["feature_id"]: r
        for r in line_locate_points(df).select("feature_id", "length", "px", "py").collect()
    }
    for fid, _, frac, coords in rows:
        d = np.hypot(np.diff(coords[:, 0]), np.diff(coords[:, 1]))
        total = float(d.sum())
        r = got[fid]
        assert abs(r["length"] - total) < 1e-9
        # returned point sits ON the polyline at measure frac * total
        t = frac * total
        cum = np.concatenate(([0.0], np.cumsum(d)))
        i = int(np.searchsorted(cum, t, side="left"))
        i = max(i, 1)
        a, b = coords[i - 1], coords[i]
        seg = float(d[i - 1])
        ex = a + ((t - cum[i - 1]) * (b - a)) / seg if seg else a
        assert abs(r["px"] - ex[0]) < 1e-9 and abs(r["py"] - ex[1]) < 1e-9


def test_line_locate_points_endpoints_and_vertex_hits(spark):
    from osm2geojson_spark.operators.geometry import line_locate_points

    # 3-4-5 style right angle: vertices at (0,0) (3,0) (3,4); total 7
    blob = geom.linestring([[0, 0], [3, 0], [3, 4]])
    df = spark.createDataFrame(
        [(0, blob, 0.0), (1, blob, 1.0), (2, blob, 3.0 / 7.0)],
        "feature_id long, gpb binary, frac double",
    )
    got = {r["feature_id"]: r for r in line_locate_points(df).collect()}
    assert (got[0]["px"], got[0]["py"]) == (0.0, 0.0)
    assert (got[1]["px"], got[1]["py"]) == (3.0, 4.0)
    # frac 3/7 -> t = 3.0 exactly = first vertex boundary -> (3, 0)
    assert (got[2]["px"], got[2]["py"]) == (3.0, 0.0)
    assert all(abs(r["length"] - 7.0) < 1e-12 for r in got.values())


def test_hausdorff_distance_vs_brute(spark):
    from osm2geojson_spark.operators.geometry import hausdorff_distance

    rng = np.random.default_rng(3)
    rows, truth = [], {}
    for pid in range(25):
        A = rng.uniform(-20, 20, size=(int(rng.integers(2, 15)), 2))
        B = rng.uniform(-20, 20, size=(int(rng.integers(2, 15)), 2))
        # brute double loop, written fresh
        def dmin(p, Q):
            return min((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2 for q in Q)
        truth[pid] = max(max(dmin(a, B) for a in A), max(dmin(b, A) for b in B))
        rows.append((pid, geom.linestring(A.tolist()), geom.linestring(B.tolist())))
    df = spark.createDataFrame(rows, "pair_id long, gpb_a binary, gpb_b binary")
    got = {r["pair_id"]: r["hausdorff_sq"] for r in hausdorff_distance(df).collect()}
    for pid, want in truth.items():
        assert abs(got[pid] - want) < 1e-9, pid


def test_hausdorff_identical_is_zero_and_symmetric(spark):
    from osm2geojson_spark.operators.geometry import hausdorff_distance

    a = geom.linestring([[0, 0], [3, 4], [6, 1]])
    b = geom.linestring([[10, 0], [13, 4]])
    df = spark.createDataFrame(
        [(0, a, a), (1, a, b), (2, b, a)], "pair_id long, gpb_a binary, gpb_b binary"
    )
    got = {r["pair_id"]: r["hausdorff_sq"] for r in hausdorff_distance(df).collect()}
    assert got[0] == 0.0
    assert got[1] == got[2] > 0


# ---------------------------------------------------------------- subdivide


def test_subdivide_partitions_polygon(spark):
    """Pieces area-sum to the original polygon, every piece stays inside
    its cell box, and point containment via the piece probed by the
    point's OWN cell equals containment in the original polygon — the
    dedup-free PIP contract."""
    from osm2geojson_spark.operators.geometry import subdivide_polygons
    from osm2geojson_spark.operators.spatial_join import polygons_to_df

    tri = geom.polygon([[[-50, -30], [70, -10], [0, 60], [-50, -30]]])
    hole = geom.polygon(
        [
            [[-20, -20], [40, -20], [40, 40], [-20, 40], [-20, -20]],
            [[0, 0], [20, 0], [20, 20], [0, 20], [0, 0]],
        ]
    )
    df = polygons_to_df(spark, [(1, tri), (2, hole)])
    pieces = subdivide_polygons(df, res=3).collect()
    sums = {}
    for r in pieces:
        sums[r["poly_id"]] = sums.get(r["poly_id"], 0.0) + r["piece_area"]
    assert abs(sums[1] - 4900.0) < 1e-8  # shoelace of the triangle
    assert abs(sums[2] - (60 * 60 - 20 * 20)) < 1e-9
    # piece-of-cell containment == original containment on random points
    from osm2geojson_spark.operators import cells as CEL

    rng = np.random.default_rng(8)
    piece_map = {}
    for r in pieces:
        piece_map.setdefault((r["poly_id"], r["cell_id"]), bytes(r["gpb"]))
    for _ in range(300):
        px_, py_ = float(rng.uniform(-60, 80)), float(rng.uniform(-40, 70))
        cid = CEL.pack_cell_py(
            3, min(7, max(0, int((px_ + 180) / 45))), min(7, max(0, int((py_ + 90) / 22.5)))
        )
        for pid, blob in ((1, tri), (2, hole)):
            rings = [np.asarray(rr, np.float64) for rr, _ in geom.all_rings(blob)]
            truth = False
            for rr in rings:
                if K.point_in_ring((px_, py_), rr):
                    truth = not truth
            piece = piece_map.get((pid, cid))
            got = False
            if piece is not None:
                for rr, _ in geom.all_rings(piece):
                    if K.point_in_ring((px_, py_), np.asarray(rr, np.float64)):
                        got = not got
            assert got == truth, (pid, px_, py_)


def test_sampled_range_join_commutes_with_sampling(spark, points):
    """The pair-hash gate is geometry-independent: gating CANDIDATES before
    the refine must equal sampling the FULL join output with the same
    gate — and the sample must be a subset with roughly the target rate."""
    from osm2geojson_spark.functions import text as TXT
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    left = points.select(F.col("pid").alias("lid"), "lon", "lat").filter(F.col("lid") < 150)
    right = points.select(F.col("pid").alias("rid"), "lon", "lat").filter(
        (F.col("rid") >= 150) & (F.col("rid") < 1200)
    )
    full = within_distance_join(left, right, 300_000.0, res=6, lid="lid", rid="rid")
    rate = 0.3
    thr = int(rate * 1_000_003)
    gate = (
        TXT.md5_long(
            F.concat(F.col("lid").cast("string"), F.lit("_"), F.col("rid").cast("string"))
        )
        % F.lit(1_000_003)
        < F.lit(thr)
    )
    want = sorted((r["lid"], r["rid"]) for r in full.filter(gate).collect())
    got = sorted(
        (r["lid"], r["rid"])
        for r in within_distance_join(
            left, right, 300_000.0, res=6, lid="lid", rid="rid", pair_sample_rate=rate
        ).collect()
    )
    assert got == want
    n_full = full.count()
    assert 0.15 * n_full < len(got) < 0.45 * n_full  # rate in the right ballpark


def test_sampled_range_join_expand_right_same_pairs(spark, points):
    """pair_sample_rate must survive expand='right' (it was silently
    dropped — round-3 ADVICE, medium) AND the hash-gate key stays in the
    caller's (lid, rid) order, so BOTH expansion sides return the exact
    same sampled pair set."""
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    left = points.select(F.col("pid").alias("lid"), "lon", "lat").filter(
        F.col("lid") < 150
    )
    right = points.select(F.col("pid").alias("rid"), "lon", "lat").filter(
        (F.col("rid") >= 150) & (F.col("rid") < 1200)
    )
    kw = dict(res=6, lid="lid", rid="rid", pair_sample_rate=0.3)
    a = sorted(
        (r["lid"], r["rid"])
        for r in within_distance_join(left, right, 300_000.0, **kw).collect()
    )
    b = sorted(
        (r["lid"], r["rid"])
        for r in within_distance_join(
            left, right, 300_000.0, expand="right", **kw
        ).collect()
    )
    assert a == b and a
    full = within_distance_join(left, right, 300_000.0, res=6).count()
    assert len(a) < full  # it actually sampled


def test_covering_cells_near_full_band_no_duplicates(spark):
    """A wrapped bbox whose two x ranges meet or overlap (high-latitude,
    large-radius disk — round-3 ADVICE, low) must emit each cell exactly
    once, or a range-join pair could match twice."""
    from osm2geojson_spark.operators import cells

    rows = [
        (170.0, 60.0, -170.0, 70.0),   # classic wrap, disjoint ranges
        (10.0, 60.0, 9.0, 70.0),       # near-full band: ranges overlap
        (1e-9, 60.0, -1e-9, 70.0),     # degenerate full band
    ]
    df = spark.createDataFrame(rows, "x0 double, y0 double, x1 double, y1 double")
    for res in (3, 5):
        out = df.select(
            cells.covering_cells(
                F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1"), res
            ).alias("cov")
        ).collect()
        for r in out:
            cov = r["cov"]
            assert len(cov) == len(set(cov))
        # near-full-band row must still cover a point inside the box
        cov1 = set(out[1]["cov"])
        for lon in (-179.0, 0.0, 5.0, 179.0):
            cid = None
            got = spark.createDataFrame([(lon, 65.0)], "lon double, lat double").select(
                cells.cell_id(F.col("lon"), F.col("lat"), res).alias("c")
            ).collect()[0]["c"]
            assert got in cov1, (res, lon)


def test_pip_scans_points_once(spark):
    """The PIP join reads its point source once: an expensive upstream
    (here a Python pass standing in for an image decode) appears once in
    the executed plan, with no Union and no reused exchange, and the pairs
    equal the brute-force oracle."""
    from osm2geojson_spark.operators.spatial_join import point_in_polygon_bruteforce

    def decode(batches):
        yield from batches

    src = spark.range(0, 2000).select(
        F.col("id").alias("pid"),
        SYN.lon_expr(F.col("id"), (-60.0, -40.0, 70.0, 50.0)).alias("lon"),
        SYN.lat_expr(F.col("id"), (-60.0, -40.0, 70.0, 50.0)).alias("lat"),
    )
    pts = src.mapInPandas(decode, schema=src.schema)
    sq = geom.polygon([[[-50, -30], [60, -30], [60, 45], [-50, 45], [-50, -30]]])
    polys = polygons_to_df(spark, [(1, sq)])
    joined = point_in_polygon_join(pts, polys, res=6)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and plan.count("Range (") == 1, plan
    assert "Union" not in plan and "ReusedExchange" not in plan, plan
    got = sorted(r["pid"] for r in joined.collect())
    want = sorted(r["pid"] for r in point_in_polygon_bruteforce(src, polys).collect())
    assert got == want and got


def test_knn_graph_matches_bruteforce(spark):
    """knn_graph == per-point brute-force top-k over OTHER points,
    including the coincident-duplicate case (self edge dropped, the twin
    at distance 0 becomes the true rank-1 neighbor)."""
    import numpy as np

    from osm2geojson_spark.operators.knn import knn_graph

    rng = np.random.default_rng(13)
    pts = [(i, float(lo), float(la)) for i, (lo, la) in enumerate(
        zip(rng.uniform(-30, 30, 40), rng.uniform(-20, 20, 40))
    )]
    pts.append((40, pts[0][1], pts[0][2]))  # exact duplicate of point 0
    df = spark.createDataFrame(pts, "id long, lon double, lat double")

    R = 6371000.0
    arr = np.array([(p[1], p[2]) for p in pts])
    la = np.radians(arr[:, 1]); lo = np.radians(arr[:, 0])
    h = (np.sin((la[:, None] - la[None, :]) / 2) ** 2
         + np.cos(la[:, None]) * np.cos(la[None, :])
         * np.sin((lo[:, None] - lo[None, :]) / 2) ** 2)
    d = 2 * R * np.arcsin(np.sqrt(np.clip(h, 0, 1)))
    want = set()
    for i in range(len(pts)):
        order = sorted((d[i, j], j) for j in range(len(pts)) if j != i)
        for r, (_, j) in enumerate(order[:3], 1):
            want.add((i, j, r))

    got = {
        (r["id"], r["nbr_id"], r["rank"])
        for r in knn_graph(df, k=3, id_col="id", res=7).collect()
    }
    assert got == want
    assert (0, 40, 1) in got and (40, 0, 1) in got  # duplicate pair mutual rank-1


# ------------------------------------------------- spatio-temporal join


def _hav_py(lon1, lat1, lon2, lat2):
    import math

    R = 6371008.8
    p1, p2 = math.radians(lat1), math.radians(lat2)
    h = (
        math.sin((p2 - p1) / 2) ** 2
        + math.cos(p1) * math.cos(p2) * math.sin(math.radians(lon2 - lon1) / 2) ** 2
    )
    return 2 * R * math.asin(math.sqrt(min(1.0, h)))


def test_spatiotemporal_join_matches_brute(spark):
    from osm2geojson_spark.operators.spatial_join import spatiotemporal_join

    rng = np.random.default_rng(33)
    base = 1_700_000_000
    rows = [
        (
            i,
            float(rng.uniform(-5, 5)),
            float(rng.uniform(40, 50)),
            base + int(rng.integers(0, 100_000)),
        )
        for i in range(250)
    ]
    df = spark.createDataFrame(
        rows, "pid long, lon double, lat double, tsec long"
    ).selectExpr("pid", "lon", "lat", "timestamp_seconds(tsec) AS ts")
    r_m, dt_s = 150_000.0, 3600.0
    a = df.selectExpr("pid AS aid", "lon", "lat", "ts")
    b = df.selectExpr("pid AS bid", "lon", "lat", "ts")
    got = {
        (r["aid"], r["bid"]): (r["dist_m"], r["dt_us"])
        for r in spatiotemporal_join(
            a, b, r_m, dt_s, res=5, lid="aid", rid="bid"
        ).collect()
    }
    want = {}
    for i, loni, lati, ti in rows:
        for j, lonj, latj, tj in rows:
            d = _hav_py(loni, lati, lonj, latj)
            if d <= r_m and abs(tj - ti) <= dt_s:
                want[(i, j)] = (tj - ti) * 1_000_000
    assert set(got) == set(want)
    for k, (d, dt) in got.items():
        assert dt == want[k]
        assert d <= r_m
    assert len(want) > 300  # non-degenerate

    # no-duplicate invariant: every pair exactly once (dict building would
    # hide dups -> recount via collect length)
    n_rows = spatiotemporal_join(
        a, b, r_m, dt_s, res=5, lid="aid", rid="bid"
    ).count()
    assert n_rows == len(want)


def test_spatiotemporal_bucket_boundary(spark):
    from osm2geojson_spark.operators.spatial_join import spatiotemporal_join

    # ts exactly max_dt apart and exactly on bucket boundaries must match;
    # one microsecond beyond must not
    dt_s = 60.0
    rows_a = [(1, 0.0, 0.0, 120_000_000)]  # t = 2*dt exactly
    rows_b = [
        (10, 0.0, 0.0, 60_000_000),   # dt = -60s exactly -> in
        (11, 0.0, 0.0, 180_000_000),  # dt = +60s exactly -> in
        (12, 0.0, 0.0, 180_000_001),  # 60s + 1us -> out
        (13, 0.0, 0.0, 59_999_999),   # -60s - 1us -> out
    ]
    a = spark.createDataFrame(
        rows_a, "aid long, lon double, lat double, tus long"
    ).selectExpr("aid", "lon", "lat", "timestamp_micros(tus) AS ts")
    b = spark.createDataFrame(
        rows_b, "bid long, lon double, lat double, tus long"
    ).selectExpr("bid", "lon", "lat", "timestamp_micros(tus) AS ts")
    got = {
        r["bid"]: r["dt_us"]
        for r in spatiotemporal_join(
            a, b, 1000.0, dt_s, res=6, lid="aid", rid="bid"
        ).collect()
    }
    assert got == {10: -60_000_000, 11: 60_000_000}


# ------------------------------------------------- bbox intersection join


def test_bbox_intersect_join_matches_brute(spark):
    from osm2geojson_spark.operators.spatial_join import bbox_intersect_join

    rng = np.random.default_rng(44)

    def boxes(n, base):
        out = []
        for i in range(n):
            x0 = float(rng.uniform(-60, 55))
            y0 = float(rng.uniform(-40, 35))
            out.append(
                (base + i, x0, y0,
                 x0 + float(rng.uniform(0.5, 12)), y0 + float(rng.uniform(0.5, 12)))
            )
        return out

    A, B = boxes(120, 1000), boxes(90, 5000)
    la = spark.createDataFrame(A, "aid long, x0 double, y0 double, x1 double, y1 double")
    rb = spark.createDataFrame(B, "bid long, x0 double, y0 double, x1 double, y1 double")
    for res in (3, 5, 6):  # dedup must hold across covering granularities
        got = {
            (r["aid"], r["bid"]): (r["ix0"], r["iy0"], r["ix1"], r["iy1"])
            for r in bbox_intersect_join(la, rb, res=res, lid="aid", rid="bid").collect()
        }
        want = {}
        for aid, ax0, ay0, ax1, ay1 in A:
            for bid, bx0, by0, bx1, by1 in B:
                ix0, iy0 = max(ax0, bx0), max(ay0, by0)
                ix1, iy1 = min(ax1, bx1), min(ay1, by1)
                if ix0 <= ix1 and iy0 <= iy1:
                    want[(aid, bid)] = (ix0, iy0, ix1, iy1)
        assert got == want, res
        # exactly-once: a multiset would differ from the dict only on dups
        n = bbox_intersect_join(la, rb, res=res, lid="aid", rid="bid").count()
        assert n == len(want), res
    assert len(want) > 100


def test_bbox_intersect_touching_edges_count(spark):
    from osm2geojson_spark.operators.spatial_join import bbox_intersect_join

    la = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0)],
        "aid long, x0 double, y0 double, x1 double, y1 double",
    )
    rb = spark.createDataFrame(
        [(2, 10.0, 5.0, 20.0, 15.0),   # shares the x=10 edge -> degenerate box
         (3, 10.000001, 5.0, 20.0, 15.0)],  # just apart -> no pair
        "bid long, x0 double, y0 double, x1 double, y1 double",
    )
    rows = bbox_intersect_join(la, rb, res=5, lid="aid", rid="bid").collect()
    assert [(r["bid"], r["ix0"], r["ix1"]) for r in rows] == [(2, 10.0, 10.0)]


# ------------------------------------------------ smallest containing box


def test_smallest_containing_box_matches_brute(spark):
    from osm2geojson_spark.operators.spatial_join import smallest_containing_box

    rng = np.random.default_rng(61)
    pts = [
        (i, float(rng.uniform(-30, 30)), float(rng.uniform(-20, 20)))
        for i in range(300)
    ]
    boxes = []
    for b in range(40):
        x0 = float(rng.uniform(-35, 20))
        y0 = float(rng.uniform(-25, 10))
        boxes.append(
            (b, x0, y0, x0 + float(rng.uniform(1, 25)), y0 + float(rng.uniform(1, 18)))
        )
    pdf = spark.createDataFrame(pts, "pid long, lon double, lat double")
    bdf = spark.createDataFrame(
        boxes, "box_id long, x0 double, y0 double, x1 double, y1 double"
    )
    got = {
        r["pid"]: (r["box_id"], r["area"])
        for r in smallest_containing_box(pdf, bdf, res=4).collect()
    }
    want = {}
    for i, lon, lat in pts:
        cands = [
            ((x1 - x0) * (y1 - y0), b)
            for b, x0, y0, x1, y1 in boxes
            if x0 <= lon <= x1 and y0 <= lat <= y1
        ]
        if cands:
            a, b = min(cands)
            want[i] = (b, a)
    assert got == want
    assert len(want) > 150  # non-degenerate coverage
    # nesting sanity: a point in both a big and a nested small box gets
    # the small one
    nested_b = spark.createDataFrame(
        [(1, 0.0, 0.0, 20.0, 20.0), (2, 5.0, 5.0, 6.0, 6.0)],
        "box_id long, x0 double, y0 double, x1 double, y1 double",
    )
    one = spark.createDataFrame([(9, 5.5, 5.5)], "pid long, lon double, lat double")
    r = smallest_containing_box(one, nested_b, res=4).collect()[0]
    assert r["box_id"] == 2


# ---------------------------------------------------- kNN outlier gate


def test_knn_outliers_matches_brute(spark):
    from osm2geojson_spark.operators.knn import knn_outliers

    rng = np.random.default_rng(71)
    # tight cluster + two isolated points
    pts = [(i, float(rng.uniform(0, 2)), float(rng.uniform(0, 2))) for i in range(60)]
    pts += [(100, 50.0, 40.0), (101, -60.0, -50.0)]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    got = {
        r["id"]: (r["k_dist"], r["is_outlier"])
        for r in knn_outliers(df, k=3, threshold_m=500_000.0, res=5).collect()
    }
    want = {}
    for i, lon, lat in pts:
        ds = sorted(
            (_hav_py(lon, lat, lon2, lat2), j)
            for j, lon2, lat2 in pts
            if j != i
        )
        kd = ds[2][0]
        want[i] = (kd, kd > 500_000.0)
    assert set(got) == set(want)
    for i in want:
        assert abs(got[i][0] - want[i][0]) < 1e-6 and got[i][1] == want[i][1], i
    assert got[100][1] and got[101][1]
    assert sum(1 for v in got.values() if v[1]) == 2


def test_lof_scores_matches_brute(spark):
    from osm2geojson_spark.operators.knn import lof_scores

    rng = np.random.default_rng(83)
    # two clusters of different density + a point hugging the dense one
    pts = [(i, float(rng.uniform(0, 1)), float(rng.uniform(0, 1))) for i in range(40)]
    pts += [(i + 100, float(rng.uniform(10, 18)), float(rng.uniform(10, 18))) for i in range(40)]
    pts += [(999, 2.0, 2.0)]  # near-cluster outlier
    k = 3
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    got = {r["id"]: (r["lrd_q"], r["lof"]) for r in lof_scores(df, k=k, res=5).collect()}

    # brute: identical integer pipeline
    def brute():
        import math

        dists = {}
        for i, lon, lat in pts:
            ds = sorted(
                (_hav_py(lon, lat, lon2, lat2), j)
                for j, lon2, lat2 in pts
                if j != i
            )[:k]
            dists[i] = ds
        kdist = {i: ds[-1][0] for i, ds in dists.items()}
        lrd = {}
        for i, ds in dists.items():
            rs = sum(math.floor(1000 * max(kdist[j], d)) for d, j in ds)
            lrd[i] = (1000 * k * 1_000_000_000) // max(rs, 1)
        out = {}
        for i, ds in dists.items():
            snl = sum(lrd[j] for _, j in ds)
            out[i] = (lrd[i], round(snl / (k * lrd[i]), 6))
        return out

    want = brute()
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - want[i][1]) < 2e-6, i
    # the planted near-cluster point has the highest LOF
    assert max(got, key=lambda i: got[i][1]) == 999 and got[999][1] > 2.0


def _brute_chaikin_open(pts):
    out = [tuple(pts[0])]
    for (ax, ay), (bx, by) in zip(pts[:-1], pts[1:]):
        out.append((0.75 * ax + 0.25 * bx, 0.75 * ay + 0.25 * by))
        out.append((0.25 * ax + 0.75 * bx, 0.25 * ay + 0.75 * by))
    out.append(tuple(pts[-1]))
    return out


def test_chaikin_open_line_matches_brute_two_iterations(spark):
    from osm2geojson_spark.operators.geometry import smooth_geometries

    rng = np.random.default_rng(5)
    pts = [(float(x), float(rng.integers(0, 8))) for x in range(9)]
    df = spark.createDataFrame(
        [(1, bytearray(geom.linestring([list(p) for p in pts])))],
        "fid long, gpb binary",
    )
    out = smooth_geometries(df, iterations=2).collect()[0]["gpb"]
    got = geom.to_geojson_geometry(bytes(out))["coordinates"]
    want = _brute_chaikin_open(_brute_chaikin_open(pts))
    assert len(got) == len(want) == 2 * (2 * 8 + 2 - 1) + 2
    assert [tuple(p) for p in got] == [tuple(w) for w in want]
    # endpoints preserved exactly
    assert tuple(got[0]) == pts[0] and tuple(got[-1]) == pts[-1]


def test_chaikin_ring_stays_closed_and_cuts_corners(spark):
    from osm2geojson_spark.operators.geometry import smooth_geometries

    sq = [[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(1, bytearray(geom.polygon([sq])))], "fid long, gpb binary"
    )
    out = smooth_geometries(df, iterations=1).collect()[0]["gpb"]
    g = geom.to_geojson_geometry(bytes(out))
    ring = g["coordinates"][0]
    assert ring[0] == ring[-1]
    assert len(ring) == 2 * 4 + 1
    # corner (0,0) was cut: no output vertex is an original corner, and
    # the two nearest new vertices are the 1/4 cuts (3,0)..(1,0) etc.
    assert [0.0, 0.0] not in ring
    assert [3.0, 0.0] in ring and [1.0, 0.0] in ring
    # all smoothed vertices stay inside the original square (convex hull
    # property of corner cutting)
    assert all(0.0 <= x <= 4.0 and 0.0 <= y <= 4.0 for x, y in ring)


def test_chaikin_point_and_short_line_passthrough(spark):
    from osm2geojson_spark.operators.geometry import smooth_geometries

    df = spark.createDataFrame(
        [
            (1, bytearray(geom.point(2.0, 3.0))),
            (2, bytearray(geom.linestring([[0.0, 0.0], [1.0, 1.0]]))),
        ],
        "fid long, gpb binary",
    )
    rows = {r["fid"]: bytes(r["gpb"]) for r in smooth_geometries(df, 3).collect()}
    assert geom.to_geojson_geometry(rows[1])["coordinates"] == [2.0, 3.0]
    assert geom.to_geojson_geometry(rows[2])["coordinates"] == [
        [0.0, 0.0],
        [1.0, 1.0],
    ]


def test_geodesic_area_octant_and_small_ring(spark):
    """The (0,0)-(90,0)-(0,90) octant triangle is EXACTLY 1/8 of the
    sphere (excess pi/2); a small ring's geodesic area converges to the
    planar value; winding direction flips sr_q's sign but not area."""
    import duckdb
    import math

    from osm2geojson_spark.operators.geometry import geodesic_area, geodesic_area_sql

    R_KM = 6371.0088
    octant = [(1, 0, 0.0, 0.0), (1, 1, 90.0, 0.0), (1, 2, 0.0, 90.0)]
    octant_cw = [(4, k, lon, lat) for (_, k), (lon, lat) in zip(
        [(4, 0), (4, 1), (4, 2)], [(0.0, 0.0), (0.0, 90.0), (90.0, 0.0)])]
    # small octagon near (10E, 45N), radius 0.1 deg
    ring = []
    oct_xy = [(1.0, 0.0), (0.7071067811865476, 0.7071067811865476),
              (0.0, 1.0), (-0.7071067811865476, 0.7071067811865476),
              (-1.0, 0.0), (-0.7071067811865476, -0.7071067811865476),
              (0.0, -1.0), (0.7071067811865476, -0.7071067811865476)]
    for k, (cx, cy) in enumerate(oct_xy):
        ring.append((2, k, 10.0 + 0.1 * cx, 45.0 + 0.1 * cy))
    rows = octant + ring + octant_cw + [(3, 0, 5.0, 5.0), (3, 1, 6.0, 5.0)]  # degenerate
    df = spark.createDataFrame(rows, "poly_id long, idx long, lon double, lat double")
    got = {r["poly_id"]: r for r in geodesic_area(df).collect()}

    assert set(got) == {1, 2, 4}  # n < 3 emits nothing
    sphere_area = 4 * math.pi * R_KM * R_KM
    assert got[1]["area_km2"] == pytest.approx(sphere_area / 8, rel=1e-9)
    assert got[4]["area_km2"] == pytest.approx(sphere_area / 8, rel=1e-9)
    assert got[4]["sr_q"] == -got[1]["sr_q"]  # winding flips the sign only

    # small ring ~ planar octagon area (2*sqrt(2)*r^2), scaled by cos(lat)
    r_km = 0.1 * math.pi / 180 * R_KM
    planar = 2 * math.sqrt(2) * (r_km * r_km) * math.cos(math.radians(45.0))
    assert got[2]["area_km2"] == pytest.approx(planar, rel=2e-3)
    assert got[2]["n_vertices"] == 8

    # DuckDB twin: identical rows (sr_q int64 equality = term-level parity)
    duck = duckdb.connect()
    duck.execute("CREATE TABLE vv (poly_id BIGINT, idx BIGINT, lon DOUBLE, lat DOUBLE)")
    duck.executemany("INSERT INTO vv VALUES (?, ?, ?, ?)", rows)
    twin = {
        p: (n, s, a)
        for p, n, s, a in duck.sql(
            geodesic_area_sql("SELECT * FROM vv")
        ).fetchall()
    }
    assert twin == {
        p: (r["n_vertices"], r["sr_q"], r["area_km2"]) for p, r in got.items()
    }


def test_ring_centroid_cols_matches_brute_and_closed_forms(spark):
    """Column-algebra shoelace centroid == python replay on random
    integer polygons; unit square -> (0.5, 0.5); orientation (CW vs CCW)
    flips area2's sign but not the centroid; decomposition cross-check
    on an L-shape."""
    import random

    from osm2geojson_spark.operators.geometry import ring_centroid_cols

    sq = [(0, 0), (1, 0), (1, 1), (0, 1)]
    lshape = [(0, 0), (4, 0), (4, 2), (3, 2), (3, 3), (0, 3)]
    rng = random.Random(13)
    # random star-shaped integer polygons (sorted by angle -> simple)
    import math

    def star(n, r):
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        return [
            (round(10 + r * math.cos(a)), round(10 + r * math.sin(a)))
            for a in angs
        ]

    polys = {
        1: sq,
        2: lshape,
        3: list(reversed(lshape)),  # CW orientation
        4: star(7, 6),
        5: star(9, 8),
    }
    rows = [
        (pid, [{"x": float(x), "y": float(y)} for x, y in pts])
        for pid, pts in polys.items()
    ]
    df = spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x double, y double>>"
    )
    got = {
        r["poly_id"]: r
        for r in df.select(
            "poly_id", *ring_centroid_cols(F.col("ring"))
        ).collect()
    }

    def brute(pts):
        n = len(pts)
        a2 = cxn = cyn = 0
        for i in range(n):
            x0, y0 = pts[i]
            x1, y1 = pts[(i + 1) % n]
            c = x0 * y1 - x1 * y0
            a2 += c
            cxn += (x0 + x1) * c
            cyn += (y0 + y1) * c
        return a2, cxn, cyn

    for pid, pts in polys.items():
        a2, cxn, cyn = brute(pts)
        r = got[pid]
        assert (r["area2"], r["cxn"], r["cyn"]) == (a2, cxn, cyn), pid
        assert r["cx"] == round(cxn / (3.0 * a2), 6)
        assert r["cy"] == round(cyn / (3.0 * a2), 6)
    assert (got[1]["cx"], got[1]["cy"]) == (0.5, 0.5)
    # orientation independence of the centroid; sign flip of area2
    assert got[3]["area2"] == -got[2]["area2"]
    assert (got[3]["cx"], got[3]["cy"]) == (got[2]["cx"], got[2]["cy"])
    # L-shape decomposition: 4x2 rect + 3x1 rect on top
    ax, aarea = (2.0, 1.0), 8.0
    bx, barea = (1.5, 2.5), 3.0
    cx = (ax[0] * aarea + bx[0] * barea) / (aarea + barea)
    cy = (ax[1] * aarea + bx[1] * barea) / (aarea + barea)
    assert abs(got[2]["cx"] - cx) < 1e-6 and abs(got[2]["cy"] - cy) < 1e-6


def test_pole_of_inaccessibility_matches_brute(spark):
    """Chamfer pole == brute min-over-complement |dx|+|dy| on the same
    raster, for a square (pole at the center), an L-shape, and an
    irregular star polygon; tie-break pinned (max d, min y, min x)."""
    import math
    import random

    from osm2geojson_spark.operators.geometry import pole_of_inaccessibility

    rng = random.Random(7)

    def star(n, r):
        angs = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
        return [
            (10 + r * math.cos(a), 10 + r * math.sin(a)) for a in angs
        ]

    polys = {
        1: [(0, 0), (7, 0), (7, 7), (0, 7)],
        2: [(0, 0), (4, 0), (4, 2), (3, 2), (3, 3), (0, 3)],
        3: star(8, 6.3),
    }
    rows = [
        (pid, [{"x": float(x), "y": float(y)} for x, y in pts])
        for pid, pts in polys.items()
    ]
    df = spark.createDataFrame(
        rows, "poly_id long, ring array<struct<x double, y double>>"
    )
    got = {r["poly_id"]: r for r in pole_of_inaccessibility(df).collect()}

    def brute(pts):
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        x0, y0 = math.floor(min(xs)), math.floor(min(ys))
        w = int(math.ceil(max(xs) - x0)) + 1
        h = int(math.ceil(max(ys) - y0)) + 1

        def inside(cx, cy):
            inn = False
            n = len(pts)
            for i in range(n):
                x1, y1 = pts[i]
                x2, y2 = pts[(i + 1) % n]
                if y1 == y2:
                    continue
                if min(y1, y2) <= cy < max(y1, y2):
                    xi = x1 + (cy - y1) * (x2 - x1) / (y2 - y1)
                    if cx < xi:
                        inn = not inn
            return inn

        mask = {
            (px, py): inside(x0 + px + 0.5, y0 + py + 0.5)
            for px in range(w)
            for py in range(h)
        }
        bg = [
            (px, py)
            for px in range(-1, w + 1)
            for py in range(-1, h + 1)
            if not mask.get((px, py), False)
        ]
        best = None
        for (px, py), inn in sorted(mask.items(), key=lambda t: (t[0][1], t[0][0])):
            if not inn:
                continue
            d = min(abs(px - qx) + abs(py - qy) for qx, qy in bg)
            if best is None or d > best[2]:
                best = (px, py, d)
        n_in = sum(mask.values())
        return best, n_in

    for pid, pts in polys.items():
        (px, py, d), n_in = brute(pts)
        r = got[pid]
        assert (r["px"], r["py"], r["dist_l1"], r["n_interior"]) == (
            px, py, d, n_in,
        ), pid
    # square 7x7 -> raster grid inner cells, pole in the middle, d = 4
    assert (got[1]["px"], got[1]["py"], got[1]["dist_l1"]) == (3, 3, 4)


def test_segment_intersect_join_matches_rational_brute(spark):
    """segment_intersect_join == an independent exact rational-arithmetic
    intersection solver (parametric solve in Fractions), including
    collinear overlaps and endpoint touches; covering-path pairs arrive
    exactly once even for multi-cell segments."""
    from fractions import Fraction

    import numpy as np

    from osm2geojson_spark.operators.spatial_join import segment_intersect_join

    rng = np.random.default_rng(13)
    def mk(n, seed_off):
        segs = []
        for i in range(n):
            ax = int(rng.integers(-30, 80))
            ay = int(rng.integers(-30, 60))
            bx = ax + int(rng.integers(-40, 41))
            by = ay + int(rng.integers(-40, 41))
            segs.append((i + seed_off, ax, ay, bx, by))
        return segs

    Ls = mk(60, 0)
    Rs = mk(60, 1000)
    # planted exact tangencies: endpoint touch + collinear overlap
    Ls += [(900, 0, 0, 10, 0), (901, 20, 20, 30, 30)]
    Rs += [(1900, 10, 0, 10, 5),   # touches 900's endpoint
           (1901, 25, 25, 40, 40),  # collinear overlap with 901
           (1902, 5, -3, 5, 3)]     # proper crossing of 900

    L = spark.createDataFrame(Ls, "lid long, ax long, ay long, bx long, by long")
    R = spark.createDataFrame(Rs, "rid long, ax long, ay long, bx long, by long")
    rows = segment_intersect_join(L, R, res=6).collect()
    got = {(r["lid"], r["rid"]): r["is_proper"] for r in rows}
    assert len(rows) == len(got)  # exactly-once, no PBSM duplicates

    def exact_intersect(s1, s2):
        (ax, ay, bx, by), (cx, cy, dx, dy) = s1, s2
        r = (bx - ax, by - ay)
        s = (dx - cx, dy - cy)
        denom = r[0] * s[1] - r[1] * s[0]
        qp = (cx - ax, cy - ay)
        if denom != 0:
            t = Fraction(qp[0] * s[1] - qp[1] * s[0], denom)
            u = Fraction(qp[0] * r[1] - qp[1] * r[0], denom)
            return 0 <= t <= 1 and 0 <= u <= 1
        if qp[0] * r[1] - qp[1] * r[0] != 0:
            return False  # parallel, not collinear
        # collinear (possibly degenerate points): 1D overlap on the
        # dominant axis (or both axes when both are points)
        return not (
            max(ax, bx) < min(cx, dx) or max(cx, dx) < min(ax, bx)
            or max(ay, by) < min(cy, dy) or max(cy, dy) < min(ay, by)
        )

    want = set()
    for lidv, lax, lay, lbx, lby in Ls:
        for ridv, rax, ray_, rbx, rby in Rs:
            if exact_intersect((lax, lay, lbx, lby), (rax, ray_, rbx, rby)):
                want.add((lidv, ridv))
    assert set(got) == want
    assert got[(900, 1902)] is True    # proper crossing
    assert got[(900, 1900)] is False   # endpoint touch is not proper
    assert got[(901, 1901)] is False   # collinear overlap is not proper


def _brute_min_rect(pts):
    """O(n^2) oriented-envelope brute: every point pair defines a
    candidate direction; extents over ALL points (hull extents equal
    all-point extents)."""
    import itertools

    hull = K.convex_hull_pts(np.array(pts, dtype=np.float64))
    best = None
    n = len(hull)
    for i in range(n):
        ax, ay = hull[i]
        bx, by = hull[(i + 1) % n]
        ex, ey = bx - ax, by - ay
        e2 = ex * ex + ey * ey
        xs = np.array([p[0] for p in pts], dtype=np.float64)
        ys = np.array([p[1] for p in pts], dtype=np.float64)
        u = (xs - ax) * ex + (ys - ay) * ey
        v = (xs - ax) * (-ey) + (ys - ay) * ex
        area = (u.max() - u.min()) * (v.max() - v.min()) / e2
        if best is None or area < best:
            best = area
    return best


def test_oriented_envelope_matches_brute_and_twin(spark):
    import duckdb

    from osm2geojson_spark.operators.geometry import (
        oriented_envelope,
        oriented_envelope_sql,
    )

    rng = np.random.default_rng(17)
    rows = []
    for g in range(5):
        for _ in range(60):
            rows.append(
                (g, float(rng.integers(0, 500)), float(rng.integers(0, 500)))
            )
    # a planted tilted rectangle group: corners of a 3-4-5 slanted box
    base = [(0, 0), (40, 30), (10, 70), (-30, 40)]
    for px, py in base:
        rows.append((9, float(px + 100), float(py + 100)))
    rows.append((9, 120.0, 140.0))  # interior point, must not matter
    df = spark.createDataFrame(rows, "g long, x double, y double").repartition(4)
    got = {r["g"]: r for r in oriented_envelope(df).collect()}

    for g in range(5):
        pts = [(x, y) for gg, x, y in rows if gg == g]
        assert abs(got[g]["area"] - _brute_min_rect(pts)) < 1e-9, g
    # the tilted square: side 50, area exactly 2500
    assert got[9]["area"] == 2500.0 and got[9]["n_hull"] == 4

    duck = duckdb.connect()
    duck.execute("CREATE TABLE base (g BIGINT, x DOUBLE, y DOUBLE)")
    duck.executemany("INSERT INTO base VALUES (?, ?, ?)", rows)
    twin = {
        r[0]: r[1:]
        for r in duck.sql(
            oriented_envelope_sql("SELECT g, x, y FROM base")
        ).fetchall()
    }
    for g, r in got.items():
        assert twin[g] == tuple(
            r[c] for c in (
                "n_hull", "du", "dv", "e2", "area", "ax", "ay", "bx", "by",
            )
        ), g


def test_oriented_envelope_degenerate_groups_dropped(spark):
    from osm2geojson_spark.operators.geometry import oriented_envelope

    rows = [(1, 0.0, 0.0), (1, 5.0, 5.0),  # 2-point group
            (2, 1.0, 1.0),                  # single point
            (3, 0.0, 0.0), (3, 2.0, 2.0), (3, 4.0, 4.0)]  # collinear
    df = spark.createDataFrame(rows, "g long, x double, y double")
    assert oriented_envelope(df).count() == 0


def test_delaunay_invariants_and_twin(spark):
    """Independent invariants of a correct Delaunay triangulation (no
    cocircular quadruples in this fixture): triangle count = 2n - 2 - h,
    summed doubled areas tile the convex hull exactly, and every
    circumdisk is verified empty with pure-Python Fractions."""
    import random
    from fractions import Fraction

    import duckdb

    from osm2geojson_spark.operators.geometry import (
        delaunay_triangles,
        delaunay_triangles_sql,
    )

    rng = random.Random(41)
    pts = {}
    seen = set()
    pid = 0
    while len(pts) < 28:
        xy = (rng.randrange(0, 997), rng.randrange(0, 991))
        if xy in seen:
            continue
        seen.add(xy)
        pts[pid] = xy
        pid += 1
    rows = [(0, p, x, y) for p, (x, y) in pts.items()]
    df = spark.createDataFrame(rows, "grp long, pid long, x long, y long")
    got = sorted(
        (r["a"], r["b"], r["c"], r["area2"])
        for r in delaunay_triangles(df).collect()
    )

    # invariant 1: every circumdisk is empty (exact rational recheck)
    for a, b, c, s2 in got:
        (ax, ay), (bx, by), (cx, cy) = pts[a], pts[b], pts[c]
        d = 2 * (ax * (by - cy) + bx * (cy - ay) + cx * (ay - by))
        assert d != 0
        ux = Fraction(
            (ax * ax + ay * ay) * (by - cy)
            + (bx * bx + by * by) * (cy - ay)
            + (cx * cx + cy * cy) * (ay - by),
            d,
        )
        uy = Fraction(
            (ax * ax + ay * ay) * (cx - bx)
            + (bx * bx + by * by) * (ax - cx)
            + (cx * cx + cy * cy) * (bx - ax),
            d,
        )
        r2 = (ux - ax) ** 2 + (uy - ay) ** 2
        for p, (px, py) in pts.items():
            if p in (a, b, c):
                continue
            assert (ux - px) ** 2 + (uy - py) ** 2 >= r2, (a, b, c, p)

    # invariant 2 + 3: count and exact area tiling of the convex hull
    def hull(points):
        points = sorted(points)
        def half(ps):
            out = []
            for p in ps:
                while len(out) >= 2 and (
                    (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                    - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
                ) <= 0:
                    out.pop()
                out.append(p)
            return out
        lo, hi = half(points), half(points[::-1])
        return lo[:-1] + hi[:-1]

    h = hull(list(pts.values()))
    assert len(got) == 2 * len(pts) - 2 - len(h)
    hull_area2 = abs(
        sum(
            h[i][0] * h[(i + 1) % len(h)][1]
            - h[(i + 1) % len(h)][0] * h[i][1]
            for i in range(len(h))
        )
    )
    assert sum(s2 for *_xs, s2 in got) == hull_area2

    duck = duckdb.connect()
    duck.execute("CREATE TABLE pts (grp BIGINT, pid BIGINT, x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO pts VALUES (?, ?, ?, ?)", rows)
    twin = sorted(
        (r[1], r[2], r[3], r[4])
        for r in duck.sql(
            delaunay_triangles_sql("SELECT grp, pid, x, y FROM pts")
        ).fetchall()
    )
    assert twin == got


def test_delaunay_cocircular_keeps_both_diagonals(spark):
    """A perfect square is one cocircular quadruple: the complex must
    contain all four non-degenerate triples (both diagonals)."""
    from osm2geojson_spark.operators.geometry import delaunay_triangles

    rows = [(0, 0, 0, 0), (0, 1, 10, 0), (0, 2, 10, 10), (0, 3, 0, 10)]
    df = spark.createDataFrame(rows, "grp long, pid long, x long, y long")
    got = sorted(
        (r["a"], r["b"], r["c"]) for r in delaunay_triangles(df).collect()
    )
    assert got == [(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)]


def test_cell_buffer_dilation_brute_and_twin(spark):
    """Python brute dilation (explicit Chebyshev expansion of the
    covering set) on an interior box, a pole-clamped box, and an
    antimeridian-adjacent box; halo ring is exactly the set difference;
    DuckDB twin (expanded-rectangle formulation) identical."""
    import duckdb

    from osm2geojson_spark.operators.cells import (
        cell_buffer,
        cell_buffer_sql,
        cell_x,
        cell_y,
        pack_cell_py,
    )

    res, k = 5, 2
    n = 1 << res
    boxes = [
        (1, 10.0, 20.0, 40.0, 35.0),     # interior
        (2, -170.0, 75.0, -140.0, 89.0), # clamps at the north pole row
        (3, 150.0, -10.0, 179.0, 5.0),   # dilation wraps past 180
    ]
    df = spark.createDataFrame(
        boxes, "poly_id long, min_lon double, min_lat double,"
        " max_lon double, max_lat double"
    )
    got = {
        (r["poly_id"], r["cell_id"]): r["is_core"]
        for r in cell_buffer(df, res=res, k=k).collect()
    }

    def cx(lon):
        return max(0, min(n - 1, int((lon + 180.0) / 360.0 * n // 1)))

    def cy(lat):
        return max(0, min(n - 1, int((lat + 90.0) / 180.0 * n // 1)))

    want = {}
    for pid, lon0, lat0, lon1, lat1 in boxes:
        x0, x1, y0, y1 = cx(lon0), cx(lon1), cy(lat0), cy(lat1)
        core = {
            (x, y)
            for x in range(x0, x1 + 1)
            for y in range(y0, y1 + 1)
        }
        dil = {
            ((x + dx) % n, y + dy)
            for (x, y) in core
            for dx in range(-k, k + 1)
            for dy in range(-k, k + 1)
            if 0 <= y + dy <= n - 1
        }
        for (x, y) in dil:
            want[(pid, pack_cell_py(res, x, y))] = (x, y) in core
    assert got == want
    # halo is nonempty and disjoint from core for every poly
    for pid in (1, 2, 3):
        cells = [c for (p, c) in got if p == pid]
        assert any(not got[(pid, c)] for c in cells)
        assert any(got[(pid, c)] for c in cells)

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE cbx (poly_id BIGINT, min_lon DOUBLE, min_lat DOUBLE,"
        " max_lon DOUBLE, max_lat DOUBLE)"
    )
    duck.executemany("INSERT INTO cbx VALUES (?, ?, ?, ?, ?)", boxes)
    twin = {
        (r[0], r[1]): r[2]
        for r in duck.sql(
            cell_buffer_sql("SELECT * FROM cbx", res=res, k=k)
        ).fetchall()
    }
    assert twin == got


def test_convex_layers_brute_and_nesting(spark):
    """Onion peeling vs a scalar peel using the same minimal-hull
    rule; layers nest (layer k hull contains layer k+1)."""
    import duckdb

    from osm2geojson_spark.functions import kernels as K
    from osm2geojson_spark.operators.geometry import (
        convex_layers,
        convex_layers_sql,
    )

    # deterministic cloud: 40 points in one group + a tiny 2-point group
    pts = [(0, (i * 37) % 97, (i * 61) % 89) for i in range(40)]
    pts += [(1, 5, 5), (1, 9, 9)]

    def brute(layers=3):
        import numpy as np

        out = {}
        rem = {g: {(x, y) for gg, x, y in pts if gg == g} for g in (0, 1)}
        for layer in range(1, layers + 1):
            for g in rem:
                s = rem[g]
                if not s:
                    continue
                if len(s) <= 2:
                    hull = set(s)
                else:
                    arr = np.array(sorted(s), dtype=np.float64)
                    h = K.convex_hull_pts(arr)
                    hull = {(float(x), float(y)) for x, y in h}
                    hull = {(int(x), int(y)) for x, y in hull}
                for p in hull:
                    out[(g, p[0], p[1])] = layer
                rem[g] = s - hull
        return out

    df = spark.createDataFrame(pts, "g long, x long, y long")
    got = {
        (r["g"], int(r["x"]), int(r["y"])): r["layer"]
        for r in convex_layers(df, layers=3).collect()
    }
    assert got == brute()
    # the 2-point group peels whole in layer 1
    assert got[(1, 5, 5)] == 1 and got[(1, 9, 9)] == 1
    # nesting: every layer-2 point lies inside the layer-1 hull bbox
    l1 = [(x, y) for (g, x, y), l in got.items() if g == 0 and l == 1]
    l2 = [(x, y) for (g, x, y), l in got.items() if g == 0 and l == 2]
    assert l2, "expected a second layer"
    x1 = [p[0] for p in l1]; y1 = [p[1] for p in l1]
    for x, y in l2:
        assert min(x1) <= x <= max(x1) and min(y1) <= y <= max(y1)

    duck = duckdb.connect()
    duck.execute("CREATE TABLE clp (g BIGINT, x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO clp VALUES (?, ?, ?)", pts)
    twin = {
        (r[0], int(r[1]), int(r[2])): r[3]
        for r in duck.sql(
            convex_layers_sql("SELECT * FROM clp", layers=3)
        ).fetchall()
    }
    assert twin == got
