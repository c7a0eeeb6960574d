"""Moran's I — validated against a fresh dense NumPy implementation of the
standard formula (esda-style), plus sign sanity on planted patterns."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators.spatial_stats import morans_i


def _brute_moran(cells_xy: dict[tuple[int, int], int], n_grid: int) -> float:
    """Textbook I = (n/W) * sum w_ij (xi-m)(xj-m) / sum (xi-m)^2 over the
    occupied-cell rook lattice with x wraparound."""
    keys = sorted(cells_xy)
    vals = np.array([cells_xy[k] for k in keys], dtype=float)
    m = vals.mean()
    idx = {k: i for i, k in enumerate(keys)}
    num = 0.0
    W = 0
    for (x, y), i in idx.items():
        for nx, ny in (((x + 1) % n_grid, y), ((x - 1) % n_grid, y), (x, y + 1), (x, y - 1)):
            j = idx.get((nx, ny))
            if j is not None:
                W += 1
                num += (vals[i] - m) * (vals[j] - m)
    den = ((vals - m) ** 2).sum()
    return len(vals) / W * num / den


def _run(spark, cells_xy, res):
    rows = [
        (cells.pack_cell_py(res, x, y), int(v)) for (x, y), v in cells_xy.items()
    ]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    return morans_i(df, res=res).collect()[0]


def test_morans_i_matches_textbook_formula(spark):
    rng = np.random.default_rng(23)
    for trial in range(4):
        cells_xy = {}
        for _ in range(60):
            x, y = int(rng.integers(0, 8)), int(rng.integers(0, 8))
            cells_xy[(x, y)] = int(rng.integers(1, 40))
        got = _run(spark, cells_xy, res=3)
        want = _brute_moran(cells_xy, 8)
        assert abs(got["moran"] - round(want, 6)) < 2e-6, trial
        assert got["n_cells"] == len(cells_xy)


def test_morans_i_sign_on_planted_patterns(spark):
    # checkerboard on a full 8x8 block -> strong NEGATIVE autocorrelation
    checker = {(x, y): 1 + 9 * ((x + y) % 2) for x in range(8) for y in range(8)}
    assert _run(spark, checker, res=3)["moran"] < -0.9
    # smooth gradient -> strong POSITIVE autocorrelation
    grad = {(x, y): 1 + 3 * x + 3 * y for x in range(8) for y in range(8)}
    assert _run(spark, grad, res=3)["moran"] > 0.5


def test_morans_i_antimeridian_wrap(spark):
    # two cells adjacent ONLY through the x wraparound
    res, n = 3, 8
    wrapped = {(0, 4): 10, (n - 1, 4): 30}
    r = _run(spark, wrapped, res=res)
    assert r["w_sum"] == 2  # one undirected wrap edge, counted both ways
    assert r["moran"] == -1.0  # two-site field is perfectly anti-correlated
    # a constant field has undefined I -> NULL, never a divide error
    const = {(0, 4): 10, (n - 1, 4): 10}
    assert _run(spark, const, res=res)["moran"] is None


# ---------------------------------------------------------- areal interpolate


def test_areal_interpolate_mass_conservation(spark):
    """When the destination lattice fully covers every source zone, each
    source's weights sum to 1 and total mass is conserved."""
    from osm2geojson_spark.functions import geom
    from osm2geojson_spark.operators.spatial_join import polygons_to_df
    from osm2geojson_spark.operators.spatial_stats import areal_interpolate

    def box(x0, y0, w, h):
        return geom.polygon(
            [[[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]]
        )

    src = polygons_to_df(
        spark, [(i, box(-40 + i * 13, -20 + (i % 3) * 9, 13, 9)) for i in range(5)]
    )
    dst = polygons_to_df(
        spark,
        [(j, box(-60 + (j % 8) * 20, -40 + (j // 8) * 20, 20, 20)) for j in range(24)],
    )
    values = spark.createDataFrame(
        [(i, float(10 + i)) for i in range(5)], "src_id long, value double"
    )
    rows = areal_interpolate(src, dst, values, res=3).collect()
    per_src = {}
    for r in rows:
        per_src[r["src_id"]] = per_src.get(r["src_id"], 0.0) + r["weight"]
    for i in range(5):
        assert abs(per_src[i] - 1.0) < 1e-9, (i, per_src)
    total = sum(r["contribution"] for r in rows)
    assert abs(total - sum(10 + i for i in range(5))) < 1e-9


def test_areal_interpolate_triangle_source(spark):
    """Non-rectangular source: a right triangle split by a vertical zone
    boundary — intersection areas must match the closed-form split."""
    from osm2geojson_spark.functions import geom
    from osm2geojson_spark.operators.spatial_join import polygons_to_df
    from osm2geojson_spark.operators.spatial_stats import areal_interpolate

    tri = geom.polygon([[[0, 0], [8, 0], [0, 8], [0, 0]]])  # area 32
    src = polygons_to_df(spark, [(1, tri)])
    dst = polygons_to_df(
        spark,
        [
            (0, geom.polygon([[[-10, -10], [4, -10], [4, 20], [-10, 20], [-10, -10]]])),
            (1, geom.polygon([[[4, -10], [30, -10], [30, 20], [4, 20], [4, -10]]])),
        ],
    )
    values = spark.createDataFrame([(1, 64.0)], "src_id long, value double")
    got = {
        r["dst_id"]: r for r in areal_interpolate(src, dst, values, res=3).collect()
    }
    # left piece: trapezoid x in [0,4]: area = 32 - right piece; right: x in
    # [4,8] under y = 8 - x -> triangle with legs 4 -> area 8
    assert abs(got[1]["inter_area"] - 8.0) < 1e-12
    assert abs(got[0]["inter_area"] - 24.0) < 1e-12
    assert abs(got[0]["contribution"] - 64.0 * 24.0 / 32.0) < 1e-9
    assert abs(got[1]["contribution"] - 64.0 * 8.0 / 32.0) < 1e-9


# ------------------------------------------------------------------ Gi* hotspot


def test_gi_star_matches_textbook_formula(spark):
    """Fresh dense implementation of the standard Gi* z-score (queen
    weights incl. self over occupied cells, x wraparound) as the oracle."""
    from osm2geojson_spark.operators.spatial_stats import getis_ord_gi_star

    rng = np.random.default_rng(31)
    cells_xy = {}
    for _ in range(50):
        x, y = int(rng.integers(0, 8)), int(rng.integers(0, 8))
        cells_xy[(x, y)] = int(rng.integers(1, 30))
    n_grid = 8
    keys = sorted(cells_xy)
    vals = np.array([cells_xy[k] for k in keys], dtype=float)
    n = len(vals)
    xbar, s2 = vals.mean(), vals.var(ddof=0)
    s = np.sqrt(s2)
    want = {}
    for (x, y) in keys:
        nb = [
            cells_xy.get((((x + dx) % n_grid), y + dy))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
        nb = [v for v in nb if v is not None]
        W, T = len(nb), sum(nb)
        z = (T - xbar * W) / (s * np.sqrt((n * W - W * W) / (n - 1)))
        want[(x, y)] = round(float(z), 6)

    rows = [(cells.pack_cell_py(3, x, y), v) for (x, y), v in cells_xy.items()]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    got = {r["cell_id"]: r["gi_star"] for r in getis_ord_gi_star(df, res=3).collect()}
    for (x, y), z in want.items():
        cid = cells.pack_cell_py(3, x, y)
        assert abs(got[cid] - z) < 2e-6, (x, y, got[cid], z)


def test_gi_star_flags_planted_hotspot(spark):
    """A single high-value cluster inside a flat field must receive the
    largest positive z-scores at the cluster center."""
    from osm2geojson_spark.operators.spatial_stats import getis_ord_gi_star

    field = {(x, y): 2 for x in range(8) for y in range(8)}
    for x in (3, 4):
        for y in (3, 4):
            field[(x, y)] = 50
    rows = [(cells.pack_cell_py(3, x, y), v) for (x, y), v in field.items()]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    got = {r["cell_id"]: r["gi_star"] for r in getis_ord_gi_star(df, res=3).collect()}
    center = max(got, key=lambda c: got[c])
    cx = (center % (1 << 58)) >> 29
    cy = center % (1 << 29)
    assert (cx, cy) in {(3, 3), (3, 4), (4, 3), (4, 4)}
    assert got[center] > 3.0


# ------------------------------------------------------------------ focal stats


def test_focal_stats_matches_dense_convolution(spark):
    """Sparse lattice focal sum == dense NumPy 3x3 binomial convolution
    restricted to occupied sites (with x wraparound)."""
    from osm2geojson_spark.operators.spatial_stats import focal_stats

    rng = np.random.default_rng(41)
    n_grid = 8
    dense = np.zeros((n_grid, n_grid), dtype=np.int64)  # [x, y]
    occupied = set()
    for _ in range(40):
        x, y = int(rng.integers(0, n_grid)), int(rng.integers(0, n_grid))
        dense[x, y] = int(rng.integers(1, 30))
        occupied.add((x, y))
    kern = np.array([1, 2, 1])
    rows = [(cells.pack_cell_py(3, x, y), int(dense[x, y])) for x, y in occupied]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    got = {r["cell_id"]: r for r in focal_stats(df, res=3).collect()}
    for (x, y) in occupied:
        wsum = wcnt = 0
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nx, ny = (x + dx) % n_grid, y + dy
                if 0 <= ny < n_grid and (nx, ny) in occupied:
                    w = int(kern[dx + 1] * kern[dy + 1])
                    wsum += w * dense[nx, ny]
                    wcnt += w
        r = got[cells.pack_cell_py(3, x, y)]
        assert (r["wsum"], r["wcnt"]) == (wsum, wcnt), (x, y)
        assert r["x"] == dense[x, y]


def test_local_morans_i_matches_dense_esda_formula(spark):
    """Fresh dense LISA (esda convention: m2 = sum(z^2)/n, row-standardized
    rook weights with x wraparound) as the oracle, plus quadrant labels."""
    from osm2geojson_spark.operators.spatial_stats import local_morans_i

    rng = np.random.default_rng(47)
    n_grid = 8
    cells_xy = {}
    for _ in range(55):
        x, y = int(rng.integers(0, n_grid)), int(rng.integers(0, n_grid))
        cells_xy[(x, y)] = int(rng.integers(1, 25))
    keys = sorted(cells_xy)
    vals = np.array([cells_xy[k] for k in keys], dtype=float)
    zbar = vals.mean()
    m2 = ((vals - zbar) ** 2).mean()
    want = {}
    for (x, y) in keys:
        nb = [
            cells_xy.get((((x + 1) % n_grid), y)),
            cells_xy.get((((x - 1) % n_grid), y)),
            cells_xy.get((x, y + 1)),
            cells_xy.get((x, y - 1)),
        ]
        nb = [v for v in nb if v is not None]
        if not nb:
            continue
        z_i = cells_xy[(x, y)] - zbar
        lag = sum(v - zbar for v in nb) / len(nb)  # row-standardized
        want[(x, y)] = (round(float(z_i * lag / m2), 6), z_i, lag)
    rows = [(cells.pack_cell_py(3, x, y), v) for (x, y), v in cells_xy.items()]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    got = {r["cell_id"]: r for r in local_morans_i(df, res=3).collect()}
    for (x, y), (ii, z_i, lag) in want.items():
        r = got[cells.pack_cell_py(3, x, y)]
        assert abs(r["lisa"] - ii) < 2e-6, (x, y, r["lisa"], ii)
        if z_i != 0 and lag != 0:
            expect_quad = ("H" if z_i > 0 else "L") + ("H" if lag > 0 else "L")
            assert r["quad"] == expect_quad, (x, y)


def test_morans_i_edgeless_and_tiny_lattices(spark):
    """Round-3 ADVICE regressions: (a) an edgeless lattice reports
    (n, 0, 0, den, NULL) — n must come from the broadcast totals, not
    F.first over an empty edge relation; (b) at res 1 the x wraparound
    must not double-count the wrap edge (w_sum = 8 on the full 2x2
    lattice, not 16); res 0's self-pairing +x probe is suppressed."""
    # (a) two isolated occupied cells — zero rook edges
    r = _run(spark, {(0, 0): 3, (5, 5): 7}, 4)
    assert (r["n_cells"], r["w_sum"], r["num"]) == (2, 0, 0)
    assert r["den"] == 32 and r["moran"] is None
    # (b) full 2x2 lattice at res 1: 4 undirected edges -> w_sum 8
    vals = {(x, y): x + 3 * y + 1 for x in range(2) for y in range(2)}
    r = _run(spark, vals, 1)
    assert r["w_sum"] == 8
    n, S = 4, sum(vals.values())
    c = {k: n * v - S for k, v in vals.items()}
    edges = [((0, 0), (1, 0)), ((0, 1), (1, 1)), ((0, 0), (0, 1)), ((1, 0), (1, 1))]
    num = 2 * sum(c[a] * c[b] for a, b in edges)
    den = sum(v * v for v in c.values())
    assert r["num"] == num and r["den"] == den
    assert abs(r["moran"] - round(n * num / (8 * den), 6)) < 1e-12
    # (c) res 0: single cell, no self-edge
    r = _run(spark, {(0, 0): 5}, 0)
    assert (r["n_cells"], r["w_sum"], r["moran"]) == (1, 0, None)


def test_dbscan_matches_bruteforce(spark):
    """dbscan_cluster == the textbook rules on planted clusters: two dense
    clumps, a border point hanging off one, and isolated noise; haversine
    eps-graph brute-forced in NumPy, components by flood, min-id labels."""
    import numpy as np

    from osm2geojson_spark.operators.spatial_stats import dbscan_cluster

    # degrees; ~111 km per degree at the equator
    pts = [
        # clump A (5 points inside ~60 km)
        (0, 10.0, 0.0), (1, 10.3, 0.1), (2, 10.1, 0.3), (3, 9.8, 0.2),
        (4, 10.2, -0.2),
        # border point: within eps of clump A's edge, itself sparse
        (5, 11.2, 0.1),
        # clump B (4 points)
        (6, 40.0, 20.0), (7, 40.3, 20.2), (8, 39.8, 20.1), (9, 40.1, 19.8),
        # noise
        (10, -60.0, -30.0), (11, 120.0, 55.0),
    ]
    eps_m, min_pts = 120_000.0, 4
    df = spark.createDataFrame(pts, "id long, lon double, lat double")

    arr = np.array([(p[1], p[2]) for p in pts])
    R = 6371000.0
    la = np.radians(arr[:, 1])
    lo = np.radians(arr[:, 0])
    h = (
        np.sin((la[:, None] - la[None, :]) / 2) ** 2
        + np.cos(la[:, None]) * np.cos(la[None, :])
        * np.sin((lo[:, None] - lo[None, :]) / 2) ** 2
    )
    d = 2 * R * np.arcsin(np.sqrt(np.clip(h, 0, 1)))
    adj = (d <= eps_m) & ~np.eye(len(pts), dtype=bool)
    core = adj.sum(1) + 1 >= min_pts
    lbl = {i: i for i in np.nonzero(core)[0]}
    for _ in range(len(pts)):
        for i in list(lbl):
            for j in np.nonzero(adj[i] & core)[0]:
                lbl[i] = min(lbl[i], lbl[j])
    want = {}
    for i in range(len(pts)):
        if core[i]:
            want[i] = (True, lbl[i])
        else:
            owners = [lbl[j] for j in np.nonzero(adj[i] & core)[0]]
            want[i] = (False, min(owners) if owners else None)

    got = {
        r["id"]: (r["is_core"], r["cluster_id"])
        for r in dbscan_cluster(df, eps_m, min_pts, id_col="id", res=7).collect()
    }
    assert got == want
    # the planted structure really exercised every category
    assert sum(1 for c, _ in want.values() if c) == 9
    assert [c for c, l in want.values() if not c and l is not None] == [False]
    assert sum(1 for c, l in want.values() if not c and l is None) == 2


def test_emerging_hotspots_trends_and_zero_fill(spark):
    from osm2geojson_spark.operators.spatial_stats import emerging_hotspots

    t0 = 1_700_000_000
    bin_s = 3600
    # four res-6 cells (distinct lon centers): counts per bin over 3 bins
    #   A (0.5): 1,2,3  -> S = +3 emerging
    #   B (10.5): 3,2,1 -> S = -3 cooling
    #   C (20.5): 2,2,2 -> S = 0 stable
    #   D (30.5): 0,5,0 -> S = 0 stable (zero-filled bins 0 and 2)
    spec = {0.5: [1, 2, 3], 10.5: [3, 2, 1], 20.5: [2, 2, 2], 30.5: [0, 5, 0]}
    rows = []
    for lon, per_bin in spec.items():
        for b, n in enumerate(per_bin):
            for k in range(n):
                rows.append((lon, 0.5, (t0 + b * bin_s + 7 * k) * 1_000_000))
    # an out-of-cube event (before t0) must be dropped, not mis-binned
    rows.append((0.5, 0.5, (t0 - 10) * 1_000_000))
    df = spark.createDataFrame(
        rows, "lon double, lat double, t_us long"
    ).selectExpr("lon", "lat", "timestamp_micros(t_us) AS ts")

    out = emerging_hotspots(df, res=6, n_bins=3, t0_s=t0, bin_s=bin_s)
    by_cell = {
        r["cell_id"]: (r["total"], r["s_stat"], r["trend"], r["n_bins"])
        for r in out.collect()
    }
    cid = {
        lon: cells_id
        for lon, cells_id in (
            (lon, spark.range(1).select(
                cells.cell_id(F.lit(lon), F.lit(0.5), 6).alias("c")
            ).collect()[0]["c"])
            for lon in spec
        )
    }
    assert by_cell[cid[0.5]] == (6, 3, "emerging", 3)
    assert by_cell[cid[10.5]] == (6, -3, "cooling", 3)
    assert by_cell[cid[20.5]] == (6, 0, "stable", 3)
    assert by_cell[cid[30.5]] == (5, 0, "stable", 3)
    assert len(by_cell) == 4


def test_emerging_hotspots_matches_brute_mk(spark):
    from osm2geojson_spark.operators.spatial_stats import emerging_hotspots

    t0 = 1_700_000_000
    bin_s, n_bins = 600, 5
    rows = []
    for k in range(400):
        lon = ((k * 37) % 8) * 5.0 + 0.5
        b = (k * k * 13 + k) % n_bins
        rows.append((lon, 0.5, (t0 + b * bin_s + (k % 500)) * 1_000_000))
    df = spark.createDataFrame(
        rows, "lon double, lat double, t_us long"
    ).selectExpr("lon", "lat", "timestamp_micros(t_us) AS ts")

    # brute: count per (cell, bin) — distinct lons can share a res-6 cell
    # (5 deg step < the 5.625 deg cell width) — zero-fill, textbook MK
    lons = sorted({r[0] for r in rows})
    cell_of = {
        r["lon"]: r["c"]
        for r in spark.createDataFrame(
            [(lon,) for lon in lons], "lon double"
        ).select("lon", cells.cell_id(F.col("lon"), F.lit(0.5), 6).alias("c"))
        .collect()
    }
    counts: dict[int, list[int]] = {}
    for lon, _lat, t_us in rows:
        b = (t_us // 1_000_000 - t0) // bin_s
        counts.setdefault(cell_of[lon], [0] * n_bins)[b] += 1
    want = {}
    for cell, cs in counts.items():
        s = sum(
            (cs[j] > cs[i]) - (cs[j] < cs[i])
            for i in range(n_bins)
            for j in range(i + 1, n_bins)
        )
        want[cell] = (sum(cs), s)

    got = {
        r["cell_id"]: (r["total"], r["s_stat"])
        for r in emerging_hotspots(
            df, res=6, n_bins=n_bins, t0_s=t0, bin_s=bin_s
        ).collect()
    }
    assert got == want


def test_st_dbscan_splits_time_bursts_and_matches_brute(spark):
    """Same square, two crowds a day apart: plain DBSCAN merges them into
    one cluster, ST-DBSCAN keeps them apart. Full output checked against
    a fresh brute (haversine + |dt| eps-graph, flood components, min-id
    labels, border-to-smallest)."""
    import datetime as dt
    import math

    from osm2geojson_spark.operators.spatial_stats import (
        dbscan_cluster,
        st_dbscan_cluster,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    pts = [
        # burst 1: 4 points within ~40 km, within 1 h
        (0, 10.0, 0.0, at(0.0)), (1, 10.2, 0.1, at(0.3)),
        (2, 10.1, 0.2, at(0.6)), (3, 9.9, 0.1, at(0.9)),
        # burst 2: same square, 24 h later
        (10, 10.05, 0.05, at(24.0)), (11, 10.15, 0.12, at(24.4)),
        (12, 10.02, 0.18, at(24.8)), (13, 9.95, 0.08, at(24.2)),
        # border: near burst 1 in space and time, itself sparse
        (20, 10.85, 0.1, at(0.5)),
        # noise: right place, lonely time
        (30, 10.1, 0.1, at(100.0)),
    ]
    df = spark.createDataFrame(
        pts, "id long, lon double, lat double, ts timestamp"
    )
    eps_m, eps_t, min_pts = 80_000.0, 2 * 3600.0, 3
    got = {
        r["id"]: (r["is_core"], r["cluster_id"])
        for r in st_dbscan_cluster(df, eps_m, eps_t, min_pts).collect()
    }

    R = 6371008.8

    def hav(a, b):
        p1, p2 = math.radians(a[2]), math.radians(b[2])
        h = (
            math.sin((p2 - p1) / 2) ** 2
            + math.cos(p1) * math.cos(p2)
            * math.sin(math.radians(b[1] - a[1]) / 2) ** 2
        )
        return 2 * R * math.asin(math.sqrt(min(1.0, h)))

    nbr = {p[0]: set() for p in pts}
    for a in pts:
        for b in pts:
            if a[0] != b[0] and hav(a, b) <= eps_m and abs(
                (a[3] - b[3]).total_seconds()
            ) <= eps_t:
                nbr[a[0]].add(b[0])
    core = {i for i, ns in nbr.items() if len(ns) + 1 >= min_pts}
    lbl = {i: i for i in core}
    changed = True
    while changed:
        changed = False
        for i in core:
            for j in nbr[i] & core:
                if lbl[j] < lbl[i]:
                    lbl[i] = lbl[j]
                    changed = True
    want = {}
    for i, _, _, _ in pts:
        if i in core:
            want[i] = (True, lbl[i])
        else:
            cands = [lbl[j] for j in nbr[i] if j in core]
            want[i] = (False, min(cands) if cands else None)
    assert got == want
    # the two bursts are distinct clusters; plain DBSCAN merges them
    assert got[0][1] != got[10][1]
    assert got[20] == (False, got[0][1])
    assert got[30] == (False, None)
    plain = {
        r["id"]: r["cluster_id"]
        for r in dbscan_cluster(df, eps_m, min_pts).collect()
    }
    assert plain[0] == plain[10]


# ---------------------------------------------------------------- Geary's C


def _brute_geary(cells_xy: dict[tuple[int, int], int], n_grid: int) -> float:
    from osm2geojson_spark.operators.spatial_stats import gearys_c  # noqa: F401

    keys = sorted(cells_xy)
    vals = np.array([cells_xy[k] for k in keys], dtype=float)
    m = vals.mean()
    idx = {k: i for i, k in enumerate(keys)}
    num = 0.0
    W = 0
    for (x, y), i in idx.items():
        for nx, ny in (
            ((x + 1) % n_grid, y), ((x - 1) % n_grid, y), (x, y + 1), (x, y - 1)
        ):
            j = idx.get((nx, ny))
            if j is not None:
                W += 1
                num += (vals[i] - vals[j]) ** 2
    den = ((vals - m) ** 2).sum()
    return (len(vals) - 1) * num / (2 * W * den)


def _run_geary(spark, cells_xy, res):
    from osm2geojson_spark.operators.spatial_stats import gearys_c

    rows = [
        (cells.pack_cell_py(res, x, y), int(v)) for (x, y), v in cells_xy.items()
    ]
    df = spark.createDataFrame(rows, "cell_id long, cnt long")
    return gearys_c(df, res=res).collect()[0]


def test_gearys_c_matches_textbook_formula(spark):
    rng = np.random.default_rng(41)
    for trial in range(4):
        cells_xy = {}
        for _ in range(60):
            x, y = int(rng.integers(0, 8)), int(rng.integers(0, 8))
            cells_xy[(x, y)] = int(rng.integers(1, 40))
        got = _run_geary(spark, cells_xy, res=3)
        want = _brute_geary(cells_xy, 8)
        assert abs(got["geary"] - round(want, 6)) < 2e-6, trial
        assert got["n_cells"] == len(cells_xy)


def test_gearys_c_sign_on_planted_patterns(spark):
    # checkerboard -> C well above 1 (negative autocorrelation)
    checker = {(x, y): 1 + 9 * ((x + y) % 2) for x in range(8) for y in range(8)}
    assert _run_geary(spark, checker, res=3)["geary"] > 1.5
    # smooth gradient -> C well below 1 (positive autocorrelation)
    grad = {(x, y): 1 + 3 * x + 3 * y for x in range(8) for y in range(8)}
    assert _run_geary(spark, grad, res=3)["geary"] < 0.5
    # constant field -> NULL, never a divide error
    const = {(0, 4): 10, (7, 4): 10}
    assert _run_geary(spark, const, res=3)["geary"] is None


def test_sd_ellipse_matches_numpy_and_twin(spark):
    """sd_ellipse == NumPy population moments on the quantized offsets;
    an elongated NE-SW cluster yields axis_major >> axis_minor with a
    positive orientation numerator; DuckDB twin is bit-identical."""
    import duckdb
    import numpy as np

    from osm2geojson_spark.operators.spatial_stats import (
        sd_ellipse,
        sd_ellipse_sql,
    )

    rng = np.random.default_rng(11)
    # NE-SW elongated cloud inside one res-3 cell (cell x: [0,45), y: [0,22.5))
    t = rng.uniform(0, 1, 400)
    lon = 5.0 + 30.0 * t + rng.normal(0, 0.5, 400)
    lat = 2.0 + 15.0 * t + rng.normal(0, 0.5, 400)
    lon = np.clip(lon, 0.01, 44.99)
    lat = np.clip(lat, 0.01, 22.49)
    rows = [(float(a), float(b)) for a, b in zip(lon, lat)]
    df = spark.createDataFrame(rows, "lon double, lat double")
    got = sd_ellipse(df, res=3).collect()
    assert len(got) == 1
    r = got[0]

    q = 10_000
    # anchor = the cell min corner (lon 0, lat 0 for this cell)
    xq = np.round((lon - 0.0) * q).astype(np.int64)
    yq = np.round((lat - 0.0) * q).astype(np.int64)
    n = len(xq)
    assert (r["n"], r["sx_q"], r["sy_q"]) == (n, xq.sum(), yq.sum())
    assert r["sxx_q"] == (xq * xq).sum()
    assert r["sxy_q"] == (xq * yq).sum()
    var_x = (n * (xq * xq).sum() - xq.sum() ** 2) / (n * n) / q**2
    var_y = (n * (yq * yq).sum() - yq.sum() ** 2) / (n * n) / q**2
    cov = (n * (xq * yq).sum() - xq.sum() * yq.sum()) / (n * n) / q**2
    assert abs(r["var_x"] - var_x) < 1e-9 * max(1, abs(var_x))
    tr, diff = var_x + var_y, var_x - var_y
    disc = (diff * diff + 4 * cov * cov) ** 0.5
    assert abs(r["axis_major"] - ((tr + disc) / 2) ** 0.5) < 1e-9
    assert abs(r["axis_minor"] - ((tr - disc) / 2) ** 0.5) < 1e-9
    assert r["axis_major"] > 3 * r["axis_minor"]  # elongated
    assert r["orient_num"] > 0  # NE-SW trend: positive covariance

    duck = duckdb.connect()
    duck.execute("CREATE TABLE pts (lon DOUBLE, lat DOUBLE)")
    duck.executemany("INSERT INTO pts VALUES (?, ?)", rows)
    twin = duck.sql(
        sd_ellipse_sql("SELECT lon, lat FROM pts", res=3)
    ).fetchall()
    assert len(twin) == 1
    tw = twin[0]
    want = tuple(r[c] for c in (
        "cell_id", "n", "sx_q", "sy_q", "sxx_q", "syy_q", "sxy_q",
        "var_x", "var_y", "cov_xy", "axis_major", "axis_minor",
        "orient_num", "orient_den",
    ))
    assert tw == want  # bit-identical doubles


def test_sd_ellipse_degenerate_single_point_and_line(spark):
    from osm2geojson_spark.operators.spatial_stats import sd_ellipse

    # single point: zero ellipse
    df1 = spark.createDataFrame([(10.0, 10.0)], "lon double, lat double")
    r1 = sd_ellipse(df1, res=3).collect()[0]
    assert r1["axis_major"] == 0.0 and r1["axis_minor"] == 0.0

    # perfect horizontal line: minor axis 0, orientation num 0
    rows = [(float(x), 5.0) for x in range(1, 40)]
    df2 = spark.createDataFrame(rows, "lon double, lat double")
    r2 = sd_ellipse(df2, res=3).collect()[0]
    assert r2["axis_minor"] == 0.0 and r2["orient_num"] == 0.0
    assert r2["axis_major"] > 0 and r2["orient_den"] > 0


def test_scan_stat_brute_and_twin(spark):
    import math

    import duckdb

    from osm2geojson_spark.operators.cells import pack_cell_py
    from osm2geojson_spark.operators.spatial_stats import (
        scan_stat,
        scan_stat_sql,
    )

    res, k_max, top = 3, 2, 5
    n_grid = 1 << res
    rows = []
    for x in range(n_grid):
        for y in range(n_grid):
            pop = 5 + (x * 7 + y * 3) % 11
            cases = (x * 13 + y * 5) % 4
            if 2 <= x <= 4 and 2 <= y <= 4:  # planted hot zone
                cases += 3
            rows.append((pack_cell_py(res, x, y), cases, pop))
    df = spark.createDataFrame(rows, "cell_id long, cases long, pop long")
    got = scan_stat(df, res=res, k_max=k_max, top=top).collect()

    # brute force: every center x every radius
    by_xy = {divmod(c % (1 << 58) , 1 << 29): (ca, po) for c, ca, po in rows}
    C = sum(ca for ca, _ in by_xy.values())
    N = sum(po for _, po in by_xy.values())
    best_per_center = {}
    for zx in range(n_grid):
        for zy in range(n_grid):
            for k in range(k_max + 1):
                c = n = 0
                for dx in range(-k, k + 1):
                    for dy in range(-k, k + 1):
                        # res 3 grid (8 > 2*k_max+1): x wraps, y clamps
                        xx = (zx + dx) % n_grid
                        yy = zy + dy
                        if 0 <= yy < n_grid and (xx, yy) in by_xy:
                            ca, po = by_xy[(xx, yy)]
                            c += ca
                            n += po
                if not (c * N > C * n):
                    continue
                t1 = float(c) * (
                    math.log(c) + math.log(N) - math.log(C) - math.log(n)
                )
                t2 = (
                    0.0
                    if c == C
                    else float(C - c)
                    * (
                        math.log(C - c)
                        + math.log(N)
                        - math.log(C)
                        - math.log(N - n)
                    )
                )
                llr = int(round((t1 + t2) * 1e6))
                cell = pack_cell_py(res, zx, zy)
                cur = best_per_center.get(cell)
                if cur is None or (-llr, k) < (-cur[0], cur[1]):
                    best_per_center[cell] = (llr, k, c, n)
    want = sorted(
        (
            (-llr, cell, k, c, n)
            for cell, (llr, k, c, n) in best_per_center.items()
        )
    )[:top]
    want = [(cell, k, c, n, -nllr) for nllr, cell, k, c, n in want]
    assert [
        (r["cell_id"], r["k"], r["cases"], r["pop"], r["llr_micro"])
        for r in got
    ] == want
    # the planted hot zone wins: best center inside it, radius covers it
    bx = (got[0]["cell_id"] % (1 << 58)) >> 29
    by = got[0]["cell_id"] % (1 << 29)
    assert 2 <= bx <= 4 and 2 <= by <= 4 and got[0]["k"] >= 1

    duck = duckdb.connect()
    duck.execute("CREATE TABLE h (cell_id BIGINT, cases BIGINT, pop BIGINT)")
    duck.executemany("INSERT INTO h VALUES (?, ?, ?)", rows)
    twin = duck.sql(
        scan_stat_sql("SELECT cell_id, cases, pop FROM h", res, k_max, top)
    ).fetchall()
    assert twin == [
        (r["cell_id"], r["k"], r["cases"], r["pop"], r["llr_micro"])
        for r in got
    ]


def test_scan_stat_degenerate_uniform_and_empty_gate(spark):
    from osm2geojson_spark.operators.cells import pack_cell_py
    from osm2geojson_spark.operators.spatial_stats import scan_stat

    # perfectly uniform rate: no zone passes the strict elevated-rate
    # gate on any proper subset... except none, so the result is empty
    res = 3
    rows = [
        (pack_cell_py(res, x, y), 2, 10)
        for x in range(8)
        for y in range(8)
    ]
    df = spark.createDataFrame(rows, "cell_id long, cases long, pop long")
    assert scan_stat(df, res=res, k_max=1, top=5).count() == 0


def test_join_counts_brute_and_twin(spark):
    import random

    import duckdb

    from osm2geojson_spark.operators.cells import pack_cell_py
    from osm2geojson_spark.operators.spatial_stats import (
        join_counts,
        join_counts_sql,
    )

    rng = random.Random(9)
    res = 3
    n_grid = 1 << res
    # sparse occupancy (not every cell present) + a planted black block
    marks = {}
    for x in range(n_grid):
        for y in range(n_grid):
            if rng.random() < 0.25:
                continue  # hole: lattice is OCCUPIED cells only
            black = 1 if (2 <= x <= 5 and 2 <= y <= 4) else (
                1 if rng.random() < 0.15 else 0
            )
            marks[(x, y)] = black
    rows = [(pack_cell_py(res, x, y), b) for (x, y), b in marks.items()]
    df = spark.createDataFrame(rows, "cell_id long, black long")
    r = join_counts(df, res=res).collect()[0]

    n = len(marks)
    nbk = sum(marks.values())
    joins = bb = ww = 0
    for (x, y), b in marks.items():
        for (tx, ty) in (((x + 1) % n_grid, y), (x, y + 1)):
            if (tx, ty) in marks:
                tb = marks[(tx, ty)]
                joins += 1
                bb += b * tb
                ww += (1 - b) * (1 - tb)
    assert (
        r["n_cells"], r["n_black"], r["joins"], r["bb"], r["ww"], r["bw"]
    ) == (n, nbk, joins, bb, ww, joins - bb - ww)
    assert r["e_bb_num"] == joins * nbk * (nbk - 1)
    assert r["e_ww_num"] == joins * (n - nbk) * (n - nbk - 1)
    assert r["e_bw_num"] == 2 * joins * nbk * (n - nbk)
    assert r["e_den"] == n * (n - 1)
    # the planted block makes BB exceed its expectation
    assert r["bb"] * r["e_den"] > r["e_bb_num"]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE m (cell_id BIGINT, black BIGINT)")
    duck.executemany("INSERT INTO m VALUES (?, ?)", rows)
    twin = duck.sql(
        join_counts_sql("SELECT * FROM m", res=res)
    ).fetchall()[0]
    assert twin == tuple(
        r[c]
        for c in (
            "n_cells", "n_black", "joins", "bb", "ww", "bw",
            "e_bb_num", "e_ww_num", "e_bw_num", "e_den",
        )
    )


def test_join_counts_degenerate_single_cell(spark):
    from osm2geojson_spark.operators.cells import pack_cell_py
    from osm2geojson_spark.operators.spatial_stats import join_counts

    df = spark.createDataFrame(
        [(pack_cell_py(3, 4, 4), 1)], "cell_id long, black long"
    )
    r = join_counts(df, res=3).collect()[0]
    assert (r["joins"], r["bb"], r["ww"], r["bw"], r["e_den"]) == (
        0, 0, 0, 0, 0
    )


def test_flow_accumulation_matches_serial_walk(spark):
    """The composed D8 accumulation (flow_direction -> tree_rollup)
    must equal a serial downstream walk on a small designed DEM: a
    tilted plane drains everything to one corner sink; accumulation at
    the sink equals the cell count; conservation: sum of accumulation
    equals sum of (path length + 1) over cells."""
    from osm2geojson_spark.operators.geostat import flow_direction, tree_rollup
    from pyspark.sql import functions as F

    n = 6
    rows = [(x, y, 5 * (x + y)) for x in range(n) for y in range(n)]
    dem = spark.createDataFrame(rows, "x long, y long, z long")
    flow = flow_direction(dem)
    nodes = flow.select(
        (F.col("y") * n + F.col("x")).cast("long").alias("node_id"),
        F.when(
            F.col("down_x").isNotNull(),
            (F.col("down_y") * n + F.col("down_x")).cast("long"),
        ).alias("parent_id"),
        F.col("z").cast("long").alias("w"),
    )
    got = {r["node_id"]: r.asDict() for r in tree_rollup(nodes, max_rounds=8).collect()}

    # serial walk replay
    z = {(x, y): zz for x, y, zz in rows}
    dirs = [(-1, -1, 1), (-1, 0, 2), (-1, 1, 1), (0, -1, 2),
            (0, 1, 2), (1, -1, 1), (1, 0, 2), (1, 1, 1)]
    down = {}
    for (x, y), zz in z.items():
        best = None
        for i, (dx, dy, wt) in enumerate(dirs):
            nb = (x + dx, y + dy)
            if nb in z and z[nb] < zz:
                key = (wt * (z[nb] - zz) ** 2, -i)
                if best is None or key > best[0]:
                    best = (key, nb)
        down[(x, y)] = best[1] if best else None
    acc = {c: 1 for c in z}
    wsum = {c: z[c] for c in z}
    # accumulate along paths serially
    for c in z:
        cur = down[c]
        while cur is not None:
            acc[cur] += 1
            wsum[cur] += z[c]
            cur = down[cur]
    for (x, y), a in acc.items():
        nid = y * n + x
        assert got[nid]["subtree_n"] == a, (x, y)
        assert got[nid]["subtree_w"] == wsum[(x, y)], (x, y)
    # the (0,0) sink of the tilted plane drains every cell
    assert got[0]["subtree_n"] == n * n
    assert all(g["root_id"] == 0 for g in got.values())


def test_focal_majority_replay_and_denoise(spark):
    """Dict replay on a designed label grid: salt noise inside a
    uniform field gets smoothed away; corner cells count only existing
    neighbors; ties break to the smallest label; twin parity."""
    import duckdb

    from osm2geojson_spark.operators.spatial_stats import (
        focal_majority,
        focal_majority_sql,
    )

    n = 5
    rows = []
    for x in range(n):
        for y in range(n):
            v = 1
            if (x, y) == (2, 2):
                v = 7  # salt noise
            if (x, y) in ((0, 4), (1, 4)):
                v = 0  # a small class-0 patch for tie exercise
            rows.append((x, y, v))
    df = spark.createDataFrame(rows, "x long, y long, v long")
    got = {(r["x"], r["y"]): r.asDict() for r in focal_majority(df).collect()}

    z = {(x, y): v for x, y, v in rows}
    for (x, y), v in z.items():
        cnt = {}
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (x + dx, y + dy)
                if nb in z:
                    cnt[z[nb]] = cnt.get(z[nb], 0) + 1
        maj = max(cnt, key=lambda k: (cnt[k], -k))
        g = got[(x, y)]
        assert (g["v"], g["maj"], g["maj_n"], g["n_nb"]) == (
            v, maj, cnt[maj], sum(cnt.values())
        ), (x, y)
    assert got[(2, 2)]["maj"] == 1  # noise removed
    assert got[(0, 0)]["n_nb"] == 4  # corner

    duck = duckdb.connect()
    duck.execute("CREATE TABLE fmg (x BIGINT, y BIGINT, v BIGINT)")
    duck.executemany("INSERT INTO fmg VALUES (?,?,?)", rows)
    twin = {
        (r[0], r[1]): tuple(r)
        for r in duck.sql(focal_majority_sql("SELECT * FROM fmg")).fetchall()
    }
    for k, g in got.items():
        assert twin[k] == (g["x"], g["y"], g["v"], g["maj"], g["maj_n"], g["n_nb"])


def test_knox_brute_and_twin(spark):
    """Knox census vs an all-pairs brute force on a clustered fixture."""
    import duckdb

    from osm2geojson_spark.operators.spatial_stats import knox_test, knox_test_sql

    # two space-time clusters + scattered noise (coords/t integers)
    rows = []
    for i in range(6):  # cluster A: tight in space AND time
        rows.append((i, 10 + i, 12 + (i % 3), 100 + i * 5))
    for i in range(5):  # cluster B: tight in space, spread in time
        rows.append((10 + i, 200 + i * 2, 200, 10_000 * i))
    for i in range(8):  # noise
        rows.append((20 + i, 37 * i * i % 400, 53 * i * i % 400, 777 * i * i))
    ds, dt = 15, 50

    def brute():
        n = len(rows)
        sp = tp = st = 0
        for a in range(n):
            for b in range(a + 1, n):
                _, xa, ya, ta = rows[a]
                _, xb, yb, tb = rows[b]
                s = (xa - xb) ** 2 + (ya - yb) ** 2 <= ds * ds
                t = abs(ta - tb) <= dt
                sp += s
                tp += t
                st += s and t
        return n, n * (n - 1) // 2, sp, tp, st

    df = spark.createDataFrame(rows, "i long, x long, y long, t long")
    r = knox_test(df, ds=ds, dt=dt, id_col="i").collect()[0]
    n, pairs, sp, tp, st = brute()
    assert (r["n"], r["pairs"], r["space_pairs"], r["time_pairs"], r["st_pairs"]) == (
        n, pairs, sp, tp, st,
    )
    assert (r["expect_num"], r["expect_den"]) == (sp * tp, pairs)
    # the planted interaction: X exceeds its null expectation
    assert r["st_pairs"] * r["expect_den"] > r["expect_num"]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE kxe (i BIGINT, x BIGINT, y BIGINT, t BIGINT)")
    duck.executemany("INSERT INTO kxe VALUES (?, ?, ?, ?)", rows)
    t = duck.sql(knox_test_sql("SELECT * FROM kxe", ds=ds, dt=dt)).fetchall()[0]
    assert tuple(t) == tuple(r)


def test_huff_shares_brute_and_conservation(spark):
    """Huff capture vs scalar replay; near-monopoly store takes ~all of
    an adjacent point's demand; per-point micro-credits never exceed
    demand * MICRO (floor conservation)."""
    import duckdb

    from osm2geojson_spark.operators.spatial_stats import (
        HUFF_MICRO,
        HUFF_W_SCALE,
        huff_shares,
        huff_shares_sql,
    )

    stores = [(1, 0, 0, 5), (2, 100, 0, 5), (3, 50, 80, 1)]
    demand = [(10, 1, 0, 7), (11, 99, 1, 3), (12, 50, 40, 2), (13, 900, 900, 4)]
    R = 120

    def brute():
        caps = {}
        for pid, x, y, dem in demand:
            ws = []
            for sid, sx, sy, a in stores:
                d2 = (x - sx) ** 2 + (y - sy) ** 2
                if d2 <= R * R:
                    ws.append((sid, a * HUFF_W_SCALE // max(d2, 1)))
            tot = sum(w for _, w in ws)
            for sid, w in ws:
                n, c = caps.get(sid, (0, 0))
                caps[sid] = (n + 1, c + dem * w * HUFF_MICRO // tot)
        return caps

    sd = spark.createDataFrame(stores, "store_id long, sx long, sy long, attr long")
    dd = spark.createDataFrame(demand, "pid long, x long, y long, d long")
    got = {
        r["store_id"]: (r["n_points"], r["captured_micro"])
        for r in huff_shares(dd, sd, radius=R).collect()
    }
    want = brute()
    assert got == want
    # point 13 is out of every store's radius -> contributes nowhere
    assert sum(n for n, _ in got.values()) == 9 - 0 - 3 + 3  # 3 in-range points x 3 stores
    # store 1 nearly monopolizes point 10 (d²=1 vs 9802/…): its capture
    # is almost 7 * MICRO of that point's demand
    assert got[1][1] > 6_900_000
    # conservation: total captured <= total in-range demand * MICRO
    assert sum(c for _, c in got.values()) <= (7 + 3 + 2) * HUFF_MICRO

    duck = duckdb.connect()
    duck.execute("CREATE TABLE hfs (store_id BIGINT, sx BIGINT, sy BIGINT, attr BIGINT)")
    duck.executemany("INSERT INTO hfs VALUES (?, ?, ?, ?)", stores)
    duck.execute("CREATE TABLE hfd (pid BIGINT, x BIGINT, y BIGINT, d BIGINT)")
    duck.executemany("INSERT INTO hfd VALUES (?, ?, ?, ?)", demand)
    twin = {
        r[0]: (r[1], r[2])
        for r in duck.sql(
            huff_shares_sql(
                "SELECT pid, x, y, d FROM hfd",
                "SELECT store_id, sx, sy, attr FROM hfs",
                R,
            )
        ).fetchall()
    }
    assert twin == got


def test_quadrat_test_brute_and_regimes(spark):
    """Quadrat chi2/VMR vs scalar replay; clustered > 1 > regular."""
    import duckdb

    from osm2geojson_spark.operators.spatial_stats import (
        quadrat_test,
        quadrat_test_sql,
    )

    # regular: one point per cell of a 4x4 grid (VMR = 0)
    regular = [(i % 4 * 25 + 10, i // 4 * 25 + 10) for i in range(16)]
    # clustered: all 16 points in one cell
    clustered = [(3 + i % 4, 3 + i // 4) for i in range(16)]

    def brute(pts, g, extent):
        import collections

        q = g * g
        cnt = collections.Counter(
            (x * g // extent) * g + (y * g // extent) for x, y in pts
        )
        n = len(pts)
        ss = sum(c * c for c in cnt.values())
        return (n, q, len(cnt), ss, q * ss - n * n, n, q * ss - n * n, n * (q - 1))

    for pts in (regular, clustered):
        df = spark.createDataFrame(pts, "x long, y long")
        r = quadrat_test(df, g=4, extent=100).collect()[0]
        assert tuple(r) == brute(pts, 4, 100)

    r_reg = quadrat_test(
        spark.createDataFrame(regular, "x long, y long"), g=4, extent=100
    ).collect()[0]
    r_clu = quadrat_test(
        spark.createDataFrame(clustered, "x long, y long"), g=4, extent=100
    ).collect()[0]
    # VMR: regular < 1 (here 0), clustered >> 1
    assert r_reg["vmr_num"] == 0
    assert r_clu["vmr_num"] > r_clu["vmr_den"]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE qdp (x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO qdp VALUES (?, ?)", clustered)
    t = duck.sql(quadrat_test_sql("SELECT * FROM qdp", 4, 100)).fetchall()[0]
    assert tuple(t) == tuple(r_clu)
