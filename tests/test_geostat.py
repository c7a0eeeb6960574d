"""IDW interpolation + semivariogram — validated against fresh brute-force
NumPy implementations of the textbook formulas (haversine all-pairs, no
cell index), plus structural properties (weight monotonicity, exact-pair
accounting, no-extrapolation semantics)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.operators.geostat import (
    IDW_MIN_DIST_M,
    IDW_SCALE,
    idw_interpolate,
    semivariogram,
)

R = 6371008.8


def _hav(lon1, lat1, lon2, lat2):
    p1, p2 = math.radians(lat1), math.radians(lat2)
    dphi = p2 - p1
    dlmb = math.radians(lon2 - lon1)
    h = math.sin(dphi / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dlmb / 2) ** 2
    return 2 * R * math.asin(math.sqrt(min(1.0, h)))


def _pts(seed, n, lon0=10.0, lat0=45.0, spread=3.0):
    rng = np.random.default_rng(seed)
    return [
        (
            i,
            float(lon0 + spread * rng.uniform(-1, 1)),
            float(lat0 + spread * rng.uniform(-1, 1)),
            int(rng.integers(0, 1000)),
        )
        for i in range(n)
    ]


def _brute_idw(targets, samples, radius_m, power=2):
    out = {}
    for tid, tlon, tlat, _ in targets:
        wsum = wvsum = n = 0
        for sid, slon, slat, v in samples:
            d = _hav(tlon, tlat, slon, slat)
            if d <= radius_m:
                dk = max(d, IDW_MIN_DIST_M) / 1000.0
                w = int(IDW_SCALE / (dk**power))
                n += 1
                wsum += w
                wvsum += w * v
        if n:
            out[tid] = (n, wsum, wvsum, round(wvsum / wsum, 6))
    return out


def test_idw_matches_brute(spark):
    targets = _pts(1, 40)
    samples = _pts(2, 60)
    t = spark.createDataFrame(
        [(i, lon, lat) for i, lon, lat, _ in targets],
        "target_id long, lon double, lat double",
    )
    s = spark.createDataFrame(
        samples, "sample_id long, lon double, lat double, value long"
    )
    got = {
        r["target_id"]: (r["n_samples"], r["w_sum"], r["wv_sum"], r["pred"])
        for r in idw_interpolate(t, s, 150_000.0, res=7).collect()
    }
    want = _brute_idw(targets, samples, 150_000.0)
    assert got == want
    assert want  # non-degenerate fixture


def test_idw_no_extrapolation(spark):
    # a target with no sample in range is ABSENT, not NULL/zero
    t = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 100.0, 40.0)], "target_id long, lon double, lat double"
    )
    s = spark.createDataFrame(
        [(0, 0.1, 0.1, 7)], "sample_id long, lon double, lat double, value long"
    )
    rows = idw_interpolate(t, s, 50_000.0, res=7).collect()
    assert [r["target_id"] for r in rows] == [0]
    # one sample -> prediction is exactly its value
    assert rows[0]["pred"] == pytest.approx(7.0)


def test_idw_weight_monotone_and_clamped(spark):
    # closer sample dominates; inside the 1 km clamp all weights equal
    t = spark.createDataFrame([(0, 0.0, 0.0)], "target_id long, lon double, lat double")
    s = spark.createDataFrame(
        [(0, 0.01, 0.0, 0), (1, 0.5, 0.0, 1000)],
        "sample_id long, lon double, lat double, value long",
    )
    r = idw_interpolate(t, s, 100_000.0, res=7).collect()[0]
    assert r["pred"] < 500.0  # near-zero-valued sample is much closer


def _brute_vario(points, max_d, bw):
    bins = {}
    for i, (ia, lon1, lat1, va) in enumerate(points):
        for ib, lon2, lat2, vb in points[i + 1 :]:
            d = _hav(lon1, lat1, lon2, lat2)
            if d <= max_d:
                b = int(d // bw)
                n, s = bins.get(b, (0, 0))
                bins[b] = (n + 1, s + (va - vb) ** 2)
    return {
        b: (n, s, round(s / (2 * n), 6)) for b, (n, s) in bins.items()
    }


def test_semivariogram_matches_brute(spark):
    pts = _pts(3, 80)
    df = spark.createDataFrame(pts, "pid long, lon double, lat double, value long")
    got = {
        r["bin"]: (r["n_pairs"], r["ssd"], r["gamma"])
        for r in semivariogram(df, 300_000.0, 50_000.0, res=7).collect()
    }
    want = _brute_vario(pts, 300_000.0, 50_000.0)
    assert got == want
    # total pair accounting: every in-range unordered pair lands in exactly
    # one bin
    assert sum(n for n, _, _ in want.values()) == sum(
        1
        for i, a in enumerate(pts)
        for b in pts[i + 1 :]
        if _hav(a[1], a[2], b[1], b[2]) <= 300_000.0
    )


def test_semivariogram_constant_field_zero(spark):
    pts = [(i, lon, lat, 5) for i, lon, lat, _ in _pts(4, 30)]
    df = spark.createDataFrame(pts, "pid long, lon double, lat double, value long")
    rows = semivariogram(df, 200_000.0, 50_000.0, res=7).collect()
    assert rows and all(r["ssd"] == 0 and r["gamma"] == 0.0 for r in rows)


# ------------------------------------------------------------ KDE surface


def _brute_kde(points, h, res):
    from osm2geojson_spark.operators import cells as C

    n = 1 << res
    scale = 1_000_000_000.0
    out = {}
    for gx in range(n):
        for gy in range(n):
            clon = ((gx + 0.5) / n) * 360.0 - 180.0
            clat = ((gy + 0.5) / n) * 180.0 - 90.0
            ws = [
                math.floor(scale * (1.0 - (d / h) * (d / h)))
                for lon, lat in points
                for d in [_hav(lon, lat, clon, clat)]
                if d <= h
            ]
            if ws:
                cid = C.pack_cell_py(res, gx, gy)
                out[cid] = (len(ws), int(sum(ws)))
    return out


def test_kde_surface_matches_brute(spark):
    from osm2geojson_spark.operators.geostat import kde_surface

    pts = [(lon, lat) for _, lon, lat, _ in _pts(11, 120, spread=8.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    h, res = 600_000.0, 5
    got = {
        r["cell_id"]: (r["n_points"], r["k_sum"])
        for r in kde_surface(df, h, res=res).collect()
    }
    want = _brute_kde(pts, h, res)
    assert got == want
    assert len(want) > 3  # non-degenerate: several hot cells


def test_kde_point_on_center_and_empty(spark):
    from osm2geojson_spark.operators import cells as C
    from osm2geojson_spark.operators.geostat import kde_surface

    res = 5
    n = 1 << res
    # exact center of cell (gx, gy) = (17, 20)
    clon = ((17 + 0.5) / n) * 360.0 - 180.0
    clat = ((20 + 0.5) / n) * 180.0 - 90.0
    df = spark.createDataFrame([(clon, clat)], "lon double, lat double")
    rows = {r["cell_id"]: r for r in kde_surface(df, 100_000.0, res=res).collect()}
    cid = C.pack_cell_py(res, 17, 20)
    assert rows[cid]["k_sum"] == 1_000_000_000  # d=0 -> full kernel weight
    # bandwidth smaller than the distance to ANY cell center -> empty
    off = spark.createDataFrame([(clon + 2.0, clat)], "lon double, lat double")
    assert kde_surface(off, 1000.0, res=res).count() == 0


def test_voronoi_assign_matches_brute_with_wrap_and_ties(spark):
    from osm2geojson_spark.operators.cells import pack_cell
    from osm2geojson_spark.operators.geostat import voronoi_assign

    res = 4  # 16 x 16 grid
    n = 1 << res
    seeds_xy = {1: (2, 8), 2: (14, 15), 3: (8, 2)}
    cells_xy = [(x, y) for x in range(n) for y in range(n)]

    cells_df = spark.createDataFrame(cells_xy, "x long, y long").select(
        pack_cell(res, F.col("x"), F.col("y")).alias("cell_id"), "x", "y"
    )
    seeds_df = spark.createDataFrame(
        [(sid, x, y) for sid, (x, y) in seeds_xy.items()], "sid long, x long, y long"
    ).select(
        F.col("sid").alias("seed_id"),
        pack_cell(res, F.col("x"), F.col("y")).alias("seed_cell"),
    )

    def d2(cxy, sxy):
        dx0 = abs(cxy[0] - sxy[0])
        dxw = min(dx0, n - dx0)
        return 4 * dxw * dxw + (cxy[1] - sxy[1]) ** 2

    want = {}
    for cxy in cells_xy:
        best = min((d2(cxy, sxy), sid) for sid, sxy in seeds_xy.items())
        want[cxy] = best
    got = {
        (r["x"], r["y"]): (r["d2"], r["seed_id"])
        for r in voronoi_assign(cells_df, seeds_df, res)
        .join(cells_df, "cell_id")
        .collect()
    }
    assert got == want
    # wrap actually matters: (15,8) reaches seed 1 (x=2) across the seam
    # (wrapped d2 = 36 beats seed 2's 53; unwrapped it would be 676)
    assert want[(15, 8)] == (36, 1)
    # ties break to the smaller seed id: (5,5) is equidistant from 1 and 3
    assert d2((5, 5), seeds_xy[1]) == d2((5, 5), seeds_xy[3])
    assert want[(5, 5)][1] == 1


def _brute_ripley(points, radii, area_m2):
    n = len(points)
    dists = [
        _hav(a[1], a[2], b[1], b[2])
        for i, a in enumerate(points)
        for b in points[i + 1 :]
    ]
    out = []
    for r in sorted(radii):
        n_le = 2 * sum(1 for d in dists if d <= r)
        k = area_m2 * float(n_le) / float(n * n)
        out.append((r, n_le, round(k, 6), round(math.sqrt(k / math.pi), 6)))
    return out


def test_ripleys_k_matches_brute_and_csr_shape(spark):
    from osm2geojson_spark.operators.geostat import ripleys_k

    pts = _pts(3, 120)
    # plant a tight cluster: 15 points within ~2 km of one another
    pts += [
        (1000 + i, 10.0 + i * 1e-4, 45.0 + i * 7e-5, 0) for i in range(15)
    ]
    area = 600_000.0 * 600_000.0
    radii = [5_000.0, 25_000.0, 80_000.0, 200_000.0]
    df = spark.createDataFrame(
        [(p[0], p[1], p[2]) for p in pts], "pid long, lon double, lat double"
    )
    got = [
        (r["r_m"], r["n_pairs_le"], r["k_hat"], r["l_hat"])
        for r in ripleys_k(df, radii, area, res=6).collect()
    ]
    assert got == _brute_ripley(pts, radii, area)
    # K must be nondecreasing in r, and the planted cluster forces
    # L(5km) > 5km (clustering above CSR at the short range)
    ks = [g[2] for g in got]
    assert ks == sorted(ks)
    assert got[0][3] > got[0][0]


def test_ripleys_k_zero_pair_radius_emits_row(spark):
    from osm2geojson_spark.operators.geostat import ripleys_k

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 0.0)], "pid long, lon double, lat double"
    )
    rows = ripleys_k(df, [1000.0], 1e12, res=4).collect()
    assert [(r["r_m"], r["n_pairs_le"], r["k_hat"]) for r in rows] == [
        (1000.0, 0, 0.0)
    ]


def test_clark_evans_matches_brute_and_regimes(spark):
    from osm2geojson_spark.operators.geostat import clark_evans

    for seed, lattice in ((7, False), (11, True)):
        if not lattice:
            pts = _pts(seed, 90)
            area = 600_000.0 * 600_000.0
        else:
            # square lattice at ~25 km spacing over a window of exactly
            # n * spacing^2: strongly dispersed -> R ~ 2 > 1
            pts = [
                (i, 10.0 + (i % 10) * 0.3, 45.0 + (i // 10) * 0.3, 0)
                for i in range(100)
            ]
            area = 100 * 25_000.0 * 25_000.0
        df = spark.createDataFrame(
            [(p[0], p[1], p[2]) for p in pts],
            "pid long, lon double, lat double",
        )
        row = clark_evans(df, area, res=6).collect()[0]
        n = len(pts)
        s_mm = 0
        for i, a in enumerate(pts):
            d = min(
                _hav(a[1], a[2], b[1], b[2])
                for j, b in enumerate(pts)
                if j != i
            )
            s_mm += int(round(d * 1e3))
        r_obs = (s_mm / 1e3) / n
        r_exp = 0.5 * math.sqrt(area / n)
        se = 0.26136 * math.sqrt(area) / n
        assert (row["n"], row["sum_nn_mm"]) == (n, s_mm)
        assert row["r_obs_m"] == round(r_obs, 6)
        assert row["ce_index"] == round(r_obs / r_exp, 6)
        assert row["z"] == round((r_obs - r_exp) / se, 6)
        if lattice:
            assert row["ce_index"] > 1.0


def test_viewshed_matches_scalar_brute(spark):
    """viewshed == a from-scratch float-angle scalar sweep on a random
    DEM, plus planted wall/valley sanity."""
    import numpy as np

    from osm2geojson_spark.operators.geostat import viewshed

    rng = np.random.default_rng(7)
    n = 12
    zg = rng.integers(0, 50, size=(n, n))
    # planted wall east of the tower: a tall ridge then a shadowed valley
    zg[5, 7] = 200   # wall at (x=7, y=5)
    zg[5, 8:] = 1    # valley behind it
    dem = spark.createDataFrame(
        [(int(x), int(y), int(zg[y, x])) for y in range(n) for x in range(n)],
        "x long, y long, z long",
    )
    obs = spark.createDataFrame(
        [(1, 5, 5, 3), (2, 0, 0, 2)], "obs_id long, ox long, oy long, tower long"
    )
    got = {
        (r["obs_id"], r["ray"]): r
        for r in viewshed(dem, obs, max_dist=10).collect()
    }

    dirs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    for obs_id, ox, oy, tw in [(1, 5, 5, 3), (2, 0, 0, 2)]:
        zeye = int(zg[oy, ox]) + tw
        for ray, (dx, dy) in enumerate(dirs):
            samp = []
            for t in range(1, 11):
                x, y = ox + t * dx, oy + t * dy
                if 0 <= x < n and 0 <= y < n:
                    samp.append((t, int(zg[y, x]) - zeye))
            if not samp:
                assert (obs_id, ray) not in got
                continue
            vis = [
                t for i, (t, dz) in enumerate(samp)
                if all(dz * s > dz_s * t for s, dz_s in samp[:i])
            ]
            r = got[(obs_id, ray)]
            assert r["n_samples"] == len(samp)
            assert r["n_visible"] == len(vis)
            assert r["max_visible_t"] == max(vis)
    # the east ray from tower 1 (ray (1,0) = id 6): wall at t=2 visible,
    # valley behind it shadowed
    east = got[(1, 6)]
    assert east["max_visible_t"] == 2  # nothing past the wall is seen


def test_flow_direction_matches_scalar_brute(spark):
    """flow_direction == a from-scratch float-slope scalar sweep (with
    exact tie semantics), plus planted pit/peak sanity."""
    import math

    import numpy as np

    from osm2geojson_spark.operators.geostat import flow_direction

    rng = np.random.default_rng(11)
    n = 10
    zg = rng.integers(0, 60, size=(n, n))
    zg[4, 4] = 0    # pit: a sink
    zg[7, 2] = 200  # peak: everything around drains away from it
    dem = spark.createDataFrame(
        [(int(x), int(y), int(zg[y, x])) for y in range(n) for x in range(n)],
        "x long, y long, z long",
    )
    got = {(r["x"], r["y"]): r for r in flow_direction(dem).collect()}
    assert len(got) == n * n

    dirs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    indeg = {}
    for y in range(n):
        for x in range(n):
            best = None
            for i, (dx, dy) in enumerate(dirs):
                nx, ny = x + dx, y + dy
                if not (0 <= nx < n and 0 <= ny < n):
                    continue
                dz = int(zg[ny, nx]) - int(zg[y, x])
                if dz >= 0:
                    continue
                slope = -dz / math.sqrt(dx * dx + dy * dy)
                # exact integer tie semantics: compare keys, then dir id
                key = (2 if dx * dy == 0 else 1) * dz * dz
                if best is None or key > best[0]:
                    best = (key, i, nx, ny, slope)
            r = got[(x, y)]
            if best is None:
                assert r["dir"] is None and r["down_x"] is None
            else:
                assert (r["dir"], r["down_x"], r["down_y"]) == best[1:4]
                indeg[(best[2], best[3])] = indeg.get((best[2], best[3]), 0) + 1
    for (x, y), r in got.items():
        assert r["indeg"] == indeg.get((x, y), 0)
    assert got[(4, 4)]["dir"] is None       # the pit is a sink
    assert got[(4, 4)]["indeg"] >= 3        # and collects its neighbors
    assert got[(2, 7)]["dir"] is not None   # the peak drains
    assert got[(2, 7)]["indeg"] == 0        # nothing drains into a peak


def test_watershed_basins_matches_scalar_chase(spark):
    """watershed_basins == a scalar follow-the-pointer walk; every basin
    contains its own sink and partitions the grid."""
    import math

    import numpy as np

    from osm2geojson_spark.operators.geostat import watershed_basins

    rng = np.random.default_rng(19)
    n = 9
    zg = rng.integers(0, 80, size=(n, n))
    dem = spark.createDataFrame(
        [(int(x), int(y), int(zg[y, x])) for y in range(n) for x in range(n)],
        "x long, y long, z long",
    )
    got = {
        (r["x"], r["y"]): (r["sink_x"], r["sink_y"], r["basin_id"])
        for r in watershed_basins(dem, max_path=32).collect()
    }
    assert len(got) == n * n

    dirs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]

    def step(x, y):
        best = None
        for i, (dx, dy) in enumerate(dirs):
            nx, ny = x + dx, y + dy
            if not (0 <= nx < n and 0 <= ny < n):
                continue
            dz = int(zg[ny, nx]) - int(zg[y, x])
            if dz >= 0:
                continue
            key = (2 if dx * dy == 0 else 1) * dz * dz
            if best is None or key > best[0]:
                best = (key, i, nx, ny)
        return None if best is None else best[2:]

    for y in range(n):
        for x in range(n):
            cx, cy = x, y
            while True:
                nxt = step(cx, cy)
                if nxt is None:
                    break
                cx, cy = nxt
            assert got[(x, y)] == (cx, cy, cy * 2**32 + cx), (x, y)
    # a sink labels itself
    sinks = {(sx, sy) for sx, sy, _ in got.values()}
    for s in sinks:
        assert got[s][:2] == s


def test_tree_rollup_brute_and_twin(spark):
    """Dict replay on a random forest (roots 0 and 1, random parents
    among earlier nodes -> acyclic by construction), deep-chain case
    to exercise pointer doubling past one round."""
    import random

    import duckdb

    from osm2geojson_spark.operators.geostat import tree_rollup, tree_rollup_sql

    rng = random.Random(13)
    rows = [(0, None, 5), (1, None, 7)]
    for n in range(2, 40):
        rows.append((n, rng.randrange(0, n), (n * 31) % 20))
    # deep chain hanging off node 1: 40 -> 41 -> ... -> 52
    prev = 1
    for n in range(40, 53):
        rows.append((n, prev, 1))
        prev = n

    df = spark.createDataFrame(rows, "node_id long, parent_id long, w long")
    got = {
        r["node_id"]: (
            r["depth"], r["root_id"], r["subtree_n"], r["subtree_w"]
        )
        for r in tree_rollup(df).collect()
    }

    parent = {n: p for n, p, _ in rows}
    weight = {n: w for n, _, w in rows}
    for n in parent:
        anc = []
        p = parent[n]
        while p is not None:
            anc.append(p)
            p = parent[p]
        desc = [m for m in parent if n in _ancestors(parent, m)]
        want = (
            len(anc),
            anc[-1] if anc else n,
            len(desc) + 1,
            sum(weight[m] for m in desc) + weight[n],
        )
        assert got[n] == want, n
    assert got[52][0] == 13  # chain: 40..51 (12 nodes) + root hop via 1

    duck = duckdb.connect()
    duck.execute("CREATE TABLE nd (node_id BIGINT, parent_id BIGINT, w BIGINT)")
    duck.executemany("INSERT INTO nd VALUES (?, ?, ?)", rows)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            tree_rollup_sql("SELECT * FROM nd")
        ).fetchall()
    }
    assert twin == got


def _ancestors(parent, n):
    out = set()
    p = parent[n]
    while p is not None:
        out.add(p)
        p = parent[p]
    return out


def test_decluster_weights_matches_replay_and_twin(spark):
    """decluster_weights == a dict replay; weights sum to n exactly
    (as rationals); clustered points are downweighted vs isolated ones;
    twin bit-identical."""
    from fractions import Fraction

    import duckdb

    from osm2geojson_spark.operators.geostat import (
        decluster_weights,
        decluster_weights_sql,
    )

    # dense cluster near (10.01..10.05, 20.01..) + isolated points
    rows = [(i, 10.0 + 0.001 * i, 20.0 + 0.001 * i) for i in range(12)]
    rows += [(100, 50.0, -30.0), (101, -120.0, 45.0), (102, 0.5, 0.5)]
    df = spark.createDataFrame(rows, "pid long, lon double, lat double")
    got = {r["pid"]: r for r in decluster_weights(df, res=5).collect()}

    from osm2geojson_spark.operators import cells as CEL

    cell_of = {
        r["pid"]: r["cell_id"]
        for r in df.select(
            "pid", CEL.cell_id(F.col("lon"), F.col("lat"), 5).alias("cell_id")
        ).collect()
    }
    from collections import Counter

    ccount = Counter(cell_of.values())
    n, ncells = len(rows), len(ccount)
    total = Fraction(0)
    for pid, _, _ in rows:
        c = ccount[cell_of[pid]]
        r = got[pid]
        assert (r["c_cell"], r["w_num"], r["w_den"]) == (c, n, c * ncells)
        assert r["weight"] == n / (c * ncells)
        total += Fraction(n, c * ncells)
    assert total == n  # exact mass conservation
    # clustered points strictly downweighted vs isolated
    assert got[0]["weight"] < got[100]["weight"]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE base (pid BIGINT, lon DOUBLE, lat DOUBLE)")
    duck.executemany("INSERT INTO base VALUES (?, ?, ?)", rows)
    twin = {
        r[0]: r[1:]
        for r in duck.sql(
            decluster_weights_sql("SELECT * FROM base", res=5)
        ).fetchall()
    }
    assert twin == {
        pid: tuple(
            r[c] for c in ("cell_id", "c_cell", "w_num", "w_den", "weight")
        )
        for pid, r in got.items()
    }


def test_k_centers_greedy_replay_and_properties(spark):
    """Serial greedy replay on random integer points with a duplicate
    point (can never be picked after its twin), plus the invariants:
    coverage radius non-increasing, first center is the lowest id, and
    the Gonzalez 2-approx certificate (every point within the last
    radius of some center); twin byte-for-byte."""
    import random

    import duckdb

    from osm2geojson_spark.operators.geostat import k_centers, k_centers_sql

    rng = random.Random(9)
    rows = [(i, rng.randrange(0, 200), rng.randrange(0, 200)) for i in range(60)]
    rows.append((60, rows[0][1], rows[0][2]))  # duplicate of point 0
    df = spark.createDataFrame(rows, "pid long, x long, y long")
    got = sorted(
        (r["round"], r["pid"], r["x"], r["y"], r["d2_when_added"])
        for r in k_centers(df, k=6).collect()
    )

    pts = {p: (x, y) for p, x, y in rows}
    centers = [min(pts)]
    want = [(1, centers[0], *pts[centers[0]], None)]
    for r in range(2, 7):
        best = None
        for p, (x, y) in pts.items():
            d2 = min((x - pts[c][0]) ** 2 + (y - pts[c][1]) ** 2 for c in centers)
            key = (-d2, p)
            if best is None or key < best[0]:
                best = (key, p, d2)
        if best[2] == 0:
            break
        centers.append(best[1])
        want.append((r, best[1], *pts[best[1]], best[2]))
    assert got == sorted(want)
    radii = [w[4] for w in want[1:]]
    assert radii == sorted(radii, reverse=True)
    # coverage certificate
    last_r2 = radii[-1]
    for p, (x, y) in pts.items():
        d2 = min((x - pts[c][0]) ** 2 + (y - pts[c][1]) ** 2 for c in centers)
        assert d2 <= last_r2

    duck = duckdb.connect()
    duck.execute("CREATE TABLE kcp (pid BIGINT, x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO kcp VALUES (?,?,?)", rows)
    twin = sorted(
        tuple(r) for r in duck.sql(k_centers_sql("SELECT * FROM kcp", k=6)).fetchall()
    )
    assert twin == got


def _brute_dists(edges, sources, max_hops, directed):
    """Bounded Bellman-Ford in plain Python: min weight over walks with at
    most max_hops edges."""
    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
        if not directed:
            adj.setdefault(d, []).append((s, w))
    dist = {s: 0 for s in sources}
    for _ in range(max_hops):
        nxt = dict(dist)
        for v, dv in dist.items():
            for u, w in adj.get(v, []):
                if dv + w < nxt.get(u, float("inf")):
                    nxt[u] = dv + w
        if nxt == dist:
            break
        dist = nxt
    return dist


def _wgraph(seed, n=120, m=320):
    rng = np.random.default_rng(seed)
    return [
        (int(rng.integers(0, n)), int(rng.integers(0, n)),
         int(rng.integers(1, 25)))
        for _ in range(m)
    ]


def _run_dists(spark, edges, sources, max_hops, directed):
    from osm2geojson_spark.operators.geostat import shortest_dists

    e = spark.createDataFrame(edges, "src long, dst long, w long")
    s = spark.createDataFrame([(x,) for x in sources], "node long")
    return {
        r["node"]: r["dist"]
        for r in shortest_dists(
            e, s, max_hops=max_hops, directed=directed
        ).collect()
    }


def test_shortest_dists_matches_bruteforce(spark):
    for seed, directed in ((3, True), (4, False)):
        edges = _wgraph(seed)
        sources = [0, 7, 55]
        for hops in (1, 3, 5):
            got = _run_dists(spark, edges, sources, hops, directed)
            want = _brute_dists(edges, sources, hops, directed)
            assert got == want, (seed, directed, hops)
            assert len(want) > len(sources)  # non-degenerate reach


def test_shortest_dists_weighted_detour_beats_direct(spark):
    # direct edge weight 10; two-hop detour weight 2+3 -> dist 5 needs
    # 2 hops, so hops=1 reports 10 and hops=2 reports 5
    edges = [(0, 1, 10), (0, 2, 2), (2, 1, 3)]
    assert _run_dists(spark, edges, [0], 1, True)[1] == 10
    assert _run_dists(spark, edges, [0], 2, True)[1] == 5


def test_shortest_dists_early_exit_and_source_min(spark):
    # sources keep dist 0 even with incoming edges; a converged graph
    # exits before the hop cap (result equals the unbounded answer)
    edges = [(0, 1, 4), (1, 0, 1), (1, 2, 1)]
    got = _run_dists(spark, edges, [0, 2], 50, True)
    assert got == {0: 0, 2: 0, 1: 4}


def test_cost_distance_dijkstra_brute_and_twin(spark):
    """Python Dijkstra (hop-bounded) over the same weighted grid graph
    must agree exactly; flat terrain reduces to Manhattan distance;
    steep walls are detoured around; twin matches."""
    import heapq

    import duckdb

    from osm2geojson_spark.operators.geostat import (
        cost_distance,
        cost_distance_sql,
    )

    n = 8
    # flat plain with a steep north-south wall at x == 4 (z jumps 50)
    zmap = {(x, y): (50 if x >= 4 else 0) for x in range(n) for y in range(n)}
    dem = spark.createDataFrame(
        [(x, y, z) for (x, y), z in zmap.items()], "x long, y long, z long"
    )
    seeds = [(0, 0)]
    sdf = spark.createDataFrame(seeds, "x long, y long")
    max_hops, cap = 10, 3
    got = {
        (r["x"], r["y"]): r["dist"]
        for r in cost_distance(dem, sdf, max_hops=max_hops, slope_cap=cap).collect()
    }

    # hop-bounded Dijkstra replay (state = (cell, hops))
    import collections

    best = collections.defaultdict(lambda: float("inf"))
    pq = [(0, 0, (0, 0))]
    dist_at = {}
    while pq:
        d, h, c = heapq.heappop(pq)
        if d >= best[(c, h)]:
            continue
        best[(c, h)] = d
        dist_at[c] = min(dist_at.get(c, float("inf")), d)
        if h == max_hops:
            continue
        x, y = c
        for nx, ny in ((x+1, y), (x-1, y), (x, y+1), (x, y-1)):
            if 0 <= nx < n and 0 <= ny < n:
                w = 1 + min(abs(zmap[(nx, ny)] - zmap[(x, y)]), cap)
                heapq.heappush(pq, (d + w, h + 1, (nx, ny)))
    want = {c: d for c, d in dist_at.items() if d < float("inf")}
    assert got == want
    # flat side: exact Manhattan distance
    assert got[(3, 3)] == 6 and got[(0, 7)] == 7
    # first wall column pays the slope cap once
    assert got[(4, 0)] == 3 + 1 + cap

    duck = duckdb.connect()
    dem_cte = (
        "SELECT CAST(i % 8 AS BIGINT) AS x, CAST(i // 8 AS BIGINT) AS y,"
        " CAST(CASE WHEN i % 8 >= 4 THEN 50 ELSE 0 END AS BIGINT) AS z"
        " FROM (SELECT unnest(range(0, 64)) AS i)"
    )
    twin = {
        (r[0], r[1]): r[2]
        for r in duck.sql(
            cost_distance_sql(
                dem_cte, "SELECT 0 AS x, 0 AS y", max_hops=max_hops,
                slope_cap=cap,
            )
        ).fetchall()
    }
    assert twin == got


def test_median_center_brute_and_twin(spark):
    """Weiszfeld rounds replayed in scalar python; outlier robustness."""
    import duckdb
    import math

    from osm2geojson_spark.operators.geostat import median_center, median_center_sql

    # tight cluster at ~(10,10) + one far outlier: centroid dragged,
    # median stays near the cluster
    rows = [
        ("a", 9, 10), ("a", 10, 9), ("a", 10, 11), ("a", 11, 10),
        ("a", 10, 10), ("a", 500, 500),
        ("b", 7, 7),  # singleton: every round keeps the seed
    ]
    W = 1_000_000

    def brute(rounds=4):
        out = {}
        for g in {r[0] for r in rows}:
            pts = [(x, y) for gg, x, y in rows if gg == g]
            n = len(pts)
            cx = int(math.floor(sum(p[0] for p in pts) / n))
            cy = int(math.floor(sum(p[1] for p in pts) / n))
            cx0, cy0 = cx, cy
            for _ in range(rounds):
                sw = swx = swy = 0
                for x, y in pts:
                    d2 = (x - cx) ** 2 + (y - cy) ** 2
                    if d2 == 0:
                        continue
                    w = int(math.floor(W / math.sqrt(d2)))
                    sw += w
                    swx += w * x
                    swy += w * y
                if sw > 0:
                    cx, cy = swx // sw, swy // sw
            out[g] = (n, cx0, cy0, cx, cy)
        return out

    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r["g"]: (r["n"], r["cx0"], r["cy0"], r["cx"], r["cy"])
        for r in median_center(df, rounds=4).collect()
    }
    assert got == brute()
    # robustness: median center stays inside the cluster bbox, the
    # centroid seed does not
    n, cx0, cy0, cx, cy = got["a"]
    assert cx0 > 50 and cx <= 12 and cy <= 12
    assert got["b"] == (1, 7, 7, 7, 7)

    duck = duckdb.connect()
    duck.execute("CREATE TABLE mc (g VARCHAR, x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO mc VALUES (?, ?, ?)", rows)
    twin = {
        r[0]: tuple(r[1:6])
        for r in duck.sql(median_center_sql("SELECT * FROM mc", rounds=4)).fetchall()
    }
    assert twin == got
