"""Skyline, count-min sketch, and systematic PPS sampling tests."""

import numpy as np
import pytest


def _brute_skyline(pairs):
    out = []
    for p in set(pairs):
        dominated = any(
            q[0] <= p[0] and q[1] <= p[1] and q != p for q in set(pairs)
        )
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_matches_brute_and_is_prune_invariant(spark):
    import duckdb

    from osm2geojson_spark.operators.analytics import skyline2d, skyline2d_sql

    rng = np.random.default_rng(31)
    rows = [
        (int(i), int(x), int(y))
        for i, (x, y) in enumerate(
            zip(rng.integers(0, 50, 300), rng.integers(0, 50, 300))
        )
    ]
    # planted extreme corners the frontier must contain
    rows += [(1000, -5, 60), (1001, 60, -5), (1002, 0, 0)]
    df = spark.createDataFrame(rows, "id long, x long, y long")

    brute = _brute_skyline([(x, y) for _, x, y in rows])
    for rate in (0.0, 0.02, 0.5):
        got = sorted(
            (r["x"], r["y"])
            for r in skyline2d(df, "x", "y", "id", sample_rate=rate).collect()
        )
        assert got == brute, f"rate={rate}"

    # multiplicity + min_id columns against hand counts
    got_full = {
        (r["x"], r["y"]): (r["n_points"], r["min_id"])
        for r in skyline2d(df, "x", "y", "id").collect()
    }
    from collections import Counter

    cnt = Counter((x, y) for _, x, y in rows)
    mid = {}
    for i, x, y in rows:
        mid[(x, y)] = min(mid.get((x, y), i), i)
    assert got_full == {p: (cnt[p], mid[p]) for p in brute}

    # DuckDB twin (NOT EXISTS formulation) — identical rows
    duck = duckdb.connect()
    duck.execute("CREATE TABLE base (id BIGINT, x BIGINT, y BIGINT)")
    duck.executemany("INSERT INTO base VALUES (?, ?, ?)", rows)
    twin = sorted(
        (x, y)
        for x, y, _, _ in duck.sql(
            skyline2d_sql("SELECT * FROM base", "x", "y", "id")
        ).fetchall()
    )
    assert twin == brute


def test_skyline_colinear_and_duplicate_points(spark):
    from osm2geojson_spark.operators.analytics import skyline2d

    # a strictly-descending staircase is ALL frontier; duplicates collapse
    rows = [(i, i, 10 - i) for i in range(6)] + [(100, 2, 8), (101, 3, 3)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = sorted(
        (r["x"], r["y"], r["n_points"])
        for r in skyline2d(df, "x", "y", "id").collect()
    )
    # (3, 3) dominates the staircase tail (3,7), (4,6), (5,5)
    assert got == [(0, 10, 1), (1, 9, 1), (2, 8, 2), (3, 3, 1)]


def test_cms_estimate_upper_bounds_and_exact_when_wide(spark):
    import duckdb

    from osm2geojson_spark.operators.sketch import cms_build, cms_estimate, cms_estimate_sql

    rng = np.random.default_rng(7)
    # zipf-ish: key k appears ~ 600/k times
    vals = []
    for k in range(1, 40):
        vals += [k] * (600 // k)
    rng.shuffle(vals)
    df = spark.createDataFrame([(int(v),) for v in vals], "k long")
    keys = spark.createDataFrame([(int(k),) for k in range(1, 60)], "k long")
    from collections import Counter

    true = Counter(vals)

    # narrow sketch: estimates are UPPER bounds
    cms = cms_build(df, "k", depth=4, width=64)
    est = {r["k"]: r["est"] for r in cms_estimate(cms, keys, "k", 4, 64).collect()}
    assert set(est) == set(range(1, 60))
    for k in range(1, 60):
        assert est[k] >= true.get(k, 0)
    # heavy keys stay well-separated from the tail even at width 64
    assert est[1] >= 600 and est[1] <= 600 + len(vals) * 4 / 64

    # wide sketch: no collisions at this cardinality -> exact
    cms_w = cms_build(df, "k", depth=4, width=8192)
    est_w = {
        r["k"]: r["est"] for r in cms_estimate(cms_w, keys, "k", 4, 8192).collect()
    }
    assert est_w == {k: true.get(k, 0) for k in range(1, 60)}

    # DuckDB twin hash-identical on the narrow sketch (collisions included)
    duck = duckdb.connect()
    duck.execute("CREATE TABLE base (k BIGINT)")
    duck.executemany("INSERT INTO base VALUES (?)", [(int(v),) for v in vals])
    duck.execute("CREATE TABLE kk (k BIGINT)")
    duck.executemany("INSERT INTO kk VALUES (?)", [(int(k),) for k in range(1, 60)])
    twin = dict(
        duck.sql(
            cms_estimate_sql("SELECT k FROM base", "SELECT k FROM kk", "k", 4, 64)
        ).fetchall()
    )
    assert twin == est


def test_cms_weighted_and_negative_keys(spark):
    from osm2geojson_spark.operators.sketch import cms_build, cms_estimate

    rows = [(-5, 3), (-5, 4), (9, 10), (2**62, 1)]
    df = spark.createDataFrame(rows, "k long, w long")
    keys = spark.createDataFrame([(-5,), (9,), (2**62,), (77,)], "k long")
    cms = cms_build(df, "k", depth=3, width=4096, weight_col="w")
    est = {r["k"]: r["est"] for r in cms_estimate(cms, keys, "k", 3, 4096).collect()}
    assert est[-5] == 7 and est[9] == 10 and est[2**62] == 1
    assert est[77] >= 0  # never-seen key: 0 unless it collides


def test_pps_systematic_matches_serial_walk(spark):
    import duckdb

    from osm2geojson_spark.operators.sampling import pps_systematic, pps_systematic_sql

    rng = np.random.default_rng(13)
    rows = [(int(k), int(w)) for k, w in zip(
        rng.permutation(500), rng.integers(1, 40, 500))]
    df = spark.createDataFrame(rows, "k long, w long").repartition(7)
    stride = 100

    got = {
        r["k"]: (r["weight"], r["cum"], r["n_hits"])
        for r in pps_systematic(df, "k", "w", stride).collect()
    }
    # serial brute walk
    cum, want = 0, {}
    for k, w in sorted(rows):
        prev = cum
        cum += w
        hits = cum // stride - prev // stride
        if hits > 0:
            want[k] = (w, cum, hits)
    assert got == want
    # selected weight mass tracks the stride grid exactly
    assert sum(h for _, _, h in got.values()) == cum // stride

    duck = duckdb.connect()
    duck.execute("CREATE TABLE base (k BIGINT, w BIGINT)")
    duck.executemany("INSERT INTO base VALUES (?, ?)", rows)
    twin = {
        k: (w, c, h)
        for k, w, c, h in duck.sql(
            pps_systematic_sql("SELECT k, w FROM base", "k", "w", stride)
        ).fetchall()
    }
    assert twin == got


def test_pps_systematic_big_weights_hit_multiple_times(spark):
    from osm2geojson_spark.operators.sampling import pps_systematic

    df = spark.createDataFrame(
        [(1, 10), (2, 250), (3, 10), (4, 95)], "k long, w long"
    )
    got = {
        r["k"]: r["n_hits"] for r in pps_systematic(df, "k", "w", 100).collect()
    }
    # cum: 10, 260, 270, 365 -> hits: 0, 2, 0, 1
    assert got == {2: 2, 4: 1}


def test_pps_systematic_empty_input(spark):
    from osm2geojson_spark.operators.sampling import pps_systematic

    df = spark.createDataFrame([], "k long, w long")
    assert pps_systematic(df, "k", "w", 100).count() == 0


def test_bloom_no_false_negatives_and_twin_matches_fps(spark):
    import duckdb

    from osm2geojson_spark.operators.sketch import (
        bloom_build, bloom_probe, bloom_probe_sql)

    members = [(int(k),) for k in range(0, 2000, 13)]
    probes = [(int(k),) for k in range(0, 600)]
    mdf = spark.createDataFrame(members, "k long")
    pdf = spark.createDataFrame(probes, "k long")

    bloom = bloom_build(mdf, "k", n_words=4, n_hashes=3)  # tiny: FPs happen
    got = {r["k"]: r["passed"] for r in bloom_probe(bloom, pdf, "k", 4, 3).collect()}

    mem = {k for (k,) in members}
    assert all(got[k] for k in range(0, 600) if k in mem)  # no false negatives
    fps = [k for k in range(0, 600) if got[k] and k not in mem]
    assert fps, "tiny filter must produce false positives for this test to bite"

    duck = duckdb.connect()
    duck.execute("CREATE TABLE m (k BIGINT)")
    duck.executemany("INSERT INTO m VALUES (?)", members)
    duck.execute("CREATE TABLE pr (k BIGINT)")
    duck.executemany("INSERT INTO pr VALUES (?)", probes)
    twin = dict(duck.sql(bloom_probe_sql(
        "SELECT k FROM m", "SELECT k FROM pr", "k", 4, 3)).fetchall())
    assert twin == got  # false positives included — word-level parity

    # a realistic width passes the members and rejects almost everything else
    wide = bloom_build(mdf, "k", n_words=64, n_hashes=3)
    gw = {r["k"]: r["passed"] for r in bloom_probe(wide, pdf, "k", 64, 3).collect()}
    assert all(gw[k] for k in mem if k < 600)
    assert sum(gw[k] for k in range(600) if k not in mem) <= 5


def test_bloom_merge_by_bit_or(spark):
    from pyspark.sql import functions as F

    from osm2geojson_spark.operators.sketch import bloom_build

    a = spark.createDataFrame([(i,) for i in range(0, 50)], "k long")
    b = spark.createDataFrame([(i,) for i in range(50, 100)], "k long")
    both = spark.createDataFrame([(i,) for i in range(0, 100)], "k long")
    merged = (
        bloom_build(a, "k", 8, 3).unionByName(bloom_build(b, "k", 8, 3))
        .groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))
    )
    want = {r["word"]: r["bits"] for r in bloom_build(both, "k", 8, 3).collect()}
    got = {r["word"]: r["bits"] for r in merged.collect()}
    assert got == want


def test_cms_join_cardinality_upper_bound_and_twin(spark):
    import duckdb

    from osm2geojson_spark.operators.sketch import cms_build, cms_join_cardinality, cms_join_cardinality_sql

    rng = np.random.default_rng(19)
    a = [int(v) for v in rng.integers(0, 200, 3000)]
    b = [int(v) for v in rng.integers(100, 300, 2500)]
    adf = spark.createDataFrame([(v,) for v in a], "k long")
    bdf = spark.createDataFrame([(v,) for v in b], "k long")

    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    true = sum(ca[k] * cb[k] for k in ca)

    for width in (256, 4096):
        est = cms_join_cardinality(
            cms_build(adf, "k", 4, width), cms_build(bdf, "k", 4, width)
        ).collect()[0]["est"]
        assert est >= true  # collisions only ADD
        if width == 4096:
            assert est == true  # wide enough: collision-free -> exact

    duck = duckdb.connect()
    duck.execute("CREATE TABLE ta (k BIGINT)")
    duck.executemany("INSERT INTO ta VALUES (?)", [(v,) for v in a])
    duck.execute("CREATE TABLE tb (k BIGINT)")
    duck.executemany("INSERT INTO tb VALUES (?)", [(v,) for v in b])
    est256 = cms_join_cardinality(
        cms_build(adf, "k", 4, 256), cms_build(bdf, "k", 4, 256)
    ).collect()[0]["est"]
    twin = duck.sql(cms_join_cardinality_sql(
        "SELECT k FROM ta", "SELECT k FROM tb", "k", 4, 256)).fetchall()[0][0]
    assert twin == est256


def test_lev1_join_matches_brute(spark):
    import duckdb

    from osm2geojson_spark.operators.dedup import lev1_join, lev1_join_sql

    words = [
        "spark", "spork", "sparks", "park", "stark", "spark",  # near-family
        "duck", "dusk", "luck", "ducky",
        "a", "b", "ab", "", "abc",
        "zzzzz",
    ]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = sorted(
        (r["a"], r["b"], r["lev"]) for r in lev1_join(df, "id", "s").collect()
    )

    def lev(x, y):
        import numpy as np
        d = np.arange(len(y) + 1)
        for i, cx in enumerate(x, 1):
            prev, d[0] = d[0], i
            for j, cy in enumerate(y, 1):
                cur = min(d[j] + 1, d[j - 1] + 1, prev + (cx != cy))
                prev, d[j] = d[j], cur
        return int(d[len(y)])

    brute = sorted(
        (i, j, lev(words[i], words[j]))
        for i in range(len(words))
        for j in range(i + 1, len(words))
        if lev(words[i], words[j]) <= 1
    )
    assert got == brute
    assert any(l == 0 for _, _, l in got)  # the duplicate "spark" pair
    assert any(l == 1 for _, _, l in got)

    duck = duckdb.connect()
    duck.execute("CREATE TABLE w (id BIGINT, s VARCHAR)")
    duck.executemany("INSERT INTO w VALUES (?, ?)", rows)
    twin = sorted(duck.sql(lev1_join_sql("SELECT * FROM w", "id", "s")).fetchall())
    assert twin == got


def test_gram_matrix_exact_vs_numpy_and_twin(spark):
    import duckdb

    from osm2geojson_spark.operators.similarity import gram_matrix, gram_matrix_sql, GRAM_SCALE

    rng = np.random.default_rng(29)
    dim = 8
    V = rng.standard_normal((120, dim)).astype(np.float32)
    rows = [(int(i), [float(x) for x in V[i]]) for i in range(len(V))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(5)

    got = {
        (r["i"], r["j"]): r["g_q"]
        for r in gram_matrix(df, dim=dim).collect()
    }
    Q = np.floor(V.astype(np.float64) * GRAM_SCALE + 0.5).astype(np.int64)
    G = Q.T @ Q
    want = {(i, j): int(G[i, j]) for i in range(dim) for j in range(i, dim)}
    assert got == want
    # partition count must not matter (order-free integer sums)
    got1 = {
        (r["i"], r["j"]): r["g_q"]
        for r in gram_matrix(df.coalesce(1), dim=dim).collect()
    }
    assert got1 == want

    duck = duckdb.connect()
    duck.execute("CREATE TABLE e (vec_id BIGINT, embedding FLOAT[])")
    duck.executemany("INSERT INTO e VALUES (?, ?)", rows)
    twin = {
        (i, j): g
        for i, j, g in duck.sql(gram_matrix_sql("SELECT * FROM e")).fetchall()
    }
    assert twin == want


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


def test_snm_pairs_matches_brute_window_scan(spark):
    import duckdb

    from osm2geojson_spark.operators.dedup import snm_pairs, snm_pairs_sql

    words = ["apple", "appel", "apply", "banana", "bananna", "cherry",
             "cherri", "date", "dates", "fig"]
    rows = [(i, w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "id long, s string")
    window, max_lev = 3, 2
    got = sorted(
        (r["a"], r["b"], r["lev"])
        for r in snm_pairs(df, "id", "s", window, max_lev).collect()
    )

    def lev(x, y):
        d = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            prev, d[0] = d[0], i
            for j, cy in enumerate(y, 1):
                cur = min(d[j] + 1, d[j - 1] + 1, prev + (cx != cy))
                prev, d[j] = d[j], cur
        return d[len(y)]

    order = sorted(range(len(words)), key=lambda i: (words[i], i))
    want = set()
    for p in range(len(order)):
        for q in range(p + 1, min(p + window + 1, len(order))):
            i, j = order[p], order[q]
            l = lev(words[i], words[j])
            if l <= max_lev:
                want.add((min(i, j), max(i, j), l))
    assert got == sorted(want)
    assert (0, 1, 2) in want or (0, 1, 1) in want  # apple/appel caught

    duck = duckdb.connect()
    duck.execute("CREATE TABLE sn (id BIGINT, s VARCHAR)")
    duck.executemany("INSERT INTO sn VALUES (?, ?)", rows)
    twin = sorted(duck.sql(
        snm_pairs_sql("SELECT * FROM sn", "id", "s", window, max_lev)
    ).fetchall())
    assert twin == got


def test_ohlc_bars_first_last_deterministic(spark):
    import duckdb

    from osm2geojson_spark.operators.analytics import ohlc_bars, ohlc_bars_sql

    rows = [
        (1, 0, 10, 100), (1, 30, 25, 101), (1, 59, 12, 102),   # bar 0
        (1, 60, 50, 103), (1, 90, 5, 104),                     # bar 1
        (2, 10, 7, 200), (2, 10, 9, 201),                      # dup ts: id breaks tie
    ]
    df = spark.createDataFrame(rows, "sid long, t long, v long, eid long")
    got = {
        (r["sid"], r["bar"]): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in ohlc_bars(df, "sid", "t", "v", 60, "eid").collect()
    }
    assert got == {
        (1, 0): (10, 25, 10, 12, 3),
        (1, 1): (50, 50, 5, 5, 2),
        (2, 0): (7, 9, 7, 9, 2),
    }

    duck = duckdb.connect()
    duck.execute("CREATE TABLE ohr (sid BIGINT, t BIGINT, v BIGINT, eid BIGINT)")
    duck.executemany("INSERT INTO ohr VALUES (?, ?, ?, ?)", rows)
    twin = {
        (s, b): (o, h, l, c, n)
        for s, b, o, h, l, c, n in duck.sql(
            ohlc_bars_sql("SELECT * FROM ohr", "sid", "t", "v", 60, "eid")
        ).fetchall()
    }
    assert twin == got


def test_basket_pairs_support_and_lift(spark):
    import duckdb

    from osm2geojson_spark.operators.analytics import basket_pairs, basket_pairs_sql

    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"), (4, "b"),   # duplicate item in basket counts once
        (5, "d"),
    ]
    df = spark.createDataFrame(rows, "bid long, item string")
    got = {
        (r["item_a"], r["item_b"]): (r["n_pair"], r["n_a"], r["n_b"], r["lift_q"])
        for r in basket_pairs(df, "bid", "item", min_support=2).collect()
    }
    # N=5 baskets; a in 3, b in 3, c in 2; pairs: (a,b)=2, (a,c)=2, (b,c)=1(<2 dropped)
    assert got == {
        ("a", "b"): (2, 3, 3, round(5 * 2 / 9, 6)),
        ("a", "c"): (2, 3, 2, round(5 * 2 / 6, 6)),
    }

    duck = duckdb.connect()
    duck.execute("CREATE TABLE bkt (bid BIGINT, item VARCHAR)")
    duck.executemany("INSERT INTO bkt VALUES (?, ?)", rows)
    twin = {
        (a, b): (np_, na, nb_, lq)
        for a, b, np_, na, nb_, lq in duck.sql(
            basket_pairs_sql("SELECT * FROM bkt", "bid", "item", 2)
        ).fetchall()
    }
    assert twin == got


def test_profile_table_one_pass_and_twin(spark):
    import duckdb

    from osm2geojson_spark.operators.sketch import profile_table, profile_table_sql

    rows = [(1, "alpha", 3.5), (2, "beta", None), (3, None, 1.25),
            (4, "alpha", 2.0), (None, "gamma", 9.0), (4, "alpha", 2.0)]
    df = spark.createDataFrame(rows, "k long, s string, v double")

    # full-rate gate: n_sampled IS the exact distinct count
    got = {
        r["column"]: tuple(r)[1:]
        for r in profile_table(df, ["k", "s"], tau=1_000_003).collect()
    }
    assert got["k"] == (6, 1, 4, 4.0, "1", "4")
    assert got["s"] == (6, 1, 3, 3.0, "alpha", "gamma")

    # sampled gate: engine-identical survivors, scaled estimate
    g2 = {
        r["column"]: tuple(r)[1:]
        for r in profile_table(df, ["k", "s"], tau=500_000).collect()
    }
    duck = duckdb.connect()
    duck.execute("CREATE TABLE pt (k BIGINT, s VARCHAR, v DOUBLE)")
    duck.executemany("INSERT INTO pt VALUES (?, ?, ?)", rows)
    twin = {
        r[0]: tuple(r)[1:]
        for r in duck.sql(
            profile_table_sql("SELECT * FROM pt", ["k", "s"], 500_000)
        ).fetchall()
    }
    assert twin == g2
    # the whole profile reads the table ONCE (countDistinct legitimately
    # expands to a two-level Aggregate, but there is a single scan)
    plan = profile_table(df, ["k", "s"])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_psi_bins_matches_brute_and_drift_direction(spark):
    """psi_bins == a dict replay with Laplace smoothing; identical
    snapshots give PSI ~0 while a shifted snapshot drifts positive."""
    import math

    from osm2geojson_spark.operators.analytics import psi_bins

    ref_rows = [(i, (i * 37) % 1_000_000) for i in range(400)]
    cur_rows = [(i, min(999_999, ((i * 37) % 1_000_000) // 2 + 300_000)) for i in range(400)]
    ref = spark.createDataFrame(ref_rows, "rid long, score long")
    cur = spark.createDataFrame(cur_rows, "rid long, score long")
    got = {r["bin"]: r for r in psi_bins(ref, cur, n_bins=8).collect()}

    def counts(rows):
        c = {b: 0 for b in range(8)}
        for _, s in rows:
            c[min(7, s * 8 // 1_000_000)] += 1
        return c

    cr, cc = counts(ref_rows), counts(cur_rows)
    tr, tc = sum(cr.values()), sum(cc.values())
    psi = 0.0
    for b in range(8):
        p = (cr[b] + 1) / (tr + 8)
        q = (cc[b] + 1) / (tc + 8)
        term = (p - q) * (math.log(p) - math.log(q))
        assert (got[b]["n_ref"], got[b]["n_cur"]) == (cr[b], cc[b]), b
        assert abs(got[b]["term_micro"] - round(term * 1e6)) <= 1, b
        psi += term
    assert sum(r["term_micro"] for r in got.values()) / 1e6 > 0.25  # drifted
    same = {r["bin"]: r for r in psi_bins(ref, ref, n_bins=8).collect()}
    assert all(r["term_micro"] == 0 for r in same.values())


def test_group_quantiles_matches_numpy_type1(spark):
    """group_quantiles == the type-1 (lower) quantile definition per
    group, incl. ties, singleton groups, and q=1.0 = max."""
    import math

    from osm2geojson_spark.operators.analytics import group_quantiles

    data = {
        "a": [5, 1, 9, 1, 7, 3, 3, 3],
        "b": [42],
        "c": list(range(100, 0, -1)),
    }
    rows = [(g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v long")
    qs = [0.0, 0.1, 0.5, 0.9, 1.0]
    got = {
        (r["g"], r["q_pct"]): (r["rank"], r["n"], r["value"])
        for r in group_quantiles(df, qs).collect()
    }
    assert len(got) == len(data) * len(qs)
    for g, vs in data.items():
        s = sorted(vs)
        n = len(s)
        for q in qs:
            rank = max(1, math.ceil(q * n))
            assert got[(g, round(q * 100))] == (rank, n, s[rank - 1]), (g, q)
    assert got[("c", 100)][2] == 100  # q=1 is the max
    assert got[("b", 0)][2] == 42


def test_text_nll_matches_brute_bigram_lm(spark):
    """text_nll == a from-scratch Python char-bigram LM on a tiny corpus;
    repetitive text scores lower avg_nll than erratic text."""
    import math
    from collections import Counter

    from osm2geojson_spark.functions.text import text_nll

    docs = [
        (1, "abababababab"),
        (2, "aabbaabbaabb"),
        (3, "the cat sat on the mat"),
        (4, "x"),           # too short: no bigram, must drop
        (5, "zq"),          # rare transition
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r for r in text_nll(df).collect()}

    bigrams = []
    per_doc = {}
    for did, t in docs:
        bs = [t[i : i + 2] for i in range(len(t) - 1)]
        per_doc[did] = bs
        bigrams.extend(bs)
    n_bg = Counter(bigrams)
    n_c1 = Counter()
    for bg, c in n_bg.items():
        n_c1[bg[0]] += c
    for did, bs in per_doc.items():
        if not bs:
            assert did not in got
            continue
        terms = [
            int(round((math.log(n_bg[b]) - math.log(n_c1[b[0]])) * 1e6))
            for b in bs
        ]
        r = got[did]
        assert r["n_bigrams"] == len(bs)
        assert r["nll_micro"] == -sum(terms)
        assert abs(r["avg_nll"] - round(-sum(terms) / len(bs) / 1e6, 6)) < 1e-9
    # the perfectly periodic doc is the most predictable
    assert got[1]["avg_nll"] <= got[3]["avg_nll"]
    # a corpus-unique transition is certain under the self-trained model
    assert got[5]["avg_nll"] == 0.0


def test_ab_test_z_matches_scipy_style_formula_and_degenerates(spark):
    """ab_test_z == the textbook pooled two-proportion z computed in
    plain Python; degenerate inputs yield NULL z."""
    import math

    from osm2geojson_spark.operators.analytics import ab_test_z

    trials = [(0, 1)] * 30 + [(0, 0)] * 70 + [(1, 1)] * 45 + [(1, 0)] * 55
    df = spark.createDataFrame(trials, "variant long, converted long")
    r = ab_test_z(df).collect()[0]
    na, xa, nb, xb = 100, 30, 100, 45
    assert (r["na"], r["xa"], r["nb"], r["xb"]) == (na, xa, nb, xb)
    p = (xa + xb) / (na + nb)
    z = (xb / nb - xa / na) / math.sqrt(p * (1 - p) * (1 / na + 1 / nb))
    assert r["rate_a"] == 0.3 and r["rate_b"] == 0.45
    assert abs(r["z"] - round(z, 6)) < 1e-9
    assert r["z"] > 2.0  # the planted uplift is significant

    # all-converted pool: zero variance -> NULL z, counts still exact
    allc = spark.createDataFrame(
        [(0, 1)] * 5 + [(1, 1)] * 5, "variant long, converted long"
    )
    r2 = ab_test_z(allc).collect()[0]
    assert r2["z"] is None and (r2["xa"], r2["xb"]) == (5, 5)
    # one-armed experiment -> NULL z, no divide error
    onearm = spark.createDataFrame([(0, 1), (0, 0)], "variant long, converted long")
    r3 = ab_test_z(onearm).collect()[0]
    assert r3["z"] is None and r3["rate_b"] is None and r3["nb"] == 0


def test_hll_distinct_matches_brute_registers_and_accuracy(spark):
    """hll_distinct == a pure-Python register replay (hash chains,
    comparison-count bitlen, max registers, exact harmonic int64, float
    assembly); the estimate lands within the ~3 sigma HLL band of the
    true distinct count; and register state is MERGEABLE: computing on
    two halves and max-merging registers reproduces the whole-set
    sketch exactly."""
    import math as _m

    from osm2geojson_spark.operators.sketch import (
        _HLL_C1,
        _HLL_C2,
        _HLL_MASK,
        _HLL_P,
        _HLL_SCALE,
        _hll_alpha,
        hll_distinct,
    )

    p, m = 8, 256
    # two groups: a big one (multiplicity-heavy) and a tiny one that
    # must take the linear-counting branch
    vals = [("big", (i * 17 + 3) % 60_000) for i in range(150_000)]
    vals += [("tiny", i) for i in range(40)]
    df = spark.createDataFrame(vals, "g string, v long")
    got = {r["g"]: r for r in hll_distinct(df, ["g"], "v", p=p).collect()}

    def replay(values):
        regs = {}
        for v in values:
            x = v % _HLL_P
            x = ((x ^ (x >> 17)) * _HLL_C1) & _HLL_MASK
            x = ((x ^ (x >> 19)) * _HLL_C2) & _HLL_MASK
            x = x ^ (x >> 23)
            b = x & (m - 1)
            w = ((x >> p) & ((1 << 20) - 1)) + 1
            rho = 21 - w.bit_length()
            regs[b] = max(regs.get(b, 0), rho)
        return regs

    def assemble(regs):
        nonzero = len(regs)
        zeros = m - nonzero
        s = sum(1 << (21 - r) for r in regs.values()) + zeros * _HLL_SCALE
        e_raw = _hll_alpha(m) * m * m * float(_HLL_SCALE) / s
        if e_raw <= 2.5 * m and zeros > 0:
            e = float(m) * _m.log(float(m) / zeros)
        else:
            e = e_raw
        return nonzero, zeros, s, round(e, 3) + 0.0

    by_group = {"big": set(), "tiny": set()}
    for g, v in vals:
        by_group[g].add(v)
    for g, values in by_group.items():
        regs = replay(values)
        nonzero, zeros, s, est = assemble(regs)
        r = got[g]
        assert (r["nonzero"], r["zeros"], r["sum_scaled"], r["est"]) == (
            nonzero,
            zeros,
            s,
            est,
        ), g
        true = len(values)
        # 1.04/sqrt(256) = 6.5% std error; allow 3.5 sigma
        assert abs(r["est"] - true) <= max(3, 0.23 * true), (g, r["est"], true)

    # mergeability: register-wise max over two disjoint halves == whole
    big = sorted(by_group["big"])
    left, right = big[: len(big) // 2], big[len(big) // 2 :]
    merged = replay(left)
    for b, r in replay(right).items():
        merged[b] = max(merged.get(b, 0), r)
    assert merged == replay(big)
    assert assemble(merged) == (
        got["big"]["nonzero"],
        got["big"]["zeros"],
        got["big"]["sum_scaled"],
        got["big"]["est"],
    )


def test_scd2_build_matches_dict_replay(spark):
    """scd2_build == a per-key dict replay: no-op updates collapse,
    versions are contiguous from 1, intervals tile [first_ts, NULL)
    without gaps, exactly one is_current per key."""
    from osm2geojson_spark.operators.analytics import scd2_build

    rows = [
        # key 1: a, a (no-op), b, b (no-op), a  -> versions a, b, a
        (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "b"), (1, 50, "a"),
        # key 2: single event
        (2, 15, "x"),
        # key 3: every event changes
        (3, 1, "p"), (3, 2, "q"), (3, 3, "r"),
    ]
    df = spark.createDataFrame(rows, "key long, ts long, value string")
    got = sorted(
        ((r["key"], r["version"], r["value"], r["valid_from"],
          r["valid_to"], r["is_current"], r["n_events"])
         for r in scd2_build(df).collect())
    )
    assert got == [
        (1, 1, "a", 10, 30, False, 2),
        (1, 2, "b", 30, 50, False, 2),
        (1, 3, "a", 50, None, True, 1),
        (2, 1, "x", 15, None, True, 1),
        (3, 1, "p", 1, 2, False, 1),
        (3, 2, "q", 2, 3, False, 1),
        (3, 3, "r", 3, None, True, 1),
    ]
    # invariants on a random log
    import random

    rng = random.Random(9)
    big = [
        (k, t, rng.choice("abc"))
        for k in range(5)
        for t in range(0, 40)
    ]
    bdf = spark.createDataFrame(big, "key long, ts long, value string")
    out = scd2_build(bdf).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["key"], []).append(r)
    for k, rs in by_key.items():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r["is_current"] for r in rs) == 1
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["value"] != b["value"]  # collapse worked
        assert sum(r["n_events"] for r in rs) == 40


def test_kappa_agreement_matches_textbook(spark):
    """kappa_agreement == sklearn-style hand formula on a known confusion
    matrix, plus the degenerate single-class NULL case."""
    from osm2geojson_spark.operators.analytics import kappa_agreement

    # classic 2x2 example: a=[yes]*25+[no]*25, agree 20+15
    rows = (
        [("yes", "yes")] * 20
        + [("yes", "no")] * 5
        + [("no", "yes")] * 10
        + [("no", "no")] * 15
    )
    df = spark.createDataFrame(rows, "label_a string, label_b string")
    r = kappa_agreement(df).collect()[0]
    n, agree = 50, 35
    pe_num = 25 * 30 + 25 * 20  # yes marginals 25/30, no 25/20
    assert (r["n_items"], r["n_agree"], r["pe_num"]) == (n, agree, pe_num)
    assert r["kappa_num"] == n * agree - pe_num
    assert r["kappa_den"] == n * n - pe_num
    po, pe = agree / n, pe_num / (n * n)
    assert abs(r["kappa"] - (po - pe) / (1 - pe)) < 1e-12
    # kappa = 0.4 exactly for this textbook example? check hand value
    assert abs(r["kappa"] - 0.4) < 1e-12

    # degenerate: both annotators constant -> den 0 -> NULL kappa
    dfa = spark.createDataFrame(
        [("x", "x")] * 7, "label_a string, label_b string"
    )
    ra = kappa_agreement(dfa).collect()[0]
    assert ra["kappa_den"] == 0 and ra["kappa"] is None


def test_ewma_brute_and_twin(spark):
    """Scalar replay of the K-lag adjusted EWMA + convergence sanity
    (constant series smooths to the constant; window truncation error
    bound)."""
    import duckdb

    from osm2geojson_spark.operators.analytics import (
        ewma_smooth,
        ewma_smooth_sql,
    )

    rows = (
        [("a", t, (t * 37) % 50) for t in range(20)]
        + [("b", t * 10, 42) for t in range(8)]  # gappy t, constant v
    )
    df = spark.createDataFrame(rows, "g string, t long, v long")
    k = 4
    got = {
        (r["g"], r["t"]): (r["num"], r["den"], r["ewma"])
        for r in ewma_smooth(df, k=k).collect()
    }

    for g in ("a", "b"):
        series = sorted((t, v) for gg, t, v in rows if gg == g)
        for i, (t, v) in enumerate(series):
            num = den = 0
            for j in range(min(k, i + 1)):
                wt = 1 << (k - 1 - j)
                num += series[i - j][1] * wt
                den += wt
            assert got[(g, t)] == (num, den, num / den), (g, t)
    # constant series: ewma == the constant everywhere
    for t in range(0, 80, 10):
        assert got[("b", t)][2] == 42.0

    duck = duckdb.connect()
    duck.execute("CREATE TABLE ew (g VARCHAR, t BIGINT, v BIGINT)")
    duck.executemany("INSERT INTO ew VALUES (?, ?, ?)", rows)
    twin = {
        (r[0], r[1]): (r[3], r[4], r[5])
        for r in duck.sql(
            ewma_smooth_sql("SELECT * FROM ew", k=k)
        ).fetchall()
    }
    assert twin == got


def test_ams_f2_sketch_replay_estimate_quality_and_twin(spark):
    """Scalar replay of every sign counter; the median-of-means lands
    within 3/sqrt(cols) relative error on a zipf-ish stream (AMS bound
    is 1/sqrt at 1 std); DuckDB twin bit-identical."""
    import duckdb

    from osm2geojson_spark.operators.sketch import (
        _AMS_COLS,
        _AMS_ROWS,
        _CMS_P,
        _ams_add,
        _ams_mul,
        ams_f2,
        ams_f2_sql,
    )

    # zipf-ish: key k appears ~600/k times
    data = [(k,) for k in range(1, 30) for _ in range(600 // k)]
    df = spark.createDataFrame(data, "k long")
    got = sorted(
        (r["r"], r["row_mean"], r["med_est"], r["f2_exact"], r["err_micro"])
        for r in ams_f2(df, "k").collect()
    )

    # scalar replay
    n = _AMS_ROWS * _AMS_COLS
    counters = [0] * n
    for (k,) in data:
        for j in range(n):
            h = ((k % _CMS_P) * _ams_mul(j) + _ams_add(j)) % _CMS_P
            counters[j] += 1 - 2 * (h % 2)
    from collections import Counter

    f2 = sum(c * c for c in Counter(k for k, in data).values())
    row_means = [
        sum(
            counters[r * _AMS_COLS + c] ** 2 for c in range(_AMS_COLS)
        ) // _AMS_COLS
        for r in range(_AMS_ROWS)
    ]
    med = sorted(row_means)[_AMS_ROWS // 2]
    want = sorted(
        (
            r,
            row_means[r],
            med,
            f2,
            1000000 * abs(med - f2) // f2,
        )
        for r in range(_AMS_ROWS)
    )
    assert got == want
    # estimate quality: within 3x the AMS one-std bound
    assert abs(med - f2) <= 3 * f2 / (_AMS_COLS ** 0.5)

    duck = duckdb.connect()
    duck.execute("CREATE TABLE ams (k BIGINT)")
    duck.executemany("INSERT INTO ams VALUES (?)", data)
    twin = sorted(
        duck.sql(ams_f2_sql("SELECT k FROM ams", "k")).fetchall()
    )
    assert twin == got


def test_compactor_quantiles_replay_exact_small_and_error_bound(spark):
    """Small input (under capacity) returns EXACT weighted quantiles;
    a 2000-item group compacts and lands within the deterministic-odd
    bias bound of the true quantile; full scalar replay of the
    compaction rounds; DuckDB twin bit-identical."""
    import duckdb

    from osm2geojson_spark.operators.sketch import (
        compactor_quantiles,
        compactor_quantiles_sql,
    )

    k, rounds = 8, 8
    small = [("s", i, v) for i, v in enumerate([5, 1, 9, 3, 7])]
    big = [("b", i, (i * 577) % 2000) for i in range(2000)]  # permutation
    data = small + big
    df = spark.createDataFrame(data, "g string, rid long, v long")
    got = {
        (r["g"], r["q_pct"]): r.asDict()
        for r in compactor_quantiles(df, k=k, rounds=rounds).collect()
    }

    # scalar replay of the deterministic compaction
    def replay(items):
        sk = [(0, v, rid) for _, rid, v in items]
        for _ in range(rounds):
            from collections import defaultdict

            bylvl = defaultdict(list)
            for lvl, v, rid in sk:
                bylvl[lvl].append((v, rid))
            nxt = []
            for lvl, vals in bylvl.items():
                vals.sort()
                if len(vals) > k:
                    nxt.extend(
                        (lvl + 1, v, rid)
                        for i, (v, rid) in enumerate(vals)
                        if (i + 1) % 2 == 1
                    )
                else:
                    nxt.extend((lvl, v, rid) for v, rid in vals)
            sk = nxt
        sk.sort(key=lambda t: (t[1], t[2]))
        W = sum(1 << lvl for lvl, _, _ in sk)
        out = {}
        for q in (25, 50, 75):
            target = max(1, (q * W + 99) // 100)
            cum = 0
            for lvl, v, rid in sk:
                cum += 1 << lvl
                if cum >= target:
                    out[q] = (v, W, len(sk))
                    break
        return out

    for g, items in (("s", small), ("b", big)):
        want = replay(items)
        for q, (v, W, n) in want.items():
            r = got[(g, q)]
            assert (r["est_v"], r["w_total"], r["sketch_n"]) == (v, W, n), (
                g,
                q,
            )
    # small group: exact type-1 quantiles of {1,3,5,7,9}
    assert got[("s", 25)]["est_v"] == 3
    assert got[("s", 50)]["est_v"] == 5
    assert got[("s", 75)]["est_v"] == 7
    # big group: within the bias bound of the true quantile
    for q in (25, 50, 75):
        true = q * 2000 // 100
        assert abs(got[("b", q)]["est_v"] - true) <= 2000 * 15 // 100, q

    duck = duckdb.connect()
    duck.execute("CREATE TABLE kq (g VARCHAR, rid BIGINT, v BIGINT)")
    duck.executemany("INSERT INTO kq VALUES (?, ?, ?)", data)
    twin = {
        (r[0], r[1]): r
        for r in duck.sql(
            compactor_quantiles_sql("SELECT * FROM kq", k=k, rounds=rounds)
        ).fetchall()
    }
    for key, r in got.items():
        assert twin[key] == (
            r["g"], r["q_pct"], r["est_v"], r["w_total"], r["sketch_n"],
        )


def test_theil_index_scalar_replay_and_regimes(spark):
    """Theil T vs scalar replay; equal incomes -> 0, a one-holder
    concentration -> ~ln(n)."""
    import duckdb
    import math

    from osm2geojson_spark.operators.analytics import theil_index, theil_index_sql

    rows = []
    for i in range(64):
        rows.append(("equal", 100))
        rows.append(("conc", 6400 if i == 0 else 0))
        rows.append(("mixed", 50 + (i * 37) % 200))

    def brute():
        out = {}
        for g in ("equal", "conc", "mixed"):
            xs = [x for gg, x in rows if gg == g]
            n = len(xs)
            s = sum(xs)
            t = 0
            for x in xs:
                if x > 0 and s > 0:
                    r = float(x) * n / s
                    t += round(r * math.log(r) * 1_000_000)
            out[g] = (n, s, max(t, 0) // n)
        return out

    df = spark.createDataFrame(rows, "g string, x long")
    got = {
        r["g"]: (r["n"], r["total"], r["theil_micro"])
        for r in theil_index(df).collect()
    }
    assert got == brute()
    assert got["equal"][2] == 0
    # all mass on one of 64 holders: T = ln(64) ~ 4.1589
    assert abs(got["conc"][2] - round(math.log(64) * 1_000_000)) < 5
    assert 0 < got["mixed"][2] < got["conc"][2]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE thr (g VARCHAR, x BIGINT)")
    duck.executemany("INSERT INTO thr VALUES (?, ?)", rows)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(theil_index_sql("SELECT * FROM thr")).fetchall()
    }
    assert twin == got


