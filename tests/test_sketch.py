"""Sketch operators (operators/sketch.py): count-min, Bloom, HLL, AMS F2,
compactor quantiles and one-pass table profiling, checked against brute
replays and, where one exists, the DuckDB twin."""

import numpy as np


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
