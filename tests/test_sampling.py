"""Deterministic sampling + chunking (operators/sampling.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.operators import sampling as SMP


def test_stratified_sample_gate_is_deterministic(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(1000)], "k long, lang string"
    )
    a = SMP.stratified_sample(df, "lang", {"en": 0.5}, "k", default_rate=0.1)
    rows1 = sorted(r["k"] for r in a.collect())
    rows2 = sorted(r["k"] for r in a.collect())  # re-execution: same rows
    assert rows1 == rows2 and rows1
    # python replay of the gate
    import math

    def keep(i):
        h = (i * 2654435761 + 12345) % 1_000_003
        rate = 0.5 if i % 3 else 0.1
        return h < int(rate * 1_000_003)

    assert rows1 == [i for i in range(1000) if keep(i)]
    # rates land near nominal
    n_en = sum(1 for i in rows1 if i % 3)
    assert 0.4 < n_en / (1000 * 2 / 3) < 0.6


def test_chunk_documents_windows_cover_exactly(spark):
    """Every chunk is text[start:start+C]; consecutive chunks overlap by
    exactly `overlap`; concatenating de-overlapped chunks rebuilds the
    document; short docs yield one chunk of themselves."""
    texts = ["x" * 0, "ab", "a" * 200, "a" * 201, "".join(chr(97 + i % 26) for i in range(557))]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = SMP.chunk_documents(df, chunk_chars=200, overlap=40)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_text"]))
    for did, text in enumerate(texts):
        chunks = [t for _, t in sorted(got[did])]
        stride = 160
        expect = []
        n = max(1, -(-(len(text) - 40) // stride)) if len(text) > 40 else 1
        for i in range(n):
            expect.append(text[i * stride : i * stride + 200])
        assert chunks == expect, did
        # reconstruction
        rebuilt = chunks[0] + "".join(c[40:] for c in chunks[1:])
        assert rebuilt == text, did


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        SMP.chunk_documents(df, chunk_chars=10, overlap=10)


def test_chunk_plan_has_no_shuffle(spark):
    df = spark.createDataFrame([(1, "a" * 500)], "doc_id long, text string")
    plan = SMP.chunk_documents(df, 100, 20)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_greedy_invariants(spark):
    """Every bin except possibly the last per shard is 'closed' (adding
    the next doc would exceed budget); no bin except oversized singletons
    exceeds budget; bins are contiguous in order; oversized docs are
    alone only when they arrive at a non-empty bin boundary."""
    rows = [(i, i % 3, [30, 80, 200, 700, 10, 45][i % 6]) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, shard long, tokens long")
    out = SMP.pack_sequences(df, budget=256).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append((r["doc_id"], r["tokens"], r["bin"]))
    for shard, docs in by_shard.items():
        docs.sort()
        running, b = 0, 0
        for did, tok, got_bin in docs:
            if running > 0 and running + tok > 256:
                b += 1
                running = 0
            running += tok
            assert got_bin == b, (shard, did)
        # bins contiguous 0..b
        assert sorted({x[2] for x in docs}) == list(range(b + 1))


def test_coreset_flattens_dense_clusters(spark):
    # dense group (40 rows) and sparse group (2): cap keeps <= 3 of each,
    # identical survivors on a re-run (deterministic reservoir)
    from osm2geojson_spark.operators.sampling import cap_per_group

    rows = [(i, 0) for i in range(40)] + [(100 + i, 1) for i in range(2)]
    df = spark.createDataFrame(rows, "vec_id long, cell int")
    pick = lambda: sorted(r["vec_id"] for r in cap_per_group(df, "cell", 3, "vec_id").collect())
    first = pick()
    assert len([v for v in first if v < 100]) == 3
    assert len([v for v in first if v >= 100]) == 2
    assert first == pick()


def test_sample_hash_total_over_int64(spark):
    """Negative keys and keys beyond ~3.5e9 used to escape the gate (the
    sign-preserving-% / int64-wrap defect, round-3 ADVICE): the gate must
    land in [0, MOD) for ALL int64 keys, match the DuckDB twin exactly,
    and a rate-0 stratum must drop negative-key rows too."""
    import duckdb

    keys = [-5, -1_000_004, 0, 7, 2**62, -(2**62), 3_500_000_001, 2**63 - 1]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["h"]
        for r in df.select(
            "k", SMP.sample_hash(F.col("k")).alias("h")
        ).collect()
    }
    for k in keys:
        h = got[k]
        assert 0 <= h < 1_000_003, (k, h)
        # python % is the mathematical mod — the replay is the spec
        assert h == (k % 1_000_003 * 2654435761 + 12345) % 1_000_003, k
        (dh,) = duckdb.sql(f"SELECT {SMP.sample_hash_sql(str(k))}").fetchone()
        assert dh == h, k
    df2 = spark.createDataFrame([(k, "x") for k in keys], "k long, s string")
    assert SMP.stratified_sample(df2, "s", {"x": 0.0}, "k").count() == 0


def test_theta_distinct_exact_survivors_and_accuracy(spark):
    import duckdb

    from osm2geojson_spark.operators.sampling import (
        _H_ADD,
        _H_MOD,
        _H_MUL,
    )
    from osm2geojson_spark.operators.sketch import (
        theta_distinct,
        theta_distinct_sql,
    )

    # two groups with known distinct counts and heavy duplication
    rows = [("a", i % 4000) for i in range(20000)] + [
        ("b", i % 37) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    tau = _H_MOD // 8
    got = {
        r["g"]: (r["n_sampled"], r["est"])
        for r in theta_distinct(df, ["g"], "v", tau).collect()
    }
    # brute: survivors = distinct values with hash < tau, est scaled
    for g, n_true in (("a", 4000), ("b", 37)):
        vals = {v for gg, v in rows if gg == g}
        surv = {
            v
            for v in vals
            if ((v % _H_MOD + _H_MOD) % _H_MOD * _H_MUL + _H_ADD) % _H_MOD
            < tau
        }
        est = round(len(surv) * _H_MOD / tau, 3)
        assert got[g] == (len(surv), est)
        # relative accuracy ~1/sqrt(n_sampled): assert it only where the
        # survivor count is large enough to mean anything (group a
        # samples ~500 values; group b's ~5 survivors are exact-but-noisy)
        if n_true >= 1000:
            assert abs(got[g][1] - n_true) / n_true < 0.2

    vals_sql = ", ".join(f"('{g}', {v})" for g, v in rows)
    twin = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            theta_distinct_sql(
                f"SELECT g, v FROM (VALUES {vals_sql}) t(g, v)",
                ["g"], "v", tau,
            )
        ).fetchall()
    }
    assert twin == got


def test_cdc_chunks_matches_brute_and_is_edit_robust(spark):
    """cdc_chunks == a per-doc Python rolling-hash replay, and the CDC
    property holds: inserting one character early in a document leaves
    every boundary after the next surviving cut point unchanged
    (relative to the end) — the reason dedup uses CDC over fixed
    windows."""
    from osm2geojson_spark.operators.sampling import CDC_M, CDC_P, cdc_chunks

    W, MASK = 8, 63

    def brute(text):
        codes = [ord(c) for c in text]
        cuts = []
        for i in range(len(codes)):
            if i < W - 1:
                continue
            h = sum(
                codes[i - k] * pow(CDC_P, k, CDC_M) for k in range(W)
            ) % CDC_M
            if h % (MASK + 1) == 0:
                cuts.append(i)
        chunks = []
        start = 0
        for c in cuts:
            chunks.append((start, c - start + 1))
            start = c + 1
        if start < len(codes):
            chunks.append((start, len(codes) - start))
        return chunks

    base = (
        "the quick brown fox jumps over the lazy dog and then some filler "
        "content to make several chunk boundaries appear in this document "
        "0123456789 abcdefghijklmnopqrstuvwxyz repeated words words words"
    ) * 3
    edited = base[:10] + "X" + base[10:]
    docs = [(1, base), (2, edited), (3, ""), (4, "short")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_seq"], r["start"], r["chunk_chars"])
        )
    for d in got:
        got[d].sort()
    for doc_id, text in docs:
        want = [(i, s, n) for i, (s, n) in enumerate(brute(text))]
        assert got.get(doc_id, []) == want, doc_id
    assert 3 not in got  # empty doc: no rows
    # coverage: chunks tile the document exactly
    for doc_id, text in docs:
        if text:
            assert sum(n for _, _, n in got[doc_id]) == len(text)
            assert got[doc_id][0][1] == 0
    # edit robustness: boundary positions measured FROM THE END converge
    b1 = [len(base) - s for _, s, _ in got[1][1:]]
    b2 = [len(edited) - s for _, s, _ in got[2][1:]]
    tail = min(len(b1), len(b2)) - 1
    assert tail >= 1 and b1[-tail:] == b2[-tail:]


def test_cdc_chunks_arrow_equals_relational(spark):
    """The Arrow byte-kernel CDC form is row-for-row identical to the
    relational (oracle) form on mixed-length random ASCII docs, including
    cut-at-last-char and shorter-than-window edge cases."""
    import random

    from osm2geojson_spark.operators.sampling import cdc_chunks, cdc_chunks_arrow

    rng = random.Random(3)
    docs = [(0, ""), (1, "tiny"), (2, "exactly8")]
    alpha = "abcdefghij klmnop qrstuvwxyz 0123456789."
    for i in range(3, 40):
        docs.append((i, "".join(rng.choice(alpha) for _ in range(rng.randint(1, 400)))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rel = sorted(map(tuple, cdc_chunks(df).collect()))
    arr = sorted(map(tuple, cdc_chunks_arrow(df).collect()))
    assert rel == arr and len(rel) > 40


def test_token_budget_fill_matches_brute_water_level(spark):
    """token_budget_fill == the direct definition (max tau with
    sum min(c, tau) <= B; leftover to largest capped domains) across
    budgets spanning tiny, mid-segment, boundary and over-total."""
    import random

    from osm2geojson_spark.operators.sampling import token_budget_fill

    rng = random.Random(23)
    doms = [(i, rng.randint(1, 500)) for i in range(40)]
    # add ties and one giant domain
    doms += [(100, 500), (101, 500), (102, 9000)]
    total = sum(c for _, c in doms)
    df = spark.createDataFrame(doms, "domain long, tokens long")

    def brute(budget):
        if budget >= total:
            return {d: (c, False) for d, c in doms}
        tau = 0
        while sum(min(c, tau + 1) for _, c in doms) <= budget:
            tau += 1
        s = sum(min(c, tau) for _, c in doms)
        leftover = budget - s
        capped = sorted(
            [(d, c) for d, c in doms if c > tau], key=lambda t: (-t[1], t[0])
        )
        extra = {d for d, _ in capped[:leftover]}
        return {
            d: (min(c, tau) + (1 if d in extra else 0), c > tau)
            for d, c in doms
        }

    for budget in (0, 17, 40, 1500, 5000, total - 1, total, total + 99):
        got = {
            r["domain"]: (r["alloc"], r["capped"])
            for r in token_budget_fill(df, budget).collect()
        }
        want = brute(budget)
        assert got == want, budget
        assert sum(a for a, _ in got.values()) == min(budget, total), budget


def test_coverage_select_greedy_brute_and_twin(spark):
    """Serial greedy replay in pure Python (sets) + twin equality; the
    fixture has a designed optimal-greedy divergence so tie/ordering
    rules are actually exercised."""
    import duckdb

    from osm2geojson_spark.operators.sampling import (
        coverage_select,
        coverage_select_sql,
    )

    rows = [
        (0, "alpha beta gamma delta"),          # 4 tokens
        (1, "alpha beta"),                       # subset of 0
        (2, "epsilon zeta eta"),                 # disjoint 3
        (3, "gamma delta epsilon"),              # straddles
        (4, "theta iota"),                       # disjoint 2
        (5, "theta iota"),                       # duplicate of 4 (tie)
        (6, ""),                                 # empty doc
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["step"], r["doc_id"], r["gain"], r["covered_total"])
        for r in coverage_select(docs, k=5).orderBy("step").collect()
    ]

    # pure-python greedy
    toksets = {
        d: set(t for t in txt.split() if t) for d, txt in rows
    }
    covered: set = set()
    picked: list[int] = []
    want = []
    for step in range(1, 6):
        gains = {
            d: len(s - covered)
            for d, s in toksets.items()
            if d not in picked and len(s - covered) > 0
        }
        if not gains:
            break
        doc = min(gains, key=lambda d: (-gains[d], d))
        covered |= toksets[doc]
        picked.append(doc)
        want.append((step, doc, gains[doc], len(covered)))
    assert got == want
    # tie rule: docs 4 and 5 are identical -> 4 must be picked, 5 never
    assert 4 in [w[1] for w in want] and 5 not in [g[1] for g in got]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    twin = [
        tuple(r)
        for r in duck.sql(
            coverage_select_sql("SELECT doc_id, text FROM docs", k=5)
        ).fetchall()
    ]
    assert sorted(twin) == sorted(got)


def test_l_diversity_replay_and_homogeneity_gate(spark):
    """Designed cells: big-but-homogeneous fails (the attack k-anon
    misses), small-but-diverse fails on k, big-and-diverse passes;
    dict replay of shares; twin byte-for-byte."""
    import duckdb

    from osm2geojson_spark.operators.sampling import (
        l_diversity,
        l_diversity_sql,
    )

    rows = []
    rows += [(1, "flu")] * 10                      # homogeneous: k ok, l=1
    rows += [(2, "flu"), (2, "cold")]              # diverse but k=2
    rows += [(3, "flu")] * 4 + [(3, "cold")] * 3   # passes both
    df = spark.createDataFrame(rows, "cell_id long, s string")
    got = {r["cell_id"]: r.asDict()
           for r in l_diversity(df, k_min=5, l_min=2).collect()}

    assert got[1]["ok"] is False and got[1]["l_distinct"] == 1
    assert got[1]["top_share_micro"] == 1_000_000
    assert got[2]["ok"] is False and got[2]["k"] == 2
    assert got[3]["ok"] is True
    assert got[3]["top_share_micro"] == 4 * 1_000_000 // 7

    duck = duckdb.connect()
    duck.execute("CREATE TABLE ldt (cell_id BIGINT, s VARCHAR)")
    duck.executemany("INSERT INTO ldt VALUES (?,?)", rows)
    twin = {
        r[0]: tuple(r)
        for r in duck.sql(
            l_diversity_sql("SELECT * FROM ldt", k_min=5, l_min=2)
        ).fetchall()
    }
    for c, g in got.items():
        assert twin[c] == (c, g["k"], g["l_distinct"],
                           g["top_share_micro"], g["ok"]), c


def test_poisson_bootstrap_ci_scalar_replay_and_coverage(spark):
    """Replicate machinery vs scalar replay; the CI brackets the point
    mean and is wider for the noisier group."""
    import duckdb
    import math

    from osm2geojson_spark.operators.sampling import (
        POIS1_THRESHOLDS,
        _H_ADD,
        _H_MOD,
        _H_MUL,
        poisson_bootstrap_ci,
        poisson_bootstrap_ci_sql,
    )

    rows = []
    for i in range(200):
        rows.append(("tight", i, 1000 + (i * 7) % 11))
        rows.append(("wide", 1000 + i, ((i * 37) % 100) * 40))
    B = 32

    def h(key):
        k = ((key % _H_MOD) + _H_MOD) % _H_MOD
        return (k * _H_MUL + _H_ADD) % _H_MOD

    def brute():
        out = {}
        for g in ("tight", "wide"):
            pts = [(k, x) for gg, k, x in rows if gg == g]
            ms = []
            for b in range(B):
                sw = swx = 0
                for k, x in pts:
                    u = h(k * B + b)
                    w = sum(1 for t in POIS1_THRESHOLDS if u >= t)
                    sw += w
                    swx += w * x
                if sw > 0:
                    ms.append(1_000_000 * swx // sw)
            ms.sort()
            beff = len(ms)
            lo = ms[math.ceil(5 * beff / 100) - 1]
            hi = ms[math.ceil(95 * beff / 100) - 1]
            n = len(pts)
            mean = 1_000_000 * sum(x for _, x in pts) // n
            out[g] = (n, mean, lo, hi, beff)
        return out

    df = spark.createDataFrame(rows, "g string, k long, x long")
    got = {
        r["g"]: (r["n"], r["mean_micro"], r["ci_lo_micro"], r["ci_hi_micro"], r["b_eff"])
        for r in poisson_bootstrap_ci(df, b_reps=B).collect()
    }
    assert got == brute()
    for g in got:
        n, mean, lo, hi, beff = got[g]
        assert lo <= mean <= hi
        assert beff == B
    # noisier group -> wider interval
    assert (got["wide"][3] - got["wide"][2]) > (got["tight"][3] - got["tight"][2])

    duck = duckdb.connect()
    duck.execute("CREATE TABLE pbr (g VARCHAR, k BIGINT, x BIGINT)")
    duck.executemany("INSERT INTO pbr VALUES (?, ?, ?)", rows)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            poisson_bootstrap_ci_sql("SELECT * FROM pbr", b_reps=B)
        ).fetchall()
    }
    assert twin == got


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
