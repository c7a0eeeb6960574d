"""Dedup + similarity operator tests against NumPy/python oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import hashing as H
from osm2geojson_spark.operators import dedup as DD
from osm2geojson_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumped over the lazy dog"),  # near dup
    (3, "completely different content about spark engines"),
    (4, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG!!"),  # normalizes to 0
    (5, "spark engines process completely different content"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_shingles(text, k=4):
    import re

    t = re.sub(" +", " ", re.sub(r"[^a-z0-9 ]", "", text.lower())).strip()
    return {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}


def test_exact_dedup(docs):
    rows = DD.exact_dedup(docs).collect()
    by_fp = {r["fingerprint"]: (r["keep_id"], r["n_dups"]) for r in rows}
    assert len(by_fp) == 4  # 0/1/4 collapse
    assert (0, 3) in by_fp.values()


def test_ngram_jaccard(docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, tau=0.5).collect()
    }
    # python oracle
    sh = {i: _py_shingles(t) for i, t in DOCS}
    exp = {}
    for a in sh:
        for b in sh:
            if a < b:
                j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
                if j >= 0.5:
                    exp[(a, b)] = round(j, 6)
    assert got == exp
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got  # near dup above tau


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(docs, tau=0.5).collect()
    }
    assert {(0, 1), (0, 4), (1, 4)} <= pairs
    assert (0, 3) not in pairs


def test_simhash_pairs(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(0, 1)] == 0 and pairs[(0, 4)] == 0
    assert (0, 3) not in pairs


def test_hamming_pairs_complete_vs_bruteforce(spark):
    """Pigeonhole block join (8 blocks, hamming<=6) finds EXACTLY the brute
    force pair set over random 64-bit hashes with planted near pairs."""
    rng = np.random.default_rng(11)
    hashes = list(rng.integers(-(1 << 63), 1 << 63, size=40, dtype=np.int64))
    for base, flips in ((0, 1), (2, 3), (4, 6), (7, 7), (8, 9)):
        h = int(hashes[base])
        for b in rng.choice(64, size=flips, replace=False):
            h ^= 1 << int(b)
        hashes.append(np.int64(h))  # near (or exactly-7-away) partner
    df = spark.createDataFrame(
        [(i, int(h)) for i, h in enumerate(hashes)], "id long, hash long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.hamming_pairs(
            df, id_col="id", hash_col="hash", bits=64, n_blocks=8, max_hamming=6
        ).collect()
    }
    want = {}
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin((int(hashes[i]) ^ int(hashes[j])) & ((1 << 64) - 1)).count("1")
            if 1 <= d <= 6:
                want[(i, j)] = d
    assert got == want
    assert len(want) >= 3  # planted pairs actually landed in range


def test_hamming_pairs_rejects_incomplete_blocking():
    with pytest.raises(ValueError):
        DD.hamming_pairs(None, n_blocks=4, max_hamming=6)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 16))
    base[1] = base[0] + 0.01 * rng.normal(size=16)  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_bruteforce_matches_numpy(spark, vectors):
    q = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in cosine_topk_bruteforce(q, vectors, k=3).collect()
    }
    pdf = vectors.orderBy("vec_id").toPandas()
    M = np.array(pdf["embedding"].tolist())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    for qid in (0, 1):
        order = sorted(range(20), key=lambda j: (-sims[qid, j], j))[:3]
        for rank, j in enumerate(order, start=1):
            assert got[(qid, rank)] == j


def test_cosine_lsh_recall(spark, vectors):
    """LSH surfaces genuinely-close neighbours: every query recalls itself
    (identical band keys) and the planted near-dup pair is recovered from
    both sides. Distant 'top-3' members of unrelated random vectors are
    legitimately absent — banded LSH only buckets high-cosine candidates."""
    q = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    approx = {
        (r["qid"], r["vec_id"]) for r in cosine_topk_lsh(q, vectors, k=3).collect()
    }
    for qid in range(5):
        assert (qid, qid) in approx
    assert (0, 1) in approx and (1, 0) in approx


def test_ivf_self_recall_and_subset(spark, vectors):
    """IVF with the seeded codebook: every query recalls itself (its own
    cell is always probed first), the planted near-dup pair is recovered,
    and reported pairs are a subset of the exact brute-force scores."""
    from osm2geojson_spark.operators.similarity import cosine_topk_ivf

    q = vectors.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    rows = cosine_topk_ivf(q, vectors, k=3, dim=16).collect()
    approx = {(r["qid"], r["vec_id"]) for r in rows}
    for qid in range(5):
        assert (qid, qid) in approx
    assert (0, 1) in approx and (1, 0) in approx
    # exactness of the scores it DOES report
    pdf = vectors.orderBy("vec_id").toPandas()
    M = np.array(pdf["embedding"].tolist())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    sims = Mn @ Mn.T
    for r in rows:
        assert abs(r["cos"] - sims[r["qid"], r["vec_id"]]) < 1e-5


def test_ivf_train_recovers_planted_clusters(spark):
    """Lloyd training on 4 well-separated planted clusters: after training,
    each cluster maps to ONE cell, and IVF with the trained codebook at
    n_probe=1 achieves perfect recall@3 vs brute force."""
    from osm2geojson_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        ivf_cell_col,
        ivf_train,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 16)) * 10.0
    rows = []
    for i in range(80):
        c = i % 4
        v = centers[c] + 0.1 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(emb, dim=16, n_centroids=4, iters=8)
    cells = emb.select(
        "vec_id", ivf_cell_col(F.col("embedding"), 16, cents).alias("cell")
    ).collect()
    by_cluster: dict[int, set] = {}
    for r in cells:
        by_cluster.setdefault(r["vec_id"] % 4, set()).add(r["cell"])
    assert all(len(s) == 1 for s in by_cluster.values())
    assert len({next(iter(s)) for s in by_cluster.values()}) == 4

    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    exact = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in cosine_topk_bruteforce(q, emb, k=3).collect()
    }
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in cosine_topk_ivf(q, emb, k=3, dim=16, n_probe=1, cents=cents).collect()
    }
    assert got == exact


def test_embedding_cosine_dups(spark, vectors):
    pairs = {
        (r["id_a"], r["id_b"]) for r in DD.embedding_cosine_dups(vectors, tau=0.99).collect()
    }
    assert (0, 1) in pairs


def test_embedding_lsh_recall_planted(spark):
    """Recall >= 0.95 on planted near-dups (cos ~0.989) vs the brute-force
    oracle; the LSH path must also stay a strict subset of the oracle pairs
    (exact-cosine verification can only remove candidates)."""
    rng = np.random.default_rng(42)
    n, dim = 150, 32
    base = rng.normal(size=(n, dim))
    mut = base + 0.15 * rng.normal(size=(n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)] + [
        (i + 100000, [float(x) for x in mut[i]]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id_a"], r["id_b"])
        for r in DD.embedding_cosine_dups(df, tau=0.9).collect()
    }
    # numpy oracle: all pairs with cos >= 0.9
    M = np.vstack([base, mut])
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = list(range(n)) + [i + 100000 for i in range(n)]
    sims = Mn @ Mn.T
    exp = {
        (ids[a], ids[b])
        for a in range(2 * n)
        for b in range(a + 1, 2 * n)
        if sims[a, b] >= 0.9
    }
    assert got <= exp  # no false positives (exact verify)
    assert len(got) / len(exp) >= 0.95


def test_rh_bucket_spread_on_correlated_embeddings(spark):
    """Correlated, non-centered embeddings (all-positive entries — every
    vector in one orthant, the case that collapsed axis-aligned sign LSH to
    a single bucket) still spread across band buckets: no band puts more
    than 25% of rows in one bucket."""
    from osm2geojson_spark.operators.similarity import DEDUP_BANDS, rh_band_keys

    rng = np.random.default_rng(3)
    vecs = np.abs(rng.normal(size=(400, 32))) + 0.2  # strictly positive dims
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    keyed = df.select(
        F.posexplode(rh_band_keys(F.col("embedding"))).alias("band_idx", "key")
    )
    counts = keyed.groupBy("band_idx", "key").count().collect()
    per_band_max = {}
    for r in counts:
        per_band_max[r["band_idx"]] = max(per_band_max.get(r["band_idx"], 0), r["count"])
    assert len(per_band_max) == DEDUP_BANDS
    for b, mx in per_band_max.items():
        assert mx <= 100, f"band {b} has a bucket with {mx}/400 rows"


def test_duplicate_clusters_label_propagation(spark):
    """Chained components (0-1-2, 3-4, singleton 5) resolve to min-label
    clusters; chains need multiple propagation rounds."""
    from osm2geojson_spark.operators.dedup import duplicate_clusters

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(docs, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}

    # a longer chain exercises >2 iterations
    docs2 = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    chain = spark.createDataFrame([(i, i + 1) for i in range(9)], "id_a long, id_b long")
    got2 = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(docs2, chain).collect()}
    assert got2 == {i: 0 for i in range(10)}


def test_ngram_jaccard_max_df_prunes_candidates_exactly(spark):
    """With a document-frequency cap, boilerplate shingles are pruned from
    the candidate index but reported Jaccard stays EXACT (full shingle
    sets); near-dup pairs sharing rare shingles are still found."""
    boiler = "subscribe to our newsletter today "
    rows = [
        (0, boiler + "alpha beta gamma delta"),
        (1, boiler + "alpha beta gamma delta"),  # exact dup of 0
        (2, boiler + "totally different words here"),
        (3, boiler + "other unrelated content text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(df, tau=0.8).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(df, tau=0.8, max_df=2).collect()
    }
    # the planted pair survives with its exact (unpruned) score
    assert (0, 1) in capped and capped[(0, 1)] == 1.0
    assert capped[(0, 1)] == exact[(0, 1)]
    # capped results are a subset of exact results with identical scores
    for k, v in capped.items():
        assert exact[k] == v


def test_pq_codes_and_adc_match_numpy(spark, vectors):
    """PQ codes = per-subspace argmin of reduced L2 scores against the
    seeded codebook, ADC ranking = LUT-sum ordering — both pinned against
    a NumPy reference on the dim-16 fixture (m=4, dsub=4)."""
    from osm2geojson_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook,
        pq_codes_col,
    )

    dim, m, kc = 16, 4, 16
    cb = pq_codebook(dim, m, kc)
    rows = vectors.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}

    def np_scores(v, mi):
        sub = v[mi * 4 : (mi + 1) * 4]
        return np.array(
            [np.dot(cb[mi, c], cb[mi, c]) - 2.0 * np.dot(sub, cb[mi, c]) for c in range(kc)]
        )

    def np_codes(v):
        return [int(np.argmin(np_scores(v, mi))) for mi in range(m)]

    got_codes = {
        r["vec_id"]: list(r["c"])
        for r in vectors.select(
            "vec_id", pq_codes_col(F.col("embedding"), dim, m, kc, cb).alias("c")
        ).collect()
    }
    assert got_codes == {i: np_codes(v) for i, v in vecs.items()}

    q = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in pq_adc_topk(q, vectors, k=4, dim=dim, m=m, kc=kc, cb=cb).collect()
    }
    want = {}
    for qid in (0, 1):
        luts = [np_scores(vecs[qid], mi) for mi in range(m)]
        adist = {
            tid: sum(luts[mi][np_codes(v)[mi]] for mi in range(m))
            for tid, v in vecs.items()
        }
        order = sorted(adist, key=lambda t: (adist[t], t))[:4]
        for rk, tid in enumerate(order, 1):
            want[(qid, rk)] = tid
    assert got == want


def test_ivfpq_self_retrieval(spark, vectors):
    """IVF x PQ composition: a query that IS a corpus vector lands in its
    own IVF cell with identical codes, so ADC distance ties at the minimum
    and the tid tie-break returns it at rank 1."""
    from osm2geojson_spark.operators.similarity import cosine_topk_ivfpq

    q = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = cosine_topk_ivfpq(q, vectors, k=3, dim=16).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], {})[r["rank"]] = r["vec_id"]
    for qid in (0, 1, 2):
        assert len(by_q[qid]) == 3
        assert qid in by_q[qid].values()
    assert by_q[0][1] == 0 and by_q[2][1] == 2
    # 1 is a planted near-dup of 0: their PQ codes coincide, the ADC tie
    # breaks by tid — so 0 outranks 1 on 1's own query (the dedup-friendly
    # behavior: duplicates collapse onto one representative)
    assert by_q[1][1] == 0 and by_q[1][2] == 1


def test_pq_train_reduces_quantization_error(spark):
    """Lloyd-trained PQ codebook must beat the seeded one on a clustered
    corpus: mean squared reconstruction error strictly drops."""
    from osm2geojson_spark.operators.similarity import (
        pq_codebook,
        pq_codes_col,
        pq_train,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(4, 16)) * 3.0
    data = np.concatenate(
        [c + 0.1 * rng.normal(size=(30, 16)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(len(data))],
        "vec_id long, embedding array<double>",
    )

    def mse(cb):
        rows = df.select(
            "embedding", pq_codes_col(F.col("embedding"), 16, cb=cb).alias("c")
        ).collect()
        err = 0.0
        for r in rows:
            v = np.asarray(r["embedding"])
            rec = np.concatenate([cb[mi, r["c"][mi]] for mi in range(4)])
            err += float(((v - rec) ** 2).sum())
        return err / len(rows)

    seeded = pq_codebook(16)
    trained = pq_train(df, dim=16, iters=3)
    assert mse(trained) < mse(seeded) * 0.5


def test_ivfpq_rerank_improves_or_matches_recall(spark, vectors):
    """Exact rerank of the ADC top-R must rank the true nearest (by
    cosine) first among the surviving candidates — on the near-dup pair,
    qid 1's own vector beats 0 once exact cosine decides."""
    from osm2geojson_spark.operators.similarity import cosine_topk_ivfpq

    q = vectors.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r["qid"], r["rank"]): r["vec_id"]
        for r in cosine_topk_ivfpq(q, vectors, k=3, dim=16, rerank=8).collect()
    }
    assert got[(0, 1)] == 0 and got[(1, 1)] == 1  # exact cosine self-first


def test_residual_pq_beats_plain_pq_quantization(spark):
    """The point of residual coding: on a clustered corpus, quantizing the
    residual against the IVF cell centroid with the SAME 4-bit budget
    yields strictly lower reconstruction error than quantizing raw
    vectors. (Errors evaluated in NumPy from the codes the Spark operators
    assign.)"""
    from osm2geojson_spark.operators.similarity import (
        ivf_cell_col,
        ivf_centroid_matrix,
        ivf_train,
        pq_codebook,
        pq_codes_col,
        pq_residual_consts,
        _pq_residual_scores,
    )

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(4, 16)) * 4.0
    data = np.concatenate([c + 0.2 * rng.normal(size=(40, 16)) for c in centers])
    df = spark.createDataFrame(
        [(i, [float(x) for x in data[i]]) for i in range(len(data))],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_train(df, dim=16, iters=3)
    cb = pq_codebook(16)
    consts = pq_residual_consts(cents, cb)

    cell_col = ivf_cell_col(F.col("embedding"), 16, cents).alias("cell")
    res_codes = []
    for mi in range(4):
        d = F.array(
            *_pq_residual_scores(F.col("embedding"), F.col("cell"), cb, consts, mi)
        )
        res_codes.append((F.array_position(d, F.array_min(d)) - 1).cast("int"))
    rows = (
        df.select("vec_id", "embedding", cell_col)
        .select(
            "vec_id",
            "embedding",
            "cell",
            F.array(*res_codes).alias("rc"),
            pq_codes_col(F.col("embedding"), 16, cb=cb).alias("pc"),
        )
        .collect()
    )

    err_plain = err_res = 0.0
    for r in rows:
        v = np.asarray(r["embedding"])
        rec_p = np.concatenate([cb[mi, r["pc"][mi]] for mi in range(4)])
        err_plain += float(((v - rec_p) ** 2).sum())
        cent = cents[:, r["cell"]]
        rec_r = cent + np.concatenate([cb[mi, r["rc"][mi]] for mi in range(4)])
        err_res += float(((v - rec_r) ** 2).sum())
    assert err_res < err_plain * 0.5, (err_res, err_plain)


def test_pq_gemm_encoder_matches_column_math(spark, vectors):
    from osm2geojson_spark.operators.similarity import (
        pq_codebook,
        pq_codes_col,
        pq_codes_gemm_udf,
    )

    cb = pq_codebook(16)
    udf = pq_codes_gemm_udf(16, cb=cb)
    rows = vectors.select(
        "vec_id",
        pq_codes_col(F.col("embedding"), 16, cb=cb).alias("a"),
        udf(F.col("embedding")).alias("b"),
    ).collect()
    assert rows and all(list(r["a"]) == list(r["b"]) for r in rows)


def test_repeated_ngram_stats_known_answer(spark):
    # d1/d2 share the 5-token run "a b c d e"; d3 is all-unique; d4 too short
    rows = [
        (1, "a b c d e x1 y1"),
        (2, "z2 a b c d e"),
        (3, "p q r s t u v"),
        (4, "one two three"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in DD.repeated_ngram_stats(docs, n=5, min_df=2).collect()}
    # d1: windows at pos 0..2, only pos 0 ("a b c d e") repeats in d2
    assert (got[1]["n_windows"], got[1]["n_repeated"]) == (3, 1)
    assert (got[2]["n_windows"], got[2]["n_repeated"]) == (2, 1)
    assert (got[3]["n_windows"], got[3]["n_repeated"]) == (3, 0)
    assert got[3]["dup_frac"] == 0.0
    assert 4 not in got  # < n tokens -> no windows -> no row
    assert got[1]["dup_frac"] == round(1 / 3, 6)


def test_token_ngram_windows_positions(spark):
    docs = spark.createDataFrame([(7, "w w w w")], "doc_id long, text string")
    wins = DD.token_ngram_windows(docs, 2).collect()
    assert [w["pos"] for w in sorted(wins, key=lambda r: r["pos"])] == [0, 1, 2]
    assert len({w["wh"] for w in wins}) == 1  # identical windows hash equal


def test_decontaminate_flags_exact_window_overlap(spark):
    # bench sentence is 8+ tokens; doc 10 contains it verbatim, doc 11
    # shares only 7 consecutive tokens, doc 12 is unrelated, doc 13 is
    # shorter than n tokens (must still emit a zero-window row).
    bench_sentence = "alpha bravo charlie delta echo foxtrot golf hotel"
    train = spark.createDataFrame(
        [
            (10, f"intro words then {bench_sentence} and a tail"),
            (11, "alpha bravo charlie delta echo foxtrot golf DIFFERENT end"),
            (12, "nothing in common with the benchmark at all here folks"),
            (13, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, f"question: {bench_sentence} answer: yes")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in DD.decontaminate(train, bench, n=8).collect()}
    assert set(out) == {10, 11, 12, 13}
    assert out[10]["contaminated"] and out[10]["n_contaminated"] >= 1
    assert not out[11]["contaminated"]
    assert not out[12]["contaminated"]
    assert out[13]["n_windows"] == 0 and not out[13]["contaminated"]

    cleaned = DD.decontaminate_clean(train, bench, n=8)
    assert {r["doc_id"] for r in cleaned.collect()} == {11, 12, 13}


def test_decontaminate_min_hits_threshold(spark):
    # doc shares exactly ONE 8-token window with the benchmark: flagged at
    # min_hits=1, clean at min_hits=2.
    s = "one two three four five six seven eight"
    train = spark.createDataFrame(
        [(1, f"{s} unrelated suffix tokens here")], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(0, s)], "doc_id long, text string")
    r1 = DD.decontaminate(train, bench, n=8, min_hits=1).collect()[0]
    r2 = DD.decontaminate(train, bench, n=8, min_hits=2).collect()[0]
    assert r1["n_contaminated"] == 1 and r1["contaminated"]
    assert not r2["contaminated"]


def test_decontaminate_plan_broadcasts_benchmark(spark):
    train = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body number "), F.col("id")).alias("text"),
    )
    bench = spark.createDataFrame(
        [(0, "a benchmark question with at least eight whitespace tokens")],
        "doc_id long, text string",
    )
    plan = DD.decontaminate(train, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    # benchmark window set must arrive via broadcast; the window hash must
    # never be a shuffle (SortMergeJoin) key
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_crossmodal_chain_clusters_across_modalities(spark):
    """An image-dup edge A~B chained to a caption-dup edge B~C must land
    all three in one cluster — the diameter-2 case a per-modality pass
    can't resolve (the q_crossmodal_dedup composition)."""
    import numpy as np

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators import multimodal as MM

    px_a = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 5 % 251)
    px_c = ((np.arange(64, dtype=np.uint8).reshape(8, 8)[::-1] * 11 + 3) % 251).astype(np.uint8)
    rows = [
        ("imgA", IC.encode(px_a, "rawz"), 8, 8, "rawz", "cap one"),
        ("imgB", IC.encode(px_a, "rawz"), 8, 8, "rawz", "cap two"),  # image-dup of A
        ("imgC", IC.encode(px_c, "rawz"), 8, 8, "rawz", "cap two"),  # caption-dup of B
        ("imgD", IC.encode(px_c[::-1].copy(), "rawz"), 8, 8, "rawz", "cap three"),
    ]
    imgs = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string"
    )
    dh = MM.dhash_features(imgs)
    img_star = dh.groupBy("dhash").agg(F.min("image_id").alias("id_a"))
    img_edges = (
        dh.join(img_star, "dhash")
        .filter(F.col("image_id") != F.col("id_a"))
        .select("id_a", F.col("image_id").alias("id_b"))
    )
    cap_star = imgs.groupBy("caption").agg(F.min("image_id").alias("id_a"))
    cap_edges = (
        imgs.join(cap_star, "caption")
        .filter(F.col("image_id") != F.col("id_a"))
        .select("id_a", F.col("image_id").alias("id_b"))
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in DD.duplicate_clusters(
            imgs.select(F.col("image_id").alias("doc_id")),
            img_edges.unionByName(cap_edges),
        ).collect()
    }
    assert out["imgA"] == out["imgB"] == out["imgC"] == "imgA"
    assert out["imgD"] == "imgD"  # distinct pixels, unique caption -> singleton


def test_scrub_repeated_spans_interval_union(spark):
    """The running-union algebra must equal a brute interval union, across
    overlapping, adjacent, disjoint and absent spans."""
    docs = [
        # d0/d1 share "a b c d e f" (spans overlap within each doc)
        (0, "a b c d e f x1 y1 z1 w1 v1"),
        (1, "q2 a b c d e f r2 s2 t2"),
        # d2/d3 share two DISJOINT repeated regions
        (2, "m n o p q gap1 gap2 gap3 gap4 u v w x y"),
        (3, "m n o p q other5 other6 other7 u v w x y tail3"),
        # d4: no cross-doc repeats
        (4, "entirely unique tokens here nine ten eleven twelve"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in DD.scrub_repeated_spans(df, n=5, min_df=2).collect()
    }
    # brute oracle
    import collections
    toks = {d: t.split() for d, t in docs}
    wins = collections.defaultdict(set)
    for d, t in toks.items():
        for p in range(len(t) - 4):
            wins[" ".join(t[p : p + 5])].add(d)
    for d, t in toks.items():
        covered = set()
        for p in range(len(t) - 4):
            if len(wins[" ".join(t[p : p + 5])]) >= 2:
                covered.update(range(p, p + 5))
        r = got[d]
        assert r["n_tokens"] == len(t)
        assert r["removed_tokens"] == len(covered), (d, r, sorted(covered))
        assert r["kept_tokens"] == len(t) - len(covered)
    assert got[4]["removed_tokens"] == 0


def test_ivf_train_job_count(spark):
    """ivf_train must launch O(iters) Spark jobs TOTAL: one TakeOrdered
    init sample + one groupBy-collect per Lloyd round — never a
    per-centroid corpus scan (the old init cost n_centroids full scans
    before Lloyd started; round-3 verdict ask #5)."""
    from osm2geojson_spark.operators.similarity import ivf_train

    rng = np.random.default_rng(5)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(400)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = emb.persist()
    emb.count()  # materialize outside the job group
    sc = spark.sparkContext
    sc.setJobGroup("ivf-train-count", "job-count pin")
    try:
        cents = ivf_train(emb, dim=8, n_centroids=16, iters=3)
    finally:
        sc.setJobGroup(None, None)
    assert cents.shape == (8, 16)
    jobs = sc.statusTracker().getJobIdsForGroup("ivf-train-count")
    # 1 init + 3 Lloyd rounds (+ slack for AQE sub-jobs); the old code's
    # floor was n_centroids + 1 + iters = 20
    assert 0 < len(jobs) <= 8, jobs
    emb.unpersist()


def test_rh_band_keys_match_sql_twin_epsilon_guarded(spark):
    """Engine-parity for the LSH band keys, epsilon-guarded (round-3
    ADVICE follow-through): vectors are kept only when EVERY plane dot is
    at least 1e-9 in magnitude (NumPy exact-order replay) — outside that
    band both engines' <=8-ulp kernel rounding provably cannot flip a
    sign, so key equality is by construction, not luck. Near-zero dots
    are excluded here and quantified in the module docstring."""
    import duckdb

    from osm2geojson_spark.operators.similarity import (
        DEDUP_BANDS,
        rh_band_key_sql,
        rh_band_keys,
        rh_plane_matrix,
    )

    dim = 16
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((60, dim)).astype(np.float32).astype(np.float64)
    r = rh_plane_matrix(dim)
    dots = vecs @ r
    keep = (np.abs(dots) > 1e-9).all(axis=1)
    assert keep.sum() >= 50  # the guard should exclude ~nothing
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60) if keep[i]]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r_["vec_id"]: r_["keys"]
        for r_ in df.select(
            "vec_id", rh_band_keys(F.col("embedding")).alias("keys")
        ).collect()
    }
    con = duckdb.connect()
    for i, v in rows:
        lits = ", ".join(repr(x) for x in v)
        exprs = ", ".join(
            rh_band_key_sql(f"[{lits}]", b, dim) for b in range(DEDUP_BANDS)
        )
        want = list(con.execute(f"SELECT {exprs}").fetchone())
        assert got[i] == want, i


def test_scrub_spans_text_matches_accounting_and_replay(spark):
    """scrub_spans_text (the APPLIED removal) must (a) drop exactly
    removed_tokens tokens per doc vs scrub_repeated_spans' accounting and
    (b) equal a pure-python replay of the token-index filter."""
    import hashlib

    from osm2geojson_spark.operators.dedup import (
        scrub_repeated_spans,
        scrub_spans_text,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (0, f"{shared} one two three four five six"),
        (1, f"intro words here {shared} tail piece"),
        (2, "completely unrelated text with no repeats at all here okay"),
        (3, "tiny doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    acct = {
        r["doc_id"]: r for r in scrub_repeated_spans(df, n=5, min_df=2).collect()
    }
    got = {
        r["doc_id"]: r["scrubbed_text"]
        for r in scrub_spans_text(df, n=5, min_df=2).collect()
    }
    # python replay of the engine tokenizer (text.normalize_col: lowercase,
    # STRIP non-[a-z0-9 ], collapse spaces — then split)
    import re as _re

    def toks(s):
        s = _re.sub(r"[^a-z0-9 ]", "", s.lower())
        s = _re.sub(r" +", " ", s).strip()
        return s.split(" ") if s else []

    all_toks = {d: toks(t) for d, t in docs}
    win_docs: dict[tuple, set] = {}
    for d, ts in all_toks.items():
        for p in range(max(0, len(ts) - 4)):
            win_docs.setdefault(tuple(ts[p : p + 5]), set()).add(d)
    for d, ts in all_toks.items():
        hit = [
            p
            for p in range(max(0, len(ts) - 4))
            if len(win_docs[tuple(ts[p : p + 5])]) >= 2
        ]
        keep = [
            ts[i]
            for i in range(len(ts))
            if not any(p <= i < p + 5 for p in hit)
        ]
        assert got[d] == " ".join(keep), d
        assert len(toks(got[d])) == acct[d]["kept_tokens"], d


def test_semantic_dedup_matches_bruteforce(spark):
    """SemDeDup == the NumPy drop rule: same-cell lower-id clustermate with
    cosine >= tau kills a row; cell = first-max argmax over the seeded
    centroid scores (the exact rule the oracle SQL mirrors)."""
    import numpy as np

    from osm2geojson_spark.operators.dedup import semantic_dedup
    from osm2geojson_spark.operators.similarity import ivf_centroid_matrix

    dim, tau = 16, 0.92
    rng = np.random.default_rng(41)
    base = rng.normal(size=(30, dim))
    planted = base[:10] * rng.uniform(1.01, 1.5, size=(10, 1))  # cos == 1
    near = base[10:18] + rng.normal(scale=0.05, size=(8, dim))  # cos ~0.99
    vecs = np.vstack([base, planted, near])
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = ivf_centroid_matrix(dim)
    scores = (vecs @ cents) / np.sqrt((cents**2).sum(axis=0))
    cell = scores.argmax(axis=1)  # np argmax = first max, same as the op
    norm = np.sqrt((vecs**2).sum(axis=1))
    dropped = set()
    for a in range(len(vecs)):
        for b in range(len(vecs)):
            if b < a and cell[a] == cell[b]:
                if vecs[a] @ vecs[b] / (norm[a] * norm[b]) >= tau:
                    dropped.add(a)
                    break
    want = set(range(len(vecs))) - dropped

    got = {r["vec_id"] for r in semantic_dedup(df, dim=dim, tau=tau).collect()}
    assert got == want
    assert dropped  # the planted copies really exercised the drop path
    plan = semantic_dedup(df, dim=dim, tau=tau)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_duplicate_clusters_shortcut_contracts_chains(spark):
    """Pointer doubling resolves a 64-vertex path in <= 8 rounds (2^8 >> 63)
    where plain hop propagation needs 63; both agree with plain on a random
    graph."""
    import numpy as np

    from osm2geojson_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    chain_pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(
            chain, chain_pairs, max_iter=8, shortcut=True
        ).collect()
    }
    assert got == {i: 0 for i in range(64)}
    # plain hop at the same budget must NOT have converged (sanity that the
    # chain is genuinely deep and the speedup is the shortcut's)
    plain = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters(chain, chain_pairs, max_iter=8).collect()
    }
    assert plain != got

    rng = np.random.default_rng(3)
    n = 60
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    es = {(int(a), int(b)) for a, b in rng.integers(0, n, (50, 2)) if a != b}
    pairs = spark.createDataFrame(
        [(a, b) for a, b in sorted(es)], "id_a long, id_b long"
    )
    a = duplicate_clusters(docs, pairs, shortcut=True).collect()
    b = duplicate_clusters(docs, pairs).collect()
    assert {(r["doc_id"], r["cluster_id"]) for r in a} == {
        (r["doc_id"], r["cluster_id"]) for r in b
    }


def test_mutual_knn_clusters_matches_brute(spark):
    """mutual_knn_clusters == a Python replay (rank, mutual filter,
    union-find) on three separated gaussian blobs plus one outlier —
    blobs resolve to three clusters, the outlier stays a singleton even
    though it has one-sided edges INTO a blob (the hub property)."""
    import numpy as np

    from osm2geojson_spark.operators.similarity import mutual_knn_clusters

    rng = np.random.default_rng(33)
    blobs = [
        rng.normal((6, 0, 0), 0.2, (12, 3)),
        rng.normal((0, 6, 0), 0.2, (12, 3)),
        rng.normal((0, 0, 6), 0.2, (12, 3)),
    ]
    outlier = np.array([[3.0, 3.0, 3.0]])
    vecs = np.concatenate(blobs + [outlier])
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    k = 4
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in mutual_knn_clusters(df, k=k).collect()
    }

    n = len(vecs)
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    knn = {
        i: set(
            sorted((j for j in range(n) if j != i), key=lambda j: (-cos[i, j], j))[:k]
        )
        for i in range(n)
    }
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        for j in knn[i]:
            if i in knn[j]:
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    want = {i: min(j for j in range(n) if find(j) == find(i)) for i in range(n)}
    assert got == want
    # no cluster ever SPANS blobs (mutual edges need agreement on both
    # ends — one-sided edges into another blob's hub never merge); the
    # outlier stays a singleton despite its one-sided edges into blobs
    blob_of = lambda i: i // 12 if i < 36 else 3
    for cid in set(got.values()):
        members = [i for i, c in got.items() if c == cid]
        assert len({blob_of(i) for i in members}) == 1, (cid, members)
    assert got[n - 1] == n - 1
    assert any(
        sum(1 for c in got.values() if c == cid) >= 3 for cid in set(got.values())
    )


# ------------------------------------------------------------- winnowing


def _py_winnow(text, k=5, w=4):
    """Scalar replay of winnow_fingerprints: md5-based gram hashes,
    window min with rightmost tie, distinct (pos, hash)."""
    import hashlib
    import re

    t = re.sub(" +", " ", re.sub(r"[^a-z0-9 ]", "", text.lower())).strip()
    if len(t) < k + w - 1 or len(t) > (1 << 21) - 1:
        return set()
    hs = []
    for i in range(len(t) - k + 1):
        g = t[i : i + k]
        h60 = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
        hs.append((i + 1, h60 % (1 << 30)))
    out = set()
    for j in range(w - 1, len(hs)):
        window = hs[j - w + 1 : j + 1]
        mn = min(h for _, h in window)
        pos = max(p for p, h in window if h == mn)  # rightmost tie
        out.add((pos, mn))
    return out


def test_winnow_matches_scalar_replay(spark, docs):
    got = {
        (r["doc_id"], r["pos"], r["gram_hash"])
        for r in DD.winnow_fingerprints(docs).collect()
    }
    want = set()
    for did, text in DOCS:
        for pos, h in _py_winnow(text):
            want.add((did, pos, h))
    assert got == want
    assert len(got) > 0


def test_winnow_theorem_shared_substring(spark):
    """Any shared substring of length >= k + w - 1 (= 8) must yield at
    least one shared (hash) fingerprint between the two documents."""
    shared = "zqxjkvbwp"  # 9 chars, no spaces, survives normalization
    df = spark.createDataFrame(
        [
            (1, "aaaa" + shared + "bbbb"),
            (2, "cccccc" + shared + "dddddd"),
        ],
        "doc_id long, text string",
    )
    rows = DD.winnow_fingerprints(df).collect()
    h1 = {r["gram_hash"] for r in rows if r["doc_id"] == 1}
    h2 = {r["gram_hash"] for r in rows if r["doc_id"] == 2}
    assert h1 & h2


def test_winnow_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "abcdefg")], "doc_id long, text string")
    # len 7 < k + w - 1 = 8 -> no full window, no fingerprints
    assert DD.winnow_fingerprints(df).count() == 0


def test_canonical_pick_keeps_best_and_accounts_drops(spark):
    """Designed clusters: quality argmax wins, quality ties go to the
    smallest id, singletons keep themselves with zero drops; twin
    byte-for-byte."""
    import duckdb

    from osm2geojson_spark.operators.dedup import (
        canonical_pick,
        canonical_pick_sql,
    )

    docs = [(1, 50), (2, 80), (3, 80), (4, 10), (9, 33)]
    clusters = [(1, 1), (2, 1), (3, 1), (4, 4), (9, 9)]
    ddf = spark.createDataFrame(docs, "doc_id long, q long")
    cdf = spark.createDataFrame(clusters, "doc_id long, cluster_id long")
    got = {
        r["cluster_id"]: (r["keep_id"], r["keep_q"], r["n_members"], r["n_dropped"])
        for r in canonical_pick(ddf, cdf).collect()
    }
    assert got[1] == (2, 80, 3, 2)  # q-tie between 2 and 3 -> smaller id
    assert got[4] == (4, 10, 1, 0)
    assert got[9] == (9, 33, 1, 0)

    duck = duckdb.connect()
    duck.execute("CREATE TABLE cpd (doc_id BIGINT, q BIGINT)")
    duck.executemany("INSERT INTO cpd VALUES (?,?)", docs)
    duck.execute("CREATE TABLE cpc (doc_id BIGINT, cluster_id BIGINT)")
    duck.executemany("INSERT INTO cpc VALUES (?,?)", clusters)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            canonical_pick_sql("SELECT * FROM cpd", "SELECT * FROM cpc")
        ).fetchall()
    }
    assert twin == got


def test_boilerplate_lines_share_gate_and_twin(spark):
    """Distinct-doc counting (repeats within one doc count once), the
    min_df AND share gates both bind, unique content never flags; twin
    bit-identical."""
    import duckdb

    from osm2geojson_spark.operators.dedup import (
        boilerplate_lines,
        boilerplate_lines_sql,
    )

    rows = []
    # 30 docs: all carry a unique body; docs 0-9 share footer A (33% —
    # passes both gates); docs 0-1 share footer B (2 docs: passes
    # min_df=2 but NOT the 1/5 share gate); doc 5 repeats footer A twice
    for d in range(30):
        rows.append((d, 0, f"unique body {d}"))
        if d < 10:
            rows.append((d, 1, "footer A"))
        if d < 2:
            rows.append((d, 2, "footer B"))
    rows.append((5, 3, "footer A"))
    df = spark.createDataFrame(rows, "doc_id long, line_no long, line string")
    got = {
        (r["doc_id"], r["line_no"]): r.asDict()
        for r in boilerplate_lines(df, min_df=2, num=1, den=5).collect()
    }

    assert len(got) == len(rows)
    for (d, ln), r in got.items():
        assert r["n_docs"] == 30
        if r["line"] == "footer A":
            assert r["df_docs"] == 10 and r["is_boiler"]
        elif r["line"] == "footer B":
            assert r["df_docs"] == 2 and not r["is_boiler"]  # share gate
        else:
            assert r["df_docs"] == 1 and not r["is_boiler"]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE bl (doc_id BIGINT, line_no BIGINT, line VARCHAR)")
    duck.executemany("INSERT INTO bl VALUES (?, ?, ?)", rows)
    twin = {
        (r[0], r[1]): r
        for r in duck.sql(
            boilerplate_lines_sql("SELECT * FROM bl", min_df=2, num=1, den=5)
        ).fetchall()
    }
    for k, r in got.items():
        assert twin[k] == (
            r["doc_id"], r["line_no"], r["line"], r["df_docs"],
            r["n_docs"], r["is_boiler"],
        )


def test_tfidf_cosine_pairs_brute_and_planted(spark):
    """Scalar tf·idf replay (grams, dyadic idf, dot/norms, pinned
    cosine); a planted near-duplicate pair scores high, disjoint texts
    emit nothing; idf-0 grams are excluded from norms AND candidates;
    DuckDB twin bit-identical."""
    import math

    import duckdb

    from osm2geojson_spark.operators.dedup import (
        tfidf_cosine_pairs,
        tfidf_cosine_pairs_sql,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog repeatedly"),
        (2, "the quick brown fox jumps over the lazy cat repeatedly"),
        (3, "completely different words entirely unrelated content"),
        (4, "zzz qqq xxx vvv kkk mmm"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in tfidf_cosine_pairs(df, tau_micro=0, k=5).collect()
    }

    # scalar replay
    import collections
    import re

    def norm(t):
        # mirror TXT.normalize_col: lower + collapse whitespace (the
        # fixture is already lowercase single-spaced)
        return re.sub(r"\s+", " ", t.lower()).strip()

    tf = collections.defaultdict(collections.Counter)
    for d, t in rows:
        tn = norm(t)
        for i in range(max(len(tn) - 4, 1)):
            tf[d][tn[i : i + 5]] += 1
    N = len(rows)
    dfq = collections.Counter()
    for d in tf:
        for g in tf[d]:
            dfq[g] += 1
    w = {
        d: {
            g: c * (len(bin(N // dfq[g])) - 3)
            for g, c in tf[d].items()
            if len(bin(N // dfq[g])) - 3 > 0  # bin() has '0b' prefix
        }
        for d in tf
    }
    n2 = {d: sum(x * x for x in wd.values()) for d, wd in w.items()}
    for a in range(1, 5):
        for b in range(a + 1, 5):
            dot = sum(w[a][g] * w[b][g] for g in w[a] if g in w[b])
            if dot == 0:
                assert (a, b) not in got
                continue
            cm = math.floor(1e6 * dot / math.sqrt(n2[a] * n2[b]))
            r = got[(a, b)]
            assert (r["dot"], r["n2_a"], r["n2_b"], r["cos_micro"]) == (
                dot, n2[a], n2[b], cm,
            ), (a, b)
    # planted near-dup ranks well clear of the unrelated pairs; the
    # absolute value is moderated by idf itself — in a 4-doc corpus the
    # pair's UNIQUE grams (df=1, idf=2) outweigh its SHARED grams
    # (df=2, idf=1), which is exactly tf·idf doing its job
    assert got[(1, 2)]["cos_micro"] > 500000
    assert (1, 4) not in got and (2, 4) not in got  # nothing shared

    duck = duckdb.connect()
    duck.execute("CREATE TABLE tc (doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO tc VALUES (?, ?)", rows)
    twin = {
        (r[0], r[1]): r
        for r in duck.sql(
            tfidf_cosine_pairs_sql("SELECT * FROM tc", tau_micro=0, k=5)
        ).fetchall()
    }
    for kk, r in got.items():
        assert twin[kk] == (
            r["id_a"], r["id_b"], r["dot"], r["n2_a"], r["n2_b"],
            r["cos_micro"],
        )


def test_containment_pairs_quote_case_and_twin(spark):
    """The quote case Jaccard misses: a short excerpt inside a long
    doc passes containment one-directionally; scalar set replay of
    inter/sizes/gates; symmetric near-dups pass both ways; twin
    bit-identical."""
    import duckdb

    from osm2geojson_spark.functions import hashing as HH
    from osm2geojson_spark.operators.dedup import (
        containment_pairs,
        containment_pairs_sql,
    )

    long_doc = " ".join(f"tok{i:03d}" for i in range(60))
    excerpt = " ".join(f"tok{i:03d}" for i in range(20, 30))
    rows = [
        (1, long_doc),
        (2, excerpt),                      # contained in 1
        (3, long_doc + " extra tail bit"), # near-dup of 1, both ways
        (4, "wholly unrelated text qqq zzz vvv"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in containment_pairs(df, tau_num=4, tau_den=5).collect()
    }

    # scalar replay with the engine's own shingle definition
    k = HH.SHINGLE_K
    sets = {
        d: {t[i : i + k] for i in range(max(len(t) - k + 1, 1))}
        for d, t in rows
    }
    expected = {}
    for a in range(1, 5):
        for b in range(a + 1, 5):
            inter = len(sets[a] & sets[b])
            ain = inter * 5 >= len(sets[a]) * 4
            bin_ = inter * 5 >= len(sets[b]) * 4
            if ain or bin_:
                expected[(a, b)] = (
                    inter, len(sets[a]), len(sets[b]), ain, bin_,
                )
    assert {
        k2: (v["inter"], v["sz_a"], v["sz_b"], v["a_in_b"], v["b_in_a"])
        for k2, v in got.items()
    } == expected
    # the quote case: excerpt (2) contained in long doc (1), not vice versa
    assert got[(1, 2)]["b_in_a"] and not got[(1, 2)]["a_in_b"]
    # symmetric near-dup passes the a->b direction (a is the prefix)
    assert got[(1, 3)]["a_in_b"]
    assert not any(4 in p for p in got)

    duck = duckdb.connect()
    duck.execute("CREATE TABLE cp (doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO cp VALUES (?, ?)", rows)
    twin = {
        (r[0], r[1]): r
        for r in duck.sql(
            containment_pairs_sql("SELECT * FROM cp")
        ).fetchall()
    }
    for k2, r in got.items():
        assert twin[k2] == (
            r["id_a"], r["id_b"], r["inter"], r["sz_a"], r["sz_b"],
            r["a_in_b"], r["b_in_a"],
        )


def test_soundex_classic_vectors_and_blocks(spark):
    """soundex_expr reproduces the NARA test vectors (incl. the h/w
    transparency and vowel-break rules) and equals the SQL twin."""
    import duckdb

    from osm2geojson_spark.functions.text import soundex_expr, soundex_sql
    from osm2geojson_spark.operators.dedup import phonetic_blocks, phonetic_blocks_sql

    cases = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Jackson": "J250", "Washington": "W252",
        "Lee": "L000", "Gutierrez": "G362", "Wu": "W000",
        "o'Brien": "O165", "  ": "", "123": "",
    }
    df = spark.createDataFrame([(w,) for w in cases], "word string")
    got = {
        r["word"]: r["code"]
        for r in df.select("word", soundex_expr(F.col("word")).alias("code")).collect()
    }
    assert got == cases

    duck = duckdb.connect()
    for w, want in cases.items():
        lit = "'" + w.replace("'", "''") + "'"
        assert duck.sql(f"SELECT {soundex_sql(lit)}").fetchone()[0] == want

    # blocking: Robert/Rupert share a block; Lee is alone and filtered
    words = [("Robert",), ("Rupert",), ("robert",), ("Lee",), ("Ashcraft",), ("Ashcroft",)]
    wdf = spark.createDataFrame(words, "word string")
    blocks = {
        r["code"]: (r["n_words"], r["n_rows"], r["w_min"], r["w_max"])
        for r in phonetic_blocks(wdf).collect()
    }
    assert blocks == {
        "R163": (2, 3, "robert", "rupert"),
        "A261": (2, 2, "ashcraft", "ashcroft"),
    }
    duck.execute("CREATE TABLE phw (word VARCHAR)")
    duck.executemany("INSERT INTO phw VALUES (?)", words)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(phonetic_blocks_sql("SELECT word FROM phw")).fetchall()
    }
    assert twin == blocks


def test_lcs_block_similarity_brute_and_twin(spark):
    """Vectorized LCS recurrence vs difflib-free scalar DP; twin."""
    import duckdb

    from osm2geojson_spark.operators.dedup import (
        lcs_block_similarity,
        lcs_block_similarity_sql,
    )

    rows = [
        ("b1", "kitten"), ("b1", "sitting"), ("b1", "kitten"),
        ("b1", "sitten"), ("b2", "abcdef"), ("b2", "zabxcy"),
        ("b2", "xyz"),
        # non-ASCII: the DP must run over codepoints, not UTF-8 bytes
        # (multi-byte chars would otherwise break the array shapes)
        ("b3", "café"), ("b3", "cafés"), ("b3", "caféteria"),
        ("b3", "日本語テスト"), ("b3", "日本語のテスト"),
    ]

    def lcs(s, t):
        la, lb = len(s), len(t)
        dp = [[0] * (lb + 1) for _ in range(la + 1)]
        for i in range(1, la + 1):
            for j in range(1, lb + 1):
                dp[i][j] = max(
                    dp[i - 1][j],
                    dp[i][j - 1],
                    dp[i - 1][j - 1] + (s[i - 1] == t[j - 1]),
                )
        return dp[la][lb]

    def brute():
        import collections

        cnt = collections.Counter(rows)
        out = {}
        vals = sorted({(b, w) for b, w in rows})
        for (b1, w1) in vals:
            for (b2, w2) in vals:
                if b1 == b2 and w1 < w2:
                    l = lcs(w1, w2)
                    out[(b1, w1, w2)] = (
                        len(w1), len(w2), l,
                        2 * 1_000_000 * l // (len(w1) + len(w2)),
                        cnt[(b1, w1)] * cnt[(b2, w2)],
                    )
        return out

    df = spark.createDataFrame(rows, "blk string, w string")
    got = {
        (r["blk"], r["wa"], r["wb"]): (
            r["la"], r["lb"], r["lcs_len"], r["sim_micro"], r["n_pairs"]
        )
        for r in lcs_block_similarity(df).collect()
    }
    assert got == brute()
    # classic: lcs(kitten, sitting) = 4 ("ittn"); dup count multiplies
    assert got[("b1", "kitten", "sitting")][2] == 4
    assert got[("b1", "kitten", "sitting")][4] == 2

    duck = duckdb.connect()
    duck.execute("CREATE TABLE lcsw (blk VARCHAR, w VARCHAR)")
    duck.executemany("INSERT INTO lcsw VALUES (?, ?)", rows)
    twin = {
        (r[0], r[1], r[2]): tuple(r[3:])
        for r in duck.sql(
            lcs_block_similarity_sql("SELECT blk, w FROM lcsw")
        ).fetchall()
    }
    assert twin == got


def test_novelty_scores_brute_and_duplicate_collapse(spark):
    """Novelty vs scalar replay; an exact duplicate pair scores 0,
    a unique doc scores near 1e6."""
    import duckdb
    import re

    from osm2geojson_spark.functions.hashing import SHINGLE_K
    from osm2geojson_spark.operators.dedup import novelty_scores, novelty_scores_sql

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (3, "completely different content about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog today"),  # near-dup
    ]

    def shingles(text):
        t = re.sub("[^a-z0-9 ]", "", text.lower())
        t = re.sub(" +", " ", t).strip()
        k = SHINGLE_K
        n = max(len(t) - k + 1, 1)
        return {t[i : i + k] for i in range(n)}

    def brute():
        sh = {d: shingles(t) for d, t in docs}
        import collections

        df = collections.Counter()
        for d, s in sh.items():
            for g in s:
                df[g] += 1
        out = {}
        for d, s in sh.items():
            novel = sum(1 for g in s if df[g] == 1)
            out[d] = (len(s), novel, 1_000_000 * novel // len(s))
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_micro"])
        for r in novelty_scores(df).collect()
    }
    assert got == brute()
    assert got[1][2] == 0 and got[2][2] == 0  # exact dup: nothing novel
    assert got[3][2] > 900_000  # unique doc: nearly all novel
    assert 0 < got[4][2] < 500_000  # near-dup: only the tail is novel

    duck = duckdb.connect()
    duck.execute("CREATE TABLE nvd (doc_id BIGINT, text VARCHAR)")
    duck.executemany("INSERT INTO nvd VALUES (?, ?)", docs)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            novelty_scores_sql("SELECT doc_id, text FROM nvd")
        ).fetchall()
    }
    assert twin == got


def test_lev2_join_complete_vs_brute(spark):
    """Depth-2 FastSS candidates are COMPLETE: results equal the brute
    all-pairs lev<=2 set, including pure-insertion*2 and mixed edits."""
    import duckdb
    import itertools

    from osm2geojson_spark.operators.dedup import lev2_join, lev2_join_sql

    words = [
        (1, "spark"), (2, "spork"), (3, "sprk"), (4, "sparkle"),
        (5, "shark"), (6, "spark"), (7, "park"), (8, "zzzz"),
        (9, "sp"), (10, "s"),
    ]

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev = dp[0]
            dp[0] = i
            for j, cb in enumerate(b, 1):
                cur = dp[j]
                dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
                prev = cur
        return dp[-1]

    want = {}
    for (ia, wa), (ib, wb) in itertools.combinations(words, 2):
        d = lev(wa, wb)
        if d <= 2:
            want[(ia, ib)] = d

    df = spark.createDataFrame(words, "rid long, s string")
    got = {
        (r["a"], r["b"]): r["lev"] for r in lev2_join(df, "rid", "s").collect()
    }
    assert got == want
    # the lev-2 cases a depth-1 join would miss
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 2  # two insertions
    assert got[(2, 7)] == 2  # substitution + deletion

    duck = duckdb.connect()
    duck.execute("CREATE TABLE l2w (rid BIGINT, s VARCHAR)")
    duck.executemany("INSERT INTO l2w VALUES (?, ?)", words)
    twin = {
        (r[0], r[1]): r[2]
        for r in duck.sql(
            lev2_join_sql("SELECT rid, s FROM l2w", "rid", "s")
        ).fetchall()
    }
    assert twin == got


def test_gemm_collect_paths_guarded(spark):
    """The driver-collect GEMM kNN counts first and raises with
    ANN-compose guidance past max_rows instead of collecting an
    unbounded corpus to the driver."""
    import pytest

    from osm2geojson_spark.operators.similarity import gemm_knn_edges

    emb = spark.range(10).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS DOUBLE), 1.0d) AS embedding",
        "CAST(id % 2 AS BIGINT) AS label",
    )
    with pytest.raises(ValueError, match="ann_"):
        gemm_knn_edges(emb, k=3, max_rows=5)
    # within the cap the path still runs
    assert gemm_knn_edges(emb, k=2, max_rows=10).count() == 20


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
