"""Deduplication operators for training-data pipelines (documents table).

Four families, each a standalone DataFrame transform with a DuckDB-parity
formula (see __spark_entry__ for the oracle SQL):

* exact            — hash-groupBy on the normalized-text fingerprint,
                     keep the minimum doc id per group (one shuffle).
* minhash LSH      — shingle -> 16 minhashes -> 4 bands -> band-bucket
                     self-join -> exact-Jaccard verification. The band join
                     is the only candidate generator: candidate count scales
                     with collision rate, not n^2.
* simhash          — 32-bit simhash; near-dup = hamming distance <= 3,
                     blocked by the 4-byte pigeonhole (pairs within hamming 3
                     must share one of 4 blocks) so the self-join is
                     block-bucketed, never all-pairs.
* n-gram Jaccard   — exact Jaccard >= tau via shingle-explode + equi-join +
                     per-pair intersection counts (the verifier of the LSH
                     path, also usable standalone at moderate scale).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import hashing as H
from ..functions import text as TXT


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, keep_id, n_dups) — one row per distinct normalized text."""
    return (
        df.select(F.col(id_col), TXT.fingerprint_col(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh) exploded distinct shingles + per-doc set size."""
    return df.select(
        F.col(id_col),
        F.explode(H.shingles_col(F.col(text_col))).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    tau: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with shingle-set Jaccard >= tau.

    Join on shingle — the candidate space is the inverted index, partitioned
    by shingle; per-pair counts aggregate map-side before the final filter.

    ``max_df`` is the scale knob: the inverted-index self-join is O(df^2)
    per shingle, and planet-scale corpora have boilerplate shingles with
    df in the millions. With ``max_df`` set, shingles whose document
    frequency exceeds it are dropped from the CANDIDATE index only (a
    broadcast-joined heavy-hitter list, same shape as plans/skew.py), and
    the Jaccard is then recomputed EXACTLY over the full shingle sets via a
    candidate-restricted join — so reported scores are exact; the only
    approximation is recall for pairs whose every shared shingle is
    ultra-frequent, which at tau-high similarity requires the documents to
    be made almost entirely of boilerplate. Default None = fully exact.
    """
    ex = shingle_sets(df, id_col, text_col)
    # set size as a narrow projection (F.size of the distinct-shingle array)
    # — no explode + groupBy shuffle just to count
    sizes = df.select(
        F.col(id_col), F.size(H.shingles_col(F.col(text_col))).alias("sz")
    )
    index = ex
    if max_df is not None:
        heavy = (
            ex.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        index = ex.join(F.broadcast(heavy), "sh", "left_anti")
    a = index.select(F.col(id_col).alias("id_a"), "sh")
    b = index.select(F.col(id_col).alias("id_b"), "sh")
    if max_df is None:
        inter = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        cand = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # exact intersection over the FULL (unpruned) shingle sets,
        # restricted to candidate pairs — the minhash-verify pattern
        a_sh = ex.select(F.col(id_col).alias("id_a"), "sh")
        b_sh = ex.select(F.col(id_col).alias("id_b"), "sh")
        inter = (
            cand.join(a_sh, "id_a")
            .join(b_sh, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    j = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= tau)
    )
    return j.select("id_a", "id_b", "jaccard")


def minhash_lsh_pairs(
    df: DataFrame,
    tau: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, jaccard) — LSH candidates verified with exact Jaccard.

    Band-bucket join: each doc emits N_BANDS keys; only same-bucket pairs are
    candidates. At 10^12 rows the band join shuffles on the band hash — a
    uniform key unless texts are duplicated, which is exactly the skew the
    salting helper (plans/skew.py) handles.
    """
    sig = H.minhash_signature(df, id_col, text_col)  # narrow: no shuffle
    # one posexplode of the band-key array (the old two-unpivot formulation
    # re-executed the signature subtree per join side); the tiny melted
    # relation is localCheckpoint'ed so both band-join sides and AQE read
    # one materialization — lineage truncation, released with the plan
    melted = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*H.band_hash_col())).alias("band_idx", "band_key"),
    ).localCheckpoint(eager=False)
    a = melted.select(F.col(id_col).alias("id_a"), "band_idx", "band_key")
    b = melted.select(F.col(id_col).alias("id_b"), "band_idx", "band_key")
    cand = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # candidate-restricted exact-Jaccard verify, fused: each side joins its
    # full shingle SET as an array column and the intersection is computed
    # with array_intersect in codegen — no shingle explode, no per-pair
    # count aggregation, two AQE-broadcastable joins instead of four. Only
    # candidate pairs ever carry array payloads — never all-pairs.
    sets_ = df.select(F.col(id_col), H.shingles_col(F.col(text_col)).alias("_sh"))
    va = sets_.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("sa"))
    vb = sets_.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("sb"))
    verified = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("inter", F.size(F.array_intersect(F.col("sa"), F.col("sb"))))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.size("sa") + F.size("sb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= tau)
    )
    return verified.select("id_a", "id_b", "jaccard")


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, hamming) for simhash hamming distance <= max_hamming."""
    sh = H.simhash(df, id_col, text_col)
    blocks = [
        ((F.col("simhash") / F.lit(1 << (8 * i))).cast("long") % F.lit(256)).alias(f"blk{i}")
        for i in range(4)
    ]
    with_blocks = sh.select(id_col, "simhash", *blocks)
    melted = with_blocks.unpivot(
        ids=[id_col, "simhash"],
        values=[f"blk{i}" for i in range(4)],
        variableColumnName="blk_idx",
        valueColumnName="blk_val",
    )
    a = melted.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "blk_idx", "blk_val"
    )
    b = melted.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "blk_idx", "blk_val"
    )
    return (
        a.join(b, ["blk_idx", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "hash",
    bits: int = 64,
    n_blocks: int = 8,
    max_hamming: int = 6,
) -> DataFrame:
    """(id_a, id_b, hamming) for integer-hash pairs with 1 <= hamming <=
    ``max_hamming`` — the generic pigeonhole band join behind simhash,
    generalized to any hash width (64-bit dHash image near-dup being the
    second user). A pair within hamming k shares at least one of n_blocks
    exact blocks whenever n_blocks > k, so the self-join is block-bucketed
    and candidate volume scales with collision rate, never n^2. Run an
    exact-hash dedup first and feed one representative per hash — identical
    hashes otherwise explode quadratically inside their bucket."""
    if n_blocks <= max_hamming:
        raise ValueError("pigeonhole completeness needs n_blocks > max_hamming")
    width = bits // n_blocks
    mask = (1 << width) - 1
    blocks = [
        F.shiftrightunsigned(F.col(hash_col), width * i)
        .bitwiseAND(F.lit(mask))
        .alias(f"blk{i}")
        for i in range(n_blocks)
    ]
    melted = df.select(F.col(id_col), F.col(hash_col), *blocks).unpivot(
        ids=[id_col, hash_col],
        values=[f"blk{i}" for i in range(n_blocks)],
        variableColumnName="blk_idx",
        valueColumnName="blk_val",
    )
    a = melted.select(
        F.col(id_col).alias("id_a"), F.col(hash_col).alias("h_a"), "blk_idx", "blk_val"
    )
    b = melted.select(
        F.col(id_col).alias("id_b"), F.col(hash_col).alias("h_b"), "blk_idx", "blk_val"
    )
    return (
        a.join(b, ["blk_idx", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
        )
        .filter((F.col("hamming") >= 1) & (F.col("hamming") <= max_hamming))
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    shortcut: bool = False,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-dup pairs via
    iterative min-label propagation; cluster_id = the smallest doc id
    reachable (the canonical survivor a dedup pipeline keeps).

    Each iteration is one shuffle (labels join edges -> min per vertex) and
    the frontier check early-exits once no label changes — O(diameter)
    iterations, so near-dup clusters (tiny diameters) converge in 1-3.

    ``shortcut=True`` adds pointer doubling: after the hop, every vertex
    also adopts ITS LABEL'S label (one more equi-join per round), so label
    paths contract exponentially — O(log diameter) rounds. Use it when
    components can be long chains (vectorize_stitched's planetary regions,
    percolating DBSCAN output); for near-dup clusters (diameter 1-3) the
    extra join per round costs more than it saves. Correctness is
    unchanged: a label always names a vertex of the same component, and
    both the hop and the shortcut are monotone min-merges, so the
    fixpoint is the component minimum either way."""
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = docs.select(F.col(id_col).alias("v"), F.col(id_col).alias("lbl"))
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["v"])
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        hopped = labels.join(
            neighbor_min, labels["v"] == neighbor_min["src"], "left"
        ).select(
            "v", F.least(F.col("lbl"), F.coalesce("nlbl", "lbl")).alias("lbl")
        )
        if shortcut:
            l2 = labels.select(
                F.col("v").alias("_lv"), F.col("lbl").alias("_llbl")
            )
            hopped = hopped.join(
                l2, hopped["lbl"] == l2["_lv"], "left"
            ).select(
                "v",
                F.least(F.col("lbl"), F.coalesce("_llbl", "lbl")).alias("lbl"),
            )
        new_labels = hopped.localCheckpoint(eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.v") == F.col("o.v"))
            .filter(F.col("n.lbl") != F.col("o.lbl"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("v").alias(id_col), F.col("lbl").alias("cluster_id"))


def embedding_cosine_dups(
    emb: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) near-duplicate embedding pairs, cosine >= tau.

    Banded random-hyperplane LSH (similarity.rh_band_keys: DEDUP_BANDS bands
    x RH_BITS seeded random projections): candidates are pairs sharing any
    band key — a band-bucket equi-join exactly like the minhash path, never
    all-pairs — then exact-cosine verified. Random projections mix all
    dimensions, so correlated / non-centered embeddings still spread over
    2^RH_BITS buckets per band (pinned by the bucket-cap test). Band-key
    skew only arises from exactly-repeated vectors; the salted-join helper
    (plans/skew.py) or AQE skew-join covers that. Recall on planted
    near-dups is measured >= 0.95 against the brute-force oracle in tests;
    per-pair band match is p^RH_BITS with p = 1 - theta/pi."""
    from .similarity import DEDUP_BANDS, cosine_col, rh_band_keys

    if n_bands is None:
        n_bands = DEDUP_BANDS
    e = emb.select(F.col(id_col), F.col(vec_col))
    keyed = e.select(
        F.col(id_col),
        F.posexplode(F.slice(rh_band_keys(F.col(vec_col)), 1, n_bands)).alias(
            "band_idx", "key"
        ),
    )
    a = keyed.select(F.col(id_col).alias("id_a"), "band_idx", "key")
    b = keyed.select(F.col(id_col).alias("id_b"), "band_idx", "key")
    cand = (
        a.join(b, ["band_idx", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # verify against the candidate set only (vectors joined back per side so
    # the band join never carries the embedding payload)
    va = e.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = e.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos", cosine_col(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= tau)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


def semantic_dedup(
    emb: DataFrame,
    dim: int,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the LAION/DataComp
    semantic-dedup stage): k-means-cluster the embedding space, then inside
    each cluster drop every row that has a LOWER-ID clustermate with cosine
    >= ``tau``; the lowest id of each semantic group is the canonical
    survivor (same convention as duplicate_clusters). Returns the surviving
    rows of ``emb`` unchanged.

    Unlike embedding_cosine_dups (LSH bands -> exact verify, recall < 1 by
    construction) this is the paper's partition-quadratic design: the
    centroid assignment is pure JVM column math (similarity.ivf_cell_col),
    the intra-cluster pair generation is ONE equi-join on the cluster id —
    never a global cross join — and the quadratic term is bounded by the
    cluster size, which the codebook size controls (the paper runs 50k
    clusters over 5B embeddings for the same reason). At 100 TB: vectors
    shuffle once on cluster id; mega-cluster skew is handled upstream by
    enlarging the codebook (ivf_train on a corpus sample) or routing hot
    cells through plans/skew.salted_join; the verify dot products stay in
    whole-stage codegen (zip_with + fold, no Python)."""
    from .similarity import cosine_col, ivf_cell_col, ivf_centroid_matrix

    if cents is None:
        cents = ivf_centroid_matrix(dim)
    cells = emb.select(
        F.col(id_col), F.col(vec_col)
    ).withColumn("_cell", ivf_cell_col(F.col(vec_col), dim, cents))
    a = cells.select(
        F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"), "_cell"
    )
    b = cells.select(
        F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"), "_cell"
    )
    dropped = (
        a.join(b, "_cell")
        .filter(F.col("_idb") < F.col("_ida"))
        .filter(cosine_col(F.col("_va"), F.col("_vb")) >= F.lit(tau))
        .select(F.col("_ida").alias(id_col))
        .distinct()
    )
    return emb.join(dropped, id_col, "left_anti")


# ------------------------------------------------- repeated token n-grams


def token_ngram_windows(
    df: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text",
    outer: bool = False,
) -> DataFrame:
    """(id, pos, wh) — every position-indexed n-token window of the
    normalized text, keyed by its 60-bit md5 hash (TXT.md5_long, so the
    shuffle key is 8 bytes, never the window string; DuckDB computes the
    identical hash).  Duplicates within a doc are kept — positions matter
    for the contamination fraction.  Docs shorter than ``n`` tokens emit no
    rows (``outer=True``: one all-null row instead, so every document
    survives a downstream per-doc rollup).  Pure column math: tokenize ->
    transform(sequence) -> posexplode, all whole-stage codegen, no shuffle."""
    toks = H.tokens_col(F.col(text_col))
    wins = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: TXT.md5_long(F.concat_ws(" ", F.slice(toks, i + F.lit(1), n))),
        ),
    ).otherwise(F.array().cast("array<long>"))
    ex = F.posexplode_outer(wins) if outer else F.posexplode(wins)
    return df.select(F.col(id_col), ex.alias("pos", "wh"))


def repeated_ngram_stats(
    df: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_windows, n_repeated, dup_frac) — per-document boilerplate /
    cross-document contamination pressure, the span-level dedup signal of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499): a window is *repeated* when it appears in
    >= ``min_df`` distinct documents, and ``dup_frac`` is the fraction of
    the doc's window positions covered by a repeated window.

    Plan (two shuffles, both on the 8-byte window hash):
      1. distinct-doc frequency per window — ``countDistinct`` with
         map-side partial aggregation; heavy boilerplate windows are
         exactly the rows this agg compacts best.
      2. left join of the exploded windows against the (filtered, usually
         tiny at high min_df) repeated-window set, then a per-doc rollup —
         combiner-friendly count/sum.
    At 100 TB the repeated set (df >= min_df) is the long tail's complement;
    if it still overflows the broadcast budget the join falls back to the
    hash-shuffle path on the same 8-byte key (AQE decides)."""
    wins = token_ngram_windows(df, n, id_col, text_col)
    rep = (
        wins.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("wh", F.lit(1).alias("_rep"))
    )
    return (
        wins.join(rep, "wh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce(F.col("_rep"), F.lit(0))).cast("long").alias("n_repeated"),
        )
        .withColumn("dup_frac", F.round(F.col("n_repeated") / F.col("n_windows"), 6))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """(id, n_windows, n_contaminated, contaminated) — benchmark
    decontamination: a training document is *contaminated* when at least
    ``min_hits`` of its n-token window positions also occur anywhere in the
    benchmark corpus (the n-gram-overlap rule of Brown et al. 2020 appendix
    C, standard in open-data pipelines: Dolma, FineWeb).

    Plan — built for a 100 TB train side against a small benchmark side:
    the benchmark window set is reduced to DISTINCT 8-byte hashes and
    BROADCAST (every public eval suite together is a few MB of hashes), so
    the train side is one scan -> codegen window hashing -> broadcast hash
    join -> per-doc rollup.  Exactly ONE shuffle, keyed by ``id_col`` for
    the rollup with map-side partial aggregation; the window hash is never
    a shuffle key.  Train docs shorter than ``n`` tokens still emit their
    row (outer explode: zero windows, never contaminated), so the output
    has exactly one row per train document."""
    wins = token_ngram_windows(train, n, id_col, text_col, outer=True)
    bench = (
        token_ngram_windows(benchmark, n, id_col, bench_text_col)
        .select("wh")
        .distinct()
        .select("wh", F.lit(1).alias("_hit"))
    )
    hits = wins.join(F.broadcast(bench), "wh", "left")
    return (
        hits.groupBy(id_col)
        .agg(
            F.count("wh").alias("n_windows"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .withColumn("contaminated", F.col("n_contaminated") >= F.lit(min_hits))
    )


def decontaminate_clean(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Train rows with contaminated documents removed — the filtering
    companion of :func:`decontaminate`.  The flagged-id set (usually a tiny
    fraction of train) feeds a left-anti join on ``id_col``; AQE broadcasts
    it when it fits, else the anti-join shuffles on the id key."""
    bad = (
        decontaminate(train, benchmark, n, min_hits, id_col, text_col, bench_text_col)
        .filter(F.col("contaminated"))
        .select(id_col)
    )
    return train.join(bad, id_col, "left_anti")


def scrub_spans_text(
    df: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, scrubbed_text) — the REMOVAL step of Lee et al. 2022 APPLIED:
    every token covered by an n-token window occurring in >= ``min_df``
    distinct documents is dropped, and the surviving tokens are rejoined
    with single spaces. Output is over NORMALIZED tokens (the engine's
    tokenizer spec, shared with the SQL twin); byte-level whitespace
    reconstruction is deliberately out of scope — training corpora are
    re-tokenized downstream anyway. ``scrub_repeated_spans`` is the
    accounting twin: len(tokens) - len(scrubbed tokens) equals its
    removed_tokens exactly (pinned in tests).

    Plan: the same two window-hash shuffles as the accounting op, one
    per-doc collect of repeated positions (the contamination TAIL — only
    hit positions shuffle, never the text), then a single JVM
    filter-by-index over the token array: token i is dropped iff some hit
    p has p <= i < p+n (``F.exists`` over the per-doc hit list; for
    pathologically contaminated docs where hits ~ tokens this is O(T*H) —
    pre-merge the hit list into disjoint intervals at ingest if a corpus
    lives in that regime)."""
    wins = token_ngram_windows(df, n, id_col, text_col)
    rep = (
        wins.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("wh")
    )
    hits = wins.join(rep, "wh").select(id_col, "pos")
    ps_df = hits.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )
    toks = H.tokens_col(F.col(text_col))
    ps = F.coalesce(F.col("ps"), F.array().cast("array<integer>"))
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            ps, lambda p: (p <= i) & (i < p + F.lit(n))
        ),
    )
    return (
        df.join(ps_df, id_col, "left")
        .select(
            F.col(id_col),
            F.concat_ws(" ", kept).alias("scrubbed_text"),
        )
    )


def scrub_repeated_spans(
    df: DataFrame,
    n: int = 5,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, removed_tokens, kept_tokens) — EXACT-SUBSTRING scrub
    accounting (the removal step of Lee et al. 2022, arXiv:2107.06499,
    where repeated_ngram_stats is the detection step): every n-token
    window occurring in >= ``min_df`` distinct documents marks its token
    span [pos, pos+n-1] for removal, and ``removed_tokens`` is the size of
    the UNION of those overlapping spans per document.

    The interval union never materializes intervals: repeated positions
    are strictly increasing per doc and all spans have length n, so the
    running union grows by least(n, pos - lag(pos)) per hit (lag null ->
    n) — ONE ordered window per doc over only the repeated positions (the
    contamination tail, not the corpus), then a combiner-friendly rollup.
    Shuffles: the two window-hash shuffles of repeated_ngram_stats plus
    one per-doc window/rollup keyed by the doc id."""
    from pyspark.sql.window import Window

    wins = token_ngram_windows(df, n, id_col, text_col)
    rep = (
        wins.groupBy("wh")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("wh")
    )
    hits = wins.join(rep, "wh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    inc = F.coalesce(
        F.least(F.lit(n), F.col("pos") - F.lag("pos").over(w)), F.lit(n)
    )
    removed = (
        hits.select(F.col(id_col), inc.alias("inc"))
        .groupBy(id_col)
        .agg(F.sum("inc").cast("long").alias("removed_tokens"))
    )
    totals = df.select(
        F.col(id_col),
        F.size(H.tokens_col(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    return (
        totals.join(removed, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
            (F.col("n_tokens") - F.coalesce("removed_tokens", F.lit(0))).alias(
                "kept_tokens"
            ),
        )
    )


def lev1_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
) -> DataFrame:
    """(a, b, lev) — all pairs within LEVENSHTEIN DISTANCE <= 1 (a < b by
    id), the classic fuzzy-match/data-cleaning join, WITHOUT the
    quadratic cross join: FastSS deletion-neighborhood blocking
    (Bocek et al. 2007). Key set K(s) = {s} union {s minus one char}; if
    lev(a, b) <= 1 the pair shares a key (equality shares s; an
    insertion makes a itself a deletion of b; a substitution at i makes
    both i-deletions equal), so an equi-join on exploded keys is a
    COMPLETE candidate generator and the exact `levenshtein` verify on
    candidates only makes it sound. Duplicate candidate pairs (a pair
    can share several keys) are collapsed before the verify.

    Scale: candidates = keys shared, so the join is equi-shuffle on
    short string keys; per string the key fan-out is len+1 — use this
    for short join keys (names, codes, tokens); for long documents use
    the MinHash path. Hot keys (a very common string) behave like any
    skewed equi-join — the salting plan applies.
    """
    s = F.col(str_col)
    keys = F.expr(
        f"array_union(array({str_col}), CASE WHEN length({str_col}) >= 1"
        f" THEN transform(sequence(1, length({str_col})),"
        f" i -> concat(substring({str_col}, 1, i - 1), substring({str_col}, i + 1)))"
        f" ELSE array() END)"
    )
    kv = df.select(
        F.col(id_col).alias("_id"), s.alias("_s"), F.explode(keys).alias("_k")
    )
    a = kv.select(F.col("_id").alias("a"), F.col("_s").alias("_sa"), "_k")
    b = kv.select(F.col("_id").alias("b"), F.col("_s").alias("_sb"), "_k")
    cand = (
        a.join(b, "_k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "_sa", "_sb")
        .distinct()
    )
    return (
        cand.withColumn("lev", F.levenshtein("_sa", "_sb"))
        .filter(F.col("lev") <= 1)
        .select("a", "b", F.col("lev").cast("int").alias("lev"))
    )


def lev1_join_sql(rows_cte: str, id_col: str, str_col: str) -> str:
    """DuckDB twin — the brute-force formulation (cross join + exact
    levenshtein), deliberately a different algorithm than the blocking
    path."""
    return f"""
WITH r AS ({rows_cte})
SELECT x.{id_col} AS a, y.{id_col} AS b,
       CAST(levenshtein(x.{str_col}, y.{str_col}) AS INTEGER) AS lev
FROM r x JOIN r y ON x.{id_col} < y.{id_col}
WHERE levenshtein(x.{str_col}, y.{str_col}) <= 1
"""


def snm_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
    max_lev: int = 2,
) -> DataFrame:
    """(a, b, lev) — SORTED-NEIGHBORHOOD entity-resolution pairs
    (Hernandez & Stolfo 1995): sort records by the blocking key, compare
    each record only with its ``window`` successors in sort order, keep
    pairs with levenshtein(key_a, key_b) <= ``max_lev`` (a < b by id).
    Complements lev1_join: arbitrary distance thresholds, at the cost of
    recall limited to what the sort order brings together — the classic
    recall/cost dial of ER blocking.

    Shape: rank the DISTINCT (id, key) relation, explode offsets
    1..window, equi-join rank+offset, verify on candidates only —
    candidate volume is EXACTLY window * n, never quadratic.

    Scale: the rank here is one global-order window over the record
    relation; at 100 TB assign ranks with the two-level range-bucket
    scan (the pps_systematic pattern) — the pair join and verify are
    already rank-keyed and parallel."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("_k"), F.col("_id"))
    ranked = df.select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_k")
    ).withColumn("_r", F.row_number().over(w))
    offs = F.explode(F.array(*[F.lit(o) for o in range(1, window + 1)]))
    left = ranked.select("_id", "_k", "_r", offs.alias("_o")).withColumn(
        "_rr", F.col("_r") + F.col("_o")
    )
    right = ranked.select(
        F.col("_id").alias("_id2"), F.col("_k").alias("_k2"),
        F.col("_r").alias("_rr"),
    )
    cand = left.join(right, "_rr")
    out = cand.withColumn("lev", F.levenshtein("_k", "_k2")).filter(
        F.col("lev") <= max_lev
    )
    return out.select(
        F.least("_id", "_id2").alias("a"),
        F.greatest("_id", "_id2").alias("b"),
        F.col("lev").cast("int").alias("lev"),
    ).distinct()


def snm_pairs_sql(
    rows_cte: str, id_col: str, key_col: str, window: int = 3, max_lev: int = 2
) -> str:
    """DuckDB twin — identical rank, offsets, verify."""
    offs = ", ".join(str(o) for o in range(1, window + 1))
    return f"""
WITH sn_raw AS ({rows_cte}),
rk AS (
  SELECT {id_col} AS _id, {key_col} AS _k,
         row_number() OVER (ORDER BY {key_col}, {id_col}) AS _r
  FROM sn_raw
),
cand AS (
  SELECT l._id AS ia, l._k AS ka, r._id AS ib, r._k AS kb
  FROM rk l
  JOIN (SELECT unnest([{offs}]) AS _o) o ON true
  JOIN rk r ON r._r = l._r + o._o
)
SELECT DISTINCT least(ia, ib) AS a, greatest(ia, ib) AS b,
       CAST(levenshtein(ka, kb) AS INTEGER) AS lev
FROM cand WHERE levenshtein(ka, kb) <= {max_lev}
"""


# ------------------------------------------------------------- winnowing


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """(doc_id, pos, gram_hash) — WINNOWING document fingerprints
    (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the MOSS algorithm):
    hash every character ``k``-gram of the normalized text, slide a
    window of ``w`` consecutive gram hashes, and in each window select
    the minimum hash, keeping the RIGHTMOST occurrence on ties; the
    distinct selections are the fingerprint. Guarantees: any shared
    substring of length >= k + w - 1 yields at least one shared
    fingerprint (the winnowing theorem), and density is ~2/(w+1).

    Exactness — pure integer min over an encoded key

        key = h * 2^21 + (POSCAP - pos),  h = md5_60 % 2^30 < 2^30

    so key < 2^51 (int64-exact in both engines) and min(key) IS
    lexicographic (hash asc, pos desc) = min-hash-rightmost-tie.
    Positions are capped at POSCAP = 2^21 - 1 chars per document
    (filtered, documented), far above the corpus profile.

    Scale: one shuffle on doc_id for the per-document ordered window;
    gram expansion is bounded by document length and never leaves the
    partition after the shuffle; output is ~2L/(w+1) rows per doc.
    Window state is w rows. No joins, no driver collection."""
    from pyspark.sql.window import Window

    POS_BITS = 21
    POSCAP = (1 << POS_BITS) - 1
    t = TXT.normalize_col(F.col(text_col))
    base = (
        df.select(F.col(id_col).alias("_id"), t.alias("_t"))
        .filter((F.length("_t") >= k + w - 1) & (F.length("_t") <= POSCAP))
    )
    idx = F.sequence(F.lit(1), F.length("_t") - F.lit(k - 1))
    grams = base.select(
        "_id",
        F.posexplode(
            F.transform(idx, lambda i: F.substring(F.col("_t"), F.lit(0) + i, k))
        ).alias("_p0", "_gram"),
    )
    hashed = grams.select(
        "_id",
        (F.col("_p0") + 1).cast("long").alias("_pos"),
        F.pmod(TXT.md5_long(F.col("_gram")), F.lit(H.M30)).alias("_h"),
    )
    keyed = hashed.withColumn(
        "_key", F.col("_h") * F.lit(1 << POS_BITS) + (F.lit(POSCAP) - F.col("_pos"))
    )
    win = Window.partitionBy("_id").orderBy("_pos")
    sel = (
        keyed.withColumn("_sel", F.min("_key").over(win.rowsBetween(-(w - 1), 0)))
        .withColumn("_i", F.row_number().over(win))
        .filter(F.col("_i") >= w)
    )
    return (
        sel.select(
            F.col("_id").alias(id_col),
            (F.lit(POSCAP) - F.pmod(F.col("_sel"), F.lit(1 << POS_BITS))).alias("pos"),
            F.expr(f"_sel DIV {1 << POS_BITS}").alias("gram_hash"),
        )
        .distinct()
    )


def winnow_fingerprints_sql(
    docs_cte: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
) -> str:
    """DuckDB twin of winnow_fingerprints — identical normalization,
    gram hashing, encoded-key window min, and rightmost-tie decode."""
    POS_BITS = 21
    POSCAP = (1 << POS_BITS) - 1
    norm = TXT.normalize_sql(text_col)
    gram = f"substr(_t, CAST(_pos AS INTEGER), {k})"
    return f"""
WITH wn_docs AS ({docs_cte}),
wn_norm AS (
  SELECT {id_col} AS _id, {norm} AS _t FROM wn_docs
  WHERE length({norm}) >= {k + w - 1} AND length({norm}) <= {POSCAP}
),
wn_grams AS (
  SELECT _id, _t,
         CAST(unnest(range(1, length(_t) - {k - 1} + 1)) AS BIGINT) AS _pos
  FROM wn_norm
),
wn_keyed AS (
  SELECT _id, _pos,
         mod({TXT.md5_long_sql(gram)}, {H.M30}) * {1 << POS_BITS}
           + ({POSCAP} - _pos) AS _key
  FROM wn_grams
),
wn_sel AS (
  SELECT _id,
         min(_key) OVER (PARTITION BY _id ORDER BY _pos
                         ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW) AS _sel,
         row_number() OVER (PARTITION BY _id ORDER BY _pos) AS _i
  FROM wn_keyed
)
SELECT DISTINCT _id AS {id_col},
       {POSCAP} - (_sel % {1 << POS_BITS}) AS pos,
       _sel // {1 << POS_BITS} AS gram_hash
FROM wn_sel WHERE _i >= {w}
"""


def canonical_pick(
    docs: DataFrame,
    clusters: DataFrame,
    quality_col: str = "q",
    id_col: str = "doc_id",
) -> DataFrame:
    """(cluster_id, keep_id, keep_q, n_members, n_dropped) — CANONICAL
    REPRESENTATIVE SELECTION, the stage after near-dup clustering that
    actual dedup pipelines ship: per cluster keep ONE document — the
    highest ``quality_col`` (integer; length, score, freshness), ties
    to the SMALLEST id — and drop the rest. Clusters come from any of
    the engine's resolvers (duplicate_clusters / semantic_dedup /
    crossmodal); singletons pass through as their own keepers.

    Scale: one id-keyed equi-join (cluster assignment × quality) + one
    combinable MAX(struct(q, −id)) rollup — no windows, no collect."""
    joined = clusters.select(
        F.col(id_col).alias("_id"), F.col("cluster_id")
    ).join(
        docs.select(
            F.col(id_col).alias("_id"),
            F.col(quality_col).cast("long").alias("_q"),
        ),
        "_id",
    )
    return joined.groupBy("cluster_id").agg(
        F.max(
            F.struct(F.col("_q").alias("q"), (-F.col("_id")).alias("ni"))
        ).alias("_b"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
    ).select(
        "cluster_id",
        (-F.col("_b.ni")).cast("long").alias("keep_id"),
        F.col("_b.q").cast("long").alias("keep_q"),
        "n_members",
        (F.col("n_members") - 1).cast("long").alias("n_dropped"),
    )


def canonical_pick_sql(
    docs_cte: str, clusters_cte: str
) -> str:
    """DuckDB twin of canonical_pick — identical join and struct
    argmax. ``docs_cte`` -> (doc_id, q); ``clusters_cte`` ->
    (doc_id, cluster_id)."""
    return f"""
WITH cp_docs AS ({docs_cte}),
cp_cl AS ({clusters_cte})
SELECT c.cluster_id,
       CAST(-(max({{'q': d.q, 'ni': -d.doc_id}}).ni) AS BIGINT) AS keep_id,
       CAST(max({{'q': d.q, 'ni': -d.doc_id}}).q AS BIGINT) AS keep_q,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM cp_cl c JOIN cp_docs d ON d.doc_id = c.doc_id
GROUP BY 1
"""


def boilerplate_lines(
    lines: DataFrame,
    min_df: int = 2,
    num: int = 1,
    den: int = 20,
    doc_col: str = "doc_id",
    line_no_col: str = "line_no",
    line_col: str = "line",
) -> DataFrame:
    """(doc_id, line_no, line, df_docs, n_docs, is_boiler) — COMMON-LINE
    (boilerplate) FLAGGING, the CCNet/RefinedWeb line-dedup gate: a
    line repeated across ≥ min_df documents AND in more than num/den of
    the corpus (exact cross-multiplied integer share — no float ratio)
    is navigation/footer/license boilerplate, not content; the cleaning
    pass drops flagged lines, keeping flagged-ness identical across
    engines because every decision is an int64 comparison.

    df_docs counts DISTINCT documents per line value (a doc repeating
    its own footer twice still counts once — the cross-document signal
    is what separates boilerplate from refrain-like content).

    Scale: one (line → distinct-doc) groupBy, one broadcast of the
    single-row corpus total, one join back on the line value (the join
    key collapses to the distinct-line table — boilerplate lines are
    by definition few and hot, so this join salts well under AQE).
    Same shape as repeated_ngrams."""
    src = lines.select(
        F.col(doc_col).alias("doc_id"),
        F.col(line_no_col).cast("long").alias("line_no"),
        F.col(line_col).alias("line"),
    )
    df_tab = src.groupBy("line").agg(
        F.countDistinct("doc_id").alias("df_docs")
    )
    n_docs = src.agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        src.join(df_tab, "line")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "line_no",
            "line",
            "df_docs",
            "n_docs",
            (
                (F.col("df_docs") >= min_df)
                & (F.col("df_docs") * den >= num * F.col("n_docs"))
            ).alias("is_boiler"),
        )
    )


def boilerplate_lines_sql(
    lines_cte: str,
    min_df: int = 2,
    num: int = 1,
    den: int = 20,
) -> str:
    """DuckDB twin of boilerplate_lines — identical distinct-doc
    frequency and cross-multiplied share gate.
    ``lines_cte`` -> (doc_id, line_no, line)."""
    return f"""
WITH bl_src AS ({lines_cte}),
bl_df AS (
  SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS df_docs
  FROM bl_src GROUP BY 1
),
bl_n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM bl_src
)
SELECT s.doc_id, CAST(s.line_no AS BIGINT) AS line_no, s.line,
       d.df_docs, bl_n.n_docs,
       d.df_docs >= {min_df}
       AND d.df_docs * {den} >= {num} * bl_n.n_docs AS is_boiler
FROM bl_src s JOIN bl_df d USING (line), bl_n
"""


def tfidf_cosine_pairs(
    df: DataFrame,
    tau_micro: int = 500_000,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, dot, n2_a, n2_b, cos_micro) — WEIGHTED (tf·idf)
    COSINE SIMILARITY JOIN over character k-gram multisets: the
    frequency-aware sibling of ngram_jaccard_pairs. Jaccard treats a
    boilerplate gram and a rare gram alike; tf·idf cosine is what
    production near-dup/plagiarism pipelines actually rank by.

    Integer weighting: tf is the exact gram multiplicity, idf the
    DYADIC ⌊log2(N/df)⌋ (= length(bin(N div df)) − 1 — bin() agrees
    cross-engine, no log anywhere), w = tf·idf exact int64. Grams with df > N/2 get idf 0
    and drop out of weights AND candidates — the max_df heavy-shingle
    prune falls out of the weighting for free, and consistently (the
    norm excludes them too, so the cosine is exactly the cosine of
    the pruned vectors). dot and the norms are exact; the only float
    is the one pinned assembly ⌊1e6·dot/√(n2_a·n2_b)⌋.

    Scale: inverted-index join on gram (O(df²) per gram, df capped by
    the idf-0 prune), map-side-combinable dot rollup — the
    ngram_jaccard_pairs shape with weights."""
    t = F.col(text_col)
    from ..functions import text as TXT

    norm = TXT.normalize_col(t)
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(idx, lambda i: F.substring(norm, F.lit(0) + i, k))
        ).alias("sh"),
    )
    tf = grams.groupBy("_id", "sh").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.countDistinct(F.col(id_col)).alias("nd"))
    dfreq = tf.groupBy("sh").agg(F.count(F.lit(1)).alias("dfq"))
    w = (
        tf.join(dfreq, "sh")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "_id",
            "sh",
            (
                F.col("tf")
                * (F.length(F.bin(F.expr("nd div dfq"))) - F.lit(1))
            ).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    norms = w.groupBy("_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    a = w.select(F.col("_id").alias("id_a"), "sh", F.col("w").alias("wa"))
    b = w.select(F.col("_id").alias("id_b"), "sh", F.col("w").alias("wb"))
    dots = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("_id").alias("id_a"), F.col("n2").alias("n2_a"))
    nb = norms.select(F.col("_id").alias("id_b"), F.col("n2").alias("n2_b"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "dot",
            "n2_a",
            "n2_b",
            F.floor(
                F.lit(1000000.0)
                * dd("dot")
                / F.sqrt(dd("n2_a") * dd("n2_b"))
            ).cast("long").alias("cos_micro"),
        )
        .filter(F.col("cos_micro") >= tau_micro)
    )


def tfidf_cosine_pairs_sql(
    docs_cte: str,
    tau_micro: int = 500_000,
    k: int = 5,
) -> str:
    """DuckDB twin of tfidf_cosine_pairs — identical gram multisets,
    dyadic idf, and pinned cosine assembly.
    ``docs_cte`` -> (doc_id, text)."""
    from ..functions import text as TXT

    norm = TXT.normalize_sql("text")
    return f"""
WITH tc_docs AS ({docs_cte}),
tc_grams AS (
  SELECT doc_id AS id,
         unnest(list_transform(
           range(1, greatest(length({norm}) - {k - 1}, 1) + 1),
           i -> substr({norm}, CAST(i AS INTEGER), {k}))) AS sh
  FROM tc_docs
),
tc_tf AS (
  SELECT id, sh, CAST(count(*) AS BIGINT) AS tf FROM tc_grams GROUP BY 1, 2
),
tc_n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM tc_docs),
tc_df AS (SELECT sh, CAST(count(*) AS BIGINT) AS dfq FROM tc_tf GROUP BY 1),
tc_w AS (
  SELECT id, sh, tf * (length(bin(nd // dfq)) - 1) AS w
  FROM tc_tf JOIN tc_df USING (sh), tc_n
  WHERE tf * (length(bin(nd // dfq)) - 1) > 0
),
tc_norm AS (
  SELECT id, CAST(sum(w * w) AS BIGINT) AS n2 FROM tc_w GROUP BY 1
),
tc_dot AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM tc_w a JOIN tc_w b ON b.sh = a.sh AND a.id < b.id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b,
       CAST(floor(1000000.0 * CAST(d.dot AS DOUBLE)
                  / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
            AS BIGINT) AS cos_micro
FROM tc_dot d
JOIN tc_norm na ON na.id = d.id_a
JOIN tc_norm nb ON nb.id = d.id_b
WHERE floor(1000000.0 * CAST(d.dot AS DOUBLE)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)))
      >= {tau_micro}
"""


def containment_pairs(
    df: DataFrame,
    tau_num: int = 4,
    tau_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a, id_b, inter, sz_a, sz_b, a_in_b, b_in_a) — ASYMMETRIC
    CONTAINMENT JOIN over shingle sets: flag pairs where one document's
    shingles are (near-)contained in the other's,

        containment(A→B) = |A∩B| / |A|  ≥  tau_num/tau_den,

    the Broder containment measure. Jaccard misses the quote/excerpt
    case — a tweet quoted inside an article scores near-zero Jaccard
    but containment ≈ 1 — and containment is what decontamination and
    quote-collapse passes actually need.

    Entirely float-free: the gate is the cross-multiplied integer
    inequality inter·tau_den ≥ sz·tau_num per direction; a pair is
    emitted when EITHER direction passes. inter/sizes are exact set
    counts over distinct shingles.

    Scale: the ngram_jaccard_pairs inverted-index join (O(df²) per
    shingle — reuse its max_df prune upstream for planet corpora), one
    combinable intersection rollup, broadcast-joined sizes."""
    ex = shingle_sets(df, id_col, text_col)
    sizes = df.select(
        F.col(id_col).alias("_sid"),
        F.size(H.shingles_col(F.col(text_col))).cast("long").alias("sz"),
    )
    a = ex.select(F.col(id_col).alias("id_a"), "sh")
    b = ex.select(F.col(id_col).alias("id_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("_sid").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("_sid").alias("id_b"), F.col("sz").alias("sz_b"))
    gated = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            "sz_a",
            "sz_b",
            (F.col("inter") * tau_den >= F.col("sz_a") * tau_num).alias(
                "a_in_b"
            ),
            (F.col("inter") * tau_den >= F.col("sz_b") * tau_num).alias(
                "b_in_a"
            ),
        )
    )
    return gated.filter(F.col("a_in_b") | F.col("b_in_a"))


def containment_pairs_sql(
    docs_cte: str,
    tau_num: int = 4,
    tau_den: int = 5,
) -> str:
    """DuckDB twin of containment_pairs — identical shingle sets and
    cross-multiplied directional gates. ``docs_cte`` -> (doc_id, text)."""
    sh = H.shingles_sql("text")
    return f"""
WITH cp_docs AS ({docs_cte}),
cp_sets AS (
  SELECT doc_id AS id, unnest({sh}) AS sh FROM cp_docs
),
cp_sz AS (
  SELECT doc_id AS id, CAST(len({sh}) AS BIGINT) AS sz FROM cp_docs
),
cp_inter AS (
  SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM cp_sets a JOIN cp_sets b ON b.sh = a.sh AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b, i.inter, sa.sz AS sz_a, sb.sz AS sz_b,
       i.inter * {tau_den} >= sa.sz * {tau_num} AS a_in_b,
       i.inter * {tau_den} >= sb.sz * {tau_num} AS b_in_a
FROM cp_inter i
JOIN cp_sz sa ON sa.id = i.id_a
JOIN cp_sz sb ON sb.id = i.id_b
WHERE i.inter * {tau_den} >= sa.sz * {tau_num}
   OR i.inter * {tau_den} >= sb.sz * {tau_num}
"""


def phonetic_blocks(
    words: DataFrame,
    word_col: str = "word",
) -> DataFrame:
    """(code, n_words, n_rows, w_min, w_max) — SOUNDEX BLOCKING for
    phonetic record linkage: every word keyed by its American Soundex
    code (functions.text.soundex_expr — pure column algebra, same
    chain as the SQL twin), blocks with >= 2 distinct spellings
    surfaced as fuzzy-merge candidates. The classic cheap blocking
    pass in front of an edit-distance verifier (fuzzy_join): names
    that sound alike land in the same reduce group without any
    pairwise work.

    Scale: one scan + one combinable two-level rollup (word first,
    then code) — and the 10-pass soundex regexp chain runs on the
    DISTINCT word table only (vocabulary-bounded), never per token:
    the same value-dedup that makes lcs_block_similarity feasible
    (measured 10.5 → ~1 s at sf0.1 on the corpus fixture). Block skew
    is bounded by the code space (26·7³); a pathological block feeds
    the verifier, not this census."""
    from ..functions.text import soundex_expr

    per_word0 = words.groupBy(F.lower(F.col(word_col)).alias("w")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    per_word = per_word0.select(
        "w", "_c", soundex_expr(F.col("w")).alias("code")
    ).filter(F.col("code") != "")
    return (
        per_word.groupBy("code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("_c").cast("long").alias("n_rows"),
            F.min("w").alias("w_min"),
            F.max("w").alias("w_max"),
        )
        .filter(F.col("n_words") >= 2)
    )


def phonetic_blocks_sql(words_cte: str) -> str:
    """DuckDB twin of phonetic_blocks. ``words_cte`` -> (word)."""
    from ..functions.text import soundex_sql

    return f"""
WITH ph_w AS (
  SELECT lower(word) AS w, {soundex_sql("word")} AS code
  FROM ({words_cte})
),
ph_pw AS (
  SELECT code, w, COUNT(*) AS _c FROM ph_w WHERE code <> '' GROUP BY 1, 2
)
SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(_c) AS BIGINT) AS n_rows,
       MIN(w) AS w_min, MAX(w) AS w_max
FROM ph_pw GROUP BY code HAVING COUNT(*) >= 2
"""


def lcs_block_similarity(
    df: DataFrame,
    block_col: str = "blk",
    word_col: str = "w",
) -> DataFrame:
    """(blk, wa, wb, la, lb, lcs_len, sim_micro, n_pairs) — LONGEST-
    COMMON-SUBSEQUENCE similarity between the distinct values of each
    blocking key — the order-preserving fuzzy matcher (diff/alignment
    kernel) that edit-distance blocking (fuzzy_join, lev<=1) can't
    express. sim_micro = 2·10⁶·lcs DIV (la+lb) is the classic
    normalized LCS similarity; n_pairs = na·nb counts the row pairs
    each value pair stands for.

    The DP runs ONCE PER DISTINCT VALUE PAIR (wa < wb within a block),
    never per row pair — the value-dedup that makes quadratic string
    kernels feasible at corpus scale. Inside the Arrow batch the classic
    LCS table fills row-vectorized in NumPy; the twin enumerates DP states
    (i, j, matched) in a recursive CTE and takes max(matched) — an
    independent formulation of the same recurrence.

    Scale: two combinable rollups + one mapInPandas over the distinct-
    pair table (|values|² per block, bounded by the vocabulary, not
    the corpus)."""
    w = df.select(
        F.col(block_col).alias("blk"), F.col(word_col).alias("w")
    )
    vals = w.groupBy("blk", "w").agg(F.count(F.lit(1)).alias("n"))
    a = vals.select(
        "blk", F.col("w").alias("wa"), F.col("n").alias("na")
    )
    b = vals.select(
        "blk", F.col("w").alias("wb"), F.col("n").alias("nb")
    )
    pairs = a.join(b, "blk").filter(F.col("wa") < F.col("wb"))

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                s, t = r.wa, r.wb
                la, lb = len(s), len(t)
                # codepoint arrays, not UTF-8 bytes: the DP is sized in
                # characters (matching the twin's substr()), so multibyte
                # text must compare per-codepoint
                sv = np.fromiter((ord(c) for c in s), dtype=np.int64, count=la)
                tv = np.fromiter((ord(c) for c in t), dtype=np.int64, count=lb)
                prev = np.zeros(lb + 1, dtype=np.int64)
                for i in range(1, la + 1):
                    cur = np.zeros(lb + 1, dtype=np.int64)
                    # row-vectorized: cur[j] = max(prev[j], cur[j-1],
                    # prev[j-1]+eq) — the cur[j-1] dependency forces a
                    # cummax pass: first take m = max(prev[j], prev[j-1]+eq)
                    eq = (tv == sv[i - 1]).astype(np.int64)
                    m = np.maximum(prev[1:], prev[:-1] + eq)
                    # then cur = running max of m with carry (cummax after
                    # prepending cur[0]=0): LCS rows are nondecreasing, so
                    # cummax(m) gives the exact row
                    cur[1:] = np.maximum.accumulate(m)
                    prev = cur
                lcs = int(prev[lb])
                out.append(
                    (
                        r.blk, s, t, la, lb, lcs,
                        2 * 1_000_000 * lcs // (la + lb),
                        int(r.na) * int(r.nb),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "blk", "wa", "wb", "la", "lb", "lcs_len",
                    "sim_micro", "n_pairs",
                ],
            )

    return pairs.mapInPandas(
        fn,
        schema=(
            "blk string, wa string, wb string, la long, lb long,"
            " lcs_len long, sim_micro long, n_pairs long"
        ),
    )


def lcs_block_similarity_sql(rows_cte: str) -> str:
    """DuckDB twin of lcs_block_similarity — recursive DP-state
    enumeration per distinct pair. ``rows_cte`` -> (blk, w)."""
    return f"""
WITH RECURSIVE lcs_w AS (
  SELECT blk, w, COUNT(*) AS n FROM ({rows_cte}) GROUP BY 1, 2
),
lcs_p AS (
  SELECT a.blk, a.w AS wa, b.w AS wb, a.n AS na, b.n AS nb,
         length(a.w) AS la, length(b.w) AS lb
  FROM lcs_w a JOIN lcs_w b ON a.blk = b.blk AND a.w < b.w
),
lcs_mv(di, dj, dk) AS (SELECT * FROM (VALUES (1, 0, 0), (0, 1, 0), (1, 1, 1))),
lcs_st(blk, wa, wb, i, j, k) AS (
  SELECT blk, wa, wb, 0, 0, 0 FROM lcs_p
  UNION
  SELECT s.blk, s.wa, s.wb, s.i + m.di, s.j + m.dj, s.k + m.dk
  FROM lcs_st s
  JOIN lcs_p p ON p.blk = s.blk AND p.wa = s.wa AND p.wb = s.wb
  JOIN lcs_mv m
    ON s.i + m.di <= p.la AND s.j + m.dj <= p.lb
   AND (m.dk = 0 OR substr(s.wa, s.i + 1, 1) = substr(s.wb, s.j + 1, 1))
),
lcs_v AS (
  SELECT blk, wa, wb, MAX(k) AS lcs_len
  FROM lcs_st GROUP BY 1, 2, 3
)
SELECT p.blk, p.wa, p.wb,
       CAST(p.la AS BIGINT) AS la, CAST(p.lb AS BIGINT) AS lb,
       CAST(v.lcs_len AS BIGINT) AS lcs_len,
       CAST(2 * 1000000 * v.lcs_len // (p.la + p.lb) AS BIGINT) AS sim_micro,
       CAST(p.na * p.nb AS BIGINT) AS n_pairs
FROM lcs_p p JOIN lcs_v v USING (blk, wa, wb)
"""


def novelty_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty_micro) — N-GRAM NOVELTY
    against the corpus itself: a document's shingle is NOVEL when no
    OTHER document contains it (corpus document frequency 1). The
    synthetic-data audit that catches mode collapse ("the generator
    emits the same passages") and template floods before they poison a
    training mix — the per-document inverse of boilerplate_lines,
    scored at the character-shingle level used by the MinHash stack.

        novelty_micro = 10⁶ · n_novel DIV n_shingles

    (truncating on nonnegatives; shingle sets are DISTINCT per doc, so
    df counts documents, not occurrences). Empty-normalized docs emit
    n_shingles = 1 (the degenerate single gram), matching shingles_col.

    Scale: one explode + one combinable df rollup (shingle-keyed) +
    one join back — the same shapes ngram_jaccard already runs; the
    df table is vocabulary-bounded."""
    # materialize the normalized text FIRST: shingling the raw
    # normalize expression re-runs its regexes once per gram inside the
    # transform lambda (measured 26 s -> ~2 s at sf0.1)
    norm = docs.select(
        F.col(id_col), TXT.normalize_col(F.col(text_col)).alias("_n")
    ).localCheckpoint(eager=False)
    sh = norm.select(
        F.col(id_col),
        F.explode(H.shingles_from_norm_col(F.col("_n"))).alias("sh"),
    ).localCheckpoint(eager=False)
    # per-doc shingle arrays are already DISTINCT (shingles_col), so a
    # plain count IS the document frequency — no countDistinct expand
    df_tab = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(df_tab, "sh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).cast("long").alias("n_novel"),
        )
    )
    return per_doc.select(
        F.col(id_col).alias("doc_id"),
        "n_shingles",
        "n_novel",
        F.expr("CAST(1000000 * n_novel DIV n_shingles AS BIGINT)").alias(
            "novelty_micro"
        ),
    )


def novelty_scores_sql(docs_cte: str) -> str:
    """DuckDB twin of novelty_scores. ``docs_cte`` -> (doc_id, text)."""
    grams = H.shingles_sql("text")
    return f"""
WITH nv_d AS (SELECT doc_id, text FROM ({docs_cte})),
nv_sh AS (
  SELECT doc_id, unnest({grams}) AS sh FROM nv_d
),
nv_df AS (SELECT sh, COUNT(DISTINCT doc_id) AS df FROM nv_sh GROUP BY 1),
nv_pd AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM nv_sh s JOIN nv_df f USING (sh)
  GROUP BY 1
)
SELECT doc_id, n_shingles, n_novel,
       CAST(1000000 * n_novel // n_shingles AS BIGINT) AS novelty_micro
FROM nv_pd
"""


def lev2_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
) -> DataFrame:
    """(a, b, lev) — all pairs within LEVENSHTEIN DISTANCE <= 2 (a < b
    by id): lev1_join's FastSS blocking taken one level deeper. Key set
    K(s) = {s} ∪ {one deletion} ∪ {two deletions}; if lev(a, b) <= 2
    the depth-2 deletion neighborhoods intersect (Bocek et al. 2007),
    so the exploded equi-join is a complete candidate generator and
    the exact levenshtein verify on collapsed candidates makes it
    sound. The wider fuzzy-merge net for codes/names where a single
    typo bound is too tight.

    Scale: key fan-out is 1 + L + L(L−1)/2 per string (~70 at L = 11)
    — the quadratic-in-length cost of depth-2 blocking, which is the
    documented operating envelope (short keys); candidate volume is
    keys-shared, hot keys salt like any skewed equi-join. The inner
    two-deletion enumeration keeps i < j so Spark's descending
    sequence() trap never fires."""
    del1 = (
        f"CASE WHEN length({str_col}) >= 1 THEN"
        f" transform(sequence(1, length({str_col})),"
        f" i -> concat(substring({str_col}, 1, i - 1),"
        f" substring({str_col}, i + 1)))"
        " ELSE array() END"
    )
    del2 = (
        f"CASE WHEN length({str_col}) >= 2 THEN"
        f" flatten(transform(sequence(1, length({str_col}) - 1),"
        f" i -> transform(sequence(i + 1, length({str_col})),"
        f" j -> concat(substring({str_col}, 1, i - 1),"
        f" substring({str_col}, i + 1, j - i - 1),"
        f" substring({str_col}, j + 1)))))"
        " ELSE array() END"
    )
    keys = F.expr(
        f"array_distinct(concat(array({str_col}), {del1}, {del2}))"
    )
    kv = df.select(
        F.col(id_col).alias("_id"),
        F.col(str_col).alias("_s"),
        F.explode(keys).alias("_k"),
    )
    a = kv.select(F.col("_id").alias("a"), F.col("_s").alias("_sa"), "_k")
    b = kv.select(F.col("_id").alias("b"), F.col("_s").alias("_sb"), "_k")
    cand = (
        a.join(b, "_k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "_sa", "_sb")
        .distinct()
    )
    return (
        cand.withColumn("lev", F.levenshtein("_sa", "_sb"))
        .filter(F.col("lev") <= 2)
        .select("a", "b", F.col("lev").cast("int").alias("lev"))
    )


def lev2_join_sql(rows_cte: str, id_col: str, str_col: str) -> str:
    """DuckDB twin — brute cross join + exact levenshtein (independent
    algorithm, like lev1_join's twin)."""
    return f"""
WITH r2 AS ({rows_cte})
SELECT x.{id_col} AS a, y.{id_col} AS b,
       CAST(levenshtein(x.{str_col}, y.{str_col}) AS INTEGER) AS lev
FROM r2 x JOIN r2 y ON x.{id_col} < y.{id_col}
WHERE levenshtein(x.{str_col}, y.{str_col}) <= 2
"""
