"""Text-analysis operators for training-data pipelines (documents table).

Each operator exists twice with byte-identical semantics:
* a Spark column expression (JVM-side, codegen, no Python), and
* an ANSI-SQL snippet generator for the DuckDB correctness oracle.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length/punct/stopword ratios), language-ID (stopword-hit heuristic),
document fingerprinting (md5-based 60-bit stable hash; the rolling-hash
shingle fingerprints live in hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame

# fixed tiny stopword list — part of the operator definition
EN_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "on", "for"]

_BPE_RE = "[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"


# ------------------------------------------------------------- normalize


def normalize_col(text: Column) -> Column:
    """lowercase, strip non [a-z0-9 ], collapse whitespace."""
    t = F.regexp_replace(F.lower(text), "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(t, " +", " "))


def normalize_sql(text: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace(lower({text}), '[^a-z0-9 ]', '', 'g'),"
        f" ' +', ' ', 'g'))"
    )


# ----------------------------------------------------------------- hashes


def md5_long(col: Column) -> Column:
    """Stable 60-bit positive hash of a string (same value in DuckDB)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint = stable hash of the normalized text."""
    return md5_long(normalize_col(text))


def fingerprint_sql(text: str) -> str:
    return md5_long_sql(normalize_sql(text))


# ----------------------------------------------------------------- tokens


def ws_token_count(text: Column) -> Column:
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, "\\s+"))
    )


def ws_token_count_sql(text: str) -> str:
    return (
        f"CASE WHEN length(trim({text})) = 0 THEN 0 "
        f"ELSE length(regexp_split_to_array(trim({text}), '\\s+')) END"
    )


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: alnum runs + individual punctuation marks."""
    return F.regexp_count(text, F.lit(_BPE_RE))


def bpe_token_count_sql(text: str) -> str:
    return f"length(regexp_extract_all({text}, '{_BPE_RE}'))"


# ---------------------------------------------------------------- quality


def padded_norm_col(text: Column) -> Column:
    """' ' + normalized text + ' ' — the shared input of stopword counting
    and (via trim) the fingerprint; project it once per plan."""
    return F.concat(F.lit(" "), normalize_col(text), F.lit(" "))


def stopword_hits_from_padded(padded: Column) -> Column:
    """Split-counting stopword hits over an ALREADY-projected padded
    normalized column: 10 literal-pattern splits, no regex re-derivation."""
    n = F.lit(0)
    for w in EN_STOPWORDS:
        n = n + F.size(F.split(padded, f" {w} ")) - F.lit(1)
    return n


def _stopword_hits(text: Column) -> Column:
    return stopword_hits_from_padded(padded_norm_col(text))


def _stopword_hits_sql(text: str) -> str:
    padded = f"(' ' || {normalize_sql(text)} || ' ')"
    parts = [
        f"(length(regexp_split_to_array({padded}, ' {w} ')) - 1)" for w in EN_STOPWORDS
    ]
    return "(" + " + ".join(parts) + ")"


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic:
       0.4 * min(1, n_ws_tokens/20) + 0.3 * (1 - punct_ratio)
       + 0.3 * min(1, 5*stopword_hits/max(1,n_ws_tokens)), rounded to 6 dp.

    Note: split-based counting means overlapping stopword pairs ("of the")
    count once per non-overlapping occurrence — the SQL oracle uses the
    identical split, so both sides agree by construction.
    """
    n_tok = ws_token_count(text).cast("double")
    n_chars = F.greatest(F.length(text), F.lit(1)).cast("double")
    n_punct = F.regexp_count(text, F.lit("[^a-zA-Z0-9\\s]")).cast("double")
    stop = _stopword_hits(text).cast("double")
    score = (
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(20.0))
        + F.lit(0.3) * (F.lit(1.0) - n_punct / n_chars)
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop / F.greatest(n_tok, F.lit(1.0)))
    )
    return F.round(score, 6)


def quality_score_sql(text: str) -> str:
    n_tok = f"CAST({ws_token_count_sql(text)} AS DOUBLE)"
    n_chars = f"CAST(greatest(length({text}), 1) AS DOUBLE)"
    n_punct = f"CAST(length(regexp_extract_all({text}, '[^a-zA-Z0-9\\s]')) AS DOUBLE)"
    stop = f"CAST({_stopword_hits_sql(text)} AS DOUBLE)"
    return (
        f"round(0.4 * least(1.0, {n_tok} / 20.0)"
        f" + 0.3 * (1.0 - {n_punct} / {n_chars})"
        f" + 0.3 * least(1.0, 5.0 * {stop} / greatest({n_tok}, 1.0)), 6)"
    )


# ---------------------------------------------------------------- lang id


def lang_id(text: Column) -> Column:
    """'en' when >= 2 stopword hits or >= 5% of tokens are stopwords,
    else 'other' — an n-gram-frequency heuristic over the fixed list."""
    hits = _stopword_hits(text).cast("double")
    n_tok = ws_token_count(text).cast("double")
    return F.when(
        (hits >= 2) | (hits / F.greatest(n_tok, F.lit(1.0)) >= 0.05), F.lit("en")
    ).otherwise(F.lit("other"))


def lang_id_sql(text: str) -> str:
    hits = f"CAST({_stopword_hits_sql(text)} AS DOUBLE)"
    n_tok = f"CAST({ws_token_count_sql(text)} AS DOUBLE)"
    return (
        f"CASE WHEN ({hits} >= 2) OR ({hits} / greatest({n_tok}, 1.0) >= 0.05) "
        f"THEN 'en' ELSE 'other' END"
    )


# ------------------------------------------------------------ staged plan


def text_features(df, text_col: str = "text", id_cols: tuple[str, ...] = ("doc_id",)):
    """All five text-analysis columns in ONE staged plan.

    The column-at-a-time builders above re-derive the normalized text inside
    every consumer (~25 regex evaluations per row across the five outputs).
    Here the expensive shared subexpressions — the padded normalized text,
    the whitespace token count and the stopword hit count — are projected
    once each; Spark's CollapseProject keeps a lower projection alive when
    its output feeds more than one non-cheap consumer, so the optimized plan
    evaluates the two normalization regexes, one tokenizing split and the
    ten literal-pattern stopword splits exactly once per row (pinned by
    tests/test_plans.py). Semantics are byte-identical to the per-column
    builders and to the SQL oracle twins.
    """
    t = F.col(text_col)
    staged = (
        df.select(*id_cols, t.alias("_t"))
        .withColumn("_padded", padded_norm_col(F.col("_t")))
        .select(
            *id_cols,
            "_t",
            "_padded",
            ws_token_count(F.col("_t")).alias("_ntok"),
            stopword_hits_from_padded(F.col("_padded")).alias("_stop"),
        )
    )
    n_tok = F.col("_ntok").cast("double")
    n_chars = F.greatest(F.length("_t"), F.lit(1)).cast("double")
    n_punct = F.regexp_count(F.col("_t"), F.lit("[^a-zA-Z0-9\\s]")).cast("double")
    stop = F.col("_stop").cast("double")
    quality = F.round(
        F.lit(0.4) * F.least(F.lit(1.0), n_tok / F.lit(20.0))
        + F.lit(0.3) * (F.lit(1.0) - n_punct / n_chars)
        + F.lit(0.3)
        * F.least(F.lit(1.0), F.lit(5.0) * stop / F.greatest(n_tok, F.lit(1.0))),
        6,
    )
    lang = F.when(
        (stop >= 2) | (stop / F.greatest(n_tok, F.lit(1.0)) >= 0.05), F.lit("en")
    ).otherwise(F.lit("other"))
    return staged.select(
        *id_cols,
        F.col("_ntok").alias("ws_tokens"),
        bpe_token_count(F.col("_t")).alias("bpe_tokens"),
        quality.alias("quality"),
        lang.alias("lang_pred"),
        md5_long(F.trim(F.col("_padded"))).alias("fingerprint"),
    )


ZIPF_SCALE = 100_000  # fixed-point quantization of the log-log terms


def zipf_fit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """ZIPF'S-LAW FIT of the corpus token-frequency distribution — the
    slope of ln(count) ~ ln(rank) over the ranked vocabulary (natural
    corpora sit near -1; a strongly deviating slope is the standard
    corpus-health / synthetic-text signal in training-data pipelines,
    and the fit doubles as the input to frequency-based vocab pruning).

    Tokens are the normalized whitespace tokens (normalize_col), ranked
    by (count DESC, token ASC) — fully deterministic. Exactness is the
    quantized-OLS scheme (gravity_fit's): per-token qx = round(ln(rank)
    * 1e5), qy = round(ln(count) * 1e5) int64, the five sufficient
    statistics are order-free integer sums, and the slope is a short
    identically-ordered double assembly over them.

    Returns ONE row: (vocab, total_tokens, sx_q, sy_q, sxx_q, sxy_q,
    zipf_slope).

    Scale: token counts are ONE combinable rollup over the exploded
    corpus (map-side combine collapses repeats before the shuffle). The
    dense rank over the vocabulary is the one sequential step — vocab is
    corpus-SUBLINEAR (~1e7-1e8 at web scale), so a single sort task
    holds it; shard it by count-range + offset partials if a vocabulary
    ever outgrows a task."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.explode(F.split(normalize_col(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = counts.withColumn("rank", F.row_number().over(w).cast("long"))
    qx = F.round(F.log(F.col("rank").cast("double")) * F.lit(float(ZIPF_SCALE))).cast("long")
    qy = F.round(F.log(F.col("n").cast("double")) * F.lit(float(ZIPF_SCALE))).cast("long")
    agg = ranked.select(
        F.col("n"), qx.alias("qx"), qy.alias("qy")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum("qx").cast("long").alias("sx_q"),
        F.sum("qy").cast("long").alias("sy_q"),
        F.sum(F.col("qx") * F.col("qx")).cast("long").alias("sxx_q"),
        F.sum(F.col("qx") * F.col("qy")).cast("long").alias("sxy_q"),
    )
    nd = F.col("vocab").cast("double")
    sx = F.col("sx_q").cast("double")
    sy = F.col("sy_q").cast("double")
    sxx = F.col("sxx_q").cast("double")
    sxy = F.col("sxy_q").cast("double")
    slope = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    # a vocabulary of < 2 tokens (or zero rank variance) has no defined
    # fit — NULL instead of a 0/0 NaN
    fit_ok = (F.col("vocab") >= 2) & (nd * sxx - sx * sx != F.lit(0.0))
    return agg.select(
        "vocab",
        "total_tokens",
        "sx_q",
        "sy_q",
        "sxx_q",
        "sxy_q",
        F.when(fit_ok, F.round(slope, 6) + F.lit(0.0)).alias("zipf_slope"),
    )


def text_nll(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """DOCUMENT PERPLEXITY GATE — per-document negative log-likelihood
    under the corpus-trained character-BIGRAM language model, the
    classic cheap quality filter of LLM data pipelines (CCNet / Gopher
    style): natural prose follows common character transitions and
    scores low; boilerplate, mojibake, and generator junk take rare
    transitions and score high. Trained and applied in ONE job over the
    same corpus, so every scored bigram is observed and p > 0 — no
    smoothing term to disagree about.

    Exactness scheme (track_nll's): each bigram term is quantized FIRST
    — t = round((ln n_bg - ln n_first) * 1e6) as int64 from exact
    integer corpus counts — so the per-doc sum of ints is
    partition-order-free; ``nll_micro`` (micro-nats) is the hash-stable
    core and ``avg_nll`` a short replayable float assembly. Documents
    shorter than 2 chars drop (no bigram to score).

    Returns (id_col, n_bigrams, nll_micro, avg_nll).

    Scale: bigram explosion is a JVM-side ``transform(sequence(...))``
    — no Python, no per-char window, no shuffle before the rollup; the
    model (alphabet^2-bounded, tiny) broadcasts back onto the bigram
    stream; one final combinable per-doc rollup."""
    from pyspark.sql import functions as F

    # length >= 2 FIRST: Spark's sequence(1, 0) auto-steps DESCENDING
    # ([1, 0], two bogus bigrams per short doc) where DuckDB's range(1, 0)
    # is empty — the filter makes both engines see the same bigram set
    bg = docs.filter(F.length(text_col) >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - 1),"
                f" i -> substring({text_col}, i, 2))"
            )
        ).alias("bg"),
    )
    mat = bg.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("n_bg"))
    tot = (
        mat.groupBy(F.substring("bg", 1, 1).alias("c1"))
        .agg(F.sum("n_bg").cast("long").alias("n_c1"))
    )
    term = F.round(
        (F.log(F.col("n_bg").cast("double")) - F.log(F.col("n_c1").cast("double")))
        * F.lit(1e6)
    ).cast("long")
    model = mat.join(tot, F.substring(mat["bg"], 1, 1) == tot["c1"]).select(
        "bg", term.alias("_t")
    )
    scored = bg.join(F.broadcast(model), "bg")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (-F.sum("_t")).cast("long").alias("nll_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "nll_micro",
            (
                F.round(
                    F.col("nll_micro").cast("double")
                    / F.col("n_bigrams").cast("double")
                    / F.lit(1e6),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_nll"),
        )
    )


def pmi_cooc(
    docs: DataFrame, text_col: str = "text", min_count: int = 3
) -> DataFrame:
    """(tok1, tok2, c_xy, u_x, u_y, n_pairs, n_tokens, pmi_ratio) —
    POINTWISE MUTUAL INFORMATION over adjacent-token co-occurrence
    (Church & Hanks 1990), the classic collocation/phrase-mining signal
    ("new york" scores high, "of the" low) used for phrase vocabularies
    and word-association features in corpus pipelines.

    Pairs are unordered-canonicalized (lexicographic min first) adjacent
    normalized tokens. Instead of the log (whose cross-engine last-ulp
    is unpinned) the MONOTONE-equivalent exact quantity is returned:

        pmi_ratio = (c_xy · N_tok · N_tok) / (N_pairs · u_x · u_y)

    = p(x,y)/(p(x)p(y)); the numerator/denominator are exact int64
    (bound: c_xy·N_tok² < 2^63 → corpora to ~1e6 tokens per partition
    of the exactness guarantee; beyond that the pinned-order double
    ratio remains engine-identical) and the one division is IEEE.
    Rows with c_xy < ``min_count`` are dropped.

    Scale: bigram extraction is a per-doc ordered window (lead), pair
    counts ONE combinable rollup (map-side combine collapses repeated
    collocations before the shuffle), unigram marginals a second rollup
    joined back — vocabulary-sized, broadcastable; totals are scalar
    cross joins."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(normalize_col(F.col(text_col)), " ")).alias(
            "pos", "tok"
        ),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(
            F.least("tok", "nxt").alias("tok1"),
            F.greatest("tok", "nxt").alias("tok2"),
        )
    )
    pc = pairs.groupBy("tok1", "tok2").agg(
        F.count(F.lit(1)).cast("long").alias("c_xy")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("u"))
    tot = toks.agg(F.count(F.lit(1)).cast("long").alias("n_tokens")).crossJoin(
        pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    out = (
        pc.filter(F.col("c_xy") >= min_count)
        .join(
            F.broadcast(uni.select(F.col("tok").alias("tok1"), F.col("u").alias("u_x"))),
            "tok1",
        )
        .join(
            F.broadcast(uni.select(F.col("tok").alias("tok2"), F.col("u").alias("u_y"))),
            "tok2",
        )
        .crossJoin(F.broadcast(tot))
    )
    nt = F.col("n_tokens").cast("double")
    ratio = (
        (F.col("c_xy").cast("double") * nt * nt)
        / (
            F.col("n_pairs").cast("double")
            * F.col("u_x").cast("double")
            * F.col("u_y").cast("double")
        )
    )
    return out.select(
        "tok1", "tok2", "c_xy", "u_x", "u_y", "n_pairs", "n_tokens",
        ratio.alias("pmi_ratio"),
    )


def pmi_cooc_sql(
    docs_cte: str, text_col: str = "text", min_count: int = 3
) -> str:
    """DuckDB twin of pmi_cooc — generate_series indexing instead of
    posexplode, identical canonicalization and pinned ratio order."""
    norm = normalize_sql(text_col)
    return f"""
WITH src AS ({docs_cte}),
lists AS (
  SELECT doc_id, list_filter(string_split({norm}, ' '), t -> t != '') AS l
  FROM src
),
toks AS (
  SELECT doc_id, l[j] AS tok
  FROM lists, unnest(generate_series(1, length(l))) t(j)
),
pairs AS (
  SELECT least(l[j], l[j + 1]) AS tok1, greatest(l[j], l[j + 1]) AS tok2
  FROM lists, unnest(generate_series(1, length(l) - 1)) t(j)
),
pc AS (
  SELECT tok1, tok2, CAST(count(*) AS BIGINT) AS c_xy
  FROM pairs GROUP BY 1, 2 HAVING count(*) >= {int(min_count)}
),
uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS u FROM toks GROUP BY tok),
tot AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM toks) AS n_tokens,
         (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs
)
SELECT pc.tok1, pc.tok2, pc.c_xy, ux.u AS u_x, uy.u AS u_y,
       tot.n_pairs, tot.n_tokens,
       (CAST(pc.c_xy AS DOUBLE) * CAST(tot.n_tokens AS DOUBLE)
        * CAST(tot.n_tokens AS DOUBLE))
       / (CAST(tot.n_pairs AS DOUBLE) * CAST(ux.u AS DOUBLE)
          * CAST(uy.u AS DOUBLE)) AS pmi_ratio
FROM pc
JOIN uni ux ON ux.tok = pc.tok1
JOIN uni uy ON uy.tok = pc.tok2, tot
"""


def tfidf_topk(
    docs: DataFrame, text_col: str = "text", k: int = 5
) -> DataFrame:
    """(doc_id, rank, tok, tf, df, idf_log2, score) — per-document
    TOP-K KEYWORD EXTRACTION by TF-IDF (Sparck Jones 1972), the
    standard corpus-level salient-term signal for tagging, routing and
    retrieval features in training-data pipelines.

    Exactness: instead of the float ``ln(N/df)`` (cross-engine last
    ulp unpinned) the idf is the DYADIC log

        idf_log2 = floor(log2(N / df)) = length(bin(N div df)) - 1,

    computed in pure integer arithmetic (``bin`` exists and agrees in
    Spark and DuckDB), so ``score = tf * idf_log2`` is exact int64 and
    the (score DESC, tf DESC, tok ASC) ranking is bit-identical
    cross-engine. Terms present in every document get idf 0 — the
    classic idf(N/N)=0 behavior. N counts documents with at least one
    token.

    Scale: tokenize is scan-shaped; tf is ONE combinable
    groupBy(doc_id, tok) rollup; df/N derive FROM the tf table
    (vocabulary-sized — broadcast back, no second corpus scan); the
    top-k is a row_number window partitioned by doc_id (per-doc vocab
    fits any executor)."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(normalize_col(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "idf_log2",
            (F.length(F.bin(F.expr("n_docs div df"))) - F.lit(1)).cast("long"),
        )
        .withColumn("score", F.col("tf") * F.col("idf_log2"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("tf").desc(), F.col("tok").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "tok", "tf", "df", "idf_log2", "score")
    )


def tfidf_topk_sql(docs_cte: str, text_col: str = "text", k: int = 5) -> str:
    """DuckDB twin of tfidf_topk — identical normalization, dyadic idf
    via the same bin()-length identity, identical ranking order."""
    norm = normalize_sql(text_col)
    return f"""
WITH tk_src AS ({docs_cte}),
tk_lists AS (
  SELECT doc_id, list_filter(string_split({norm}, ' '), t -> t != '') AS l
  FROM tk_src
),
tk_toks AS (
  SELECT doc_id, unnest(l) AS tok FROM tk_lists
),
tk_tf AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
  FROM tk_toks GROUP BY 1, 2
),
tk_df AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk_tf GROUP BY 1
),
tk_n AS (
  SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tk_tf
),
tk_scored AS (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         CAST(length(bin(n.n_docs // d.df)) - 1 AS BIGINT) AS idf_log2,
         CAST(t.tf * (length(bin(n.n_docs // d.df)) - 1) AS BIGINT) AS score
  FROM tk_tf t JOIN tk_df d USING (tok), tk_n n
),
tk_ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, tf DESC, tok ASC
  ) AS BIGINT) AS rank
  FROM tk_scored
)
SELECT doc_id, rank, tok, tf, df, idf_log2, score
FROM tk_ranked WHERE rank <= {int(k)}
"""


def compress_cost(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, bits, bpt_micro) — CORPUS COMPRESSIBILITY
    SCORING by dyadic Shannon code lengths: train the code on the
    corpus's own unigram counts, L(tok) = ceil(log2(N / cnt(tok)))
    (the Shannon code length — satisfies Kraft, within 1 bit of the
    entropy optimum), and charge each document Σ L over its tokens.
    ``bpt_micro`` = bits·1e6 div n_tokens is bits-per-token — LOW means
    repetitive/boilerplate (dedup-adjacent quality gate), HIGH means
    rare-token-dense. The integer stand-in for gzip-ratio filtering
    (Muennighoff et al. 2023-style compressibility curation) with an
    exact cross-engine trace.

    Exactness: L = bit_length(ceil(N/cnt) − 1) in pure integer
    arithmetic (0 when cnt = N), identical via bin() in both engines —
    no log anywhere.

    Scale: tokenize is scan-shaped; ONE vocab rollup (broadcastable
    back — the code table is vocabulary-sized); one per-doc rollup.
    Same shuffle shape as tfidf_topk without the window."""
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(normalize_col(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    n_tot = vocab.agg(F.sum("cnt").cast("long").alias("n_tot"))
    code = vocab.crossJoin(F.broadcast(n_tot)).select(
        "tok",
        F.when(F.col("cnt") >= F.col("n_tot"), F.lit(0).cast("long"))
        .otherwise(
            F.length(
                F.bin(F.expr("(n_tot + cnt - 1) DIV cnt - 1"))
            ).cast("long")
        )
        .alias("bits_tok"),
    )
    return (
        toks.join(F.broadcast(code), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits_tok").cast("long").alias("bits"),
        )
        .withColumn("bpt_micro", F.expr("bits * 1000000 DIV n_tokens"))
    )


def compress_cost_sql(docs_cte: str, text_col: str = "text") -> str:
    """DuckDB twin of compress_cost — identical normalization, the same
    bin()-length ceil-log2 identity, identical rollups."""
    norm = normalize_sql(text_col)
    return f"""
WITH cc_src AS ({docs_cte}),
cc_toks AS (
  SELECT doc_id, unnest(list_filter(string_split({norm}, ' '), t -> t != ''))
         AS tok
  FROM cc_src
),
cc_vocab AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM cc_toks GROUP BY 1
),
cc_n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tot FROM cc_vocab),
cc_code AS (
  SELECT tok,
         CASE WHEN cnt >= n.n_tot THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin((n.n_tot + cnt - 1) // cnt - 1)) AS BIGINT)
         END AS bits_tok
  FROM cc_vocab, cc_n n
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(c.bits_tok) AS BIGINT) AS bits,
       CAST(sum(c.bits_tok) * 1000000 // count(*) AS BIGINT) AS bpt_micro
FROM cc_toks t JOIN cc_code c USING (tok)
GROUP BY 1
"""


def bpe_train(
    docs: DataFrame, text_col: str = "text", merges: int = 6
) -> DataFrame:
    """(round, a, b, merged, pair_count) — BYTE-PAIR-ENCODING MERGE
    TRAINING (Sennrich et al. 2016), the tokenizer-induction core of an
    LLM data pipeline: starting from character symbols over the corpus
    WORD-FREQUENCY table, each round merges the most frequent adjacent
    symbol pair (count ties break lexicographically on (a, b)) and
    rewrites every word leftmost-non-overlapping. The returned merge
    list IS the trained tokenizer.

    Determinism: pair counts are exact int64 (word freq × adjacent
    occurrences, overlaps counted — the reference implementation's
    convention); the rewrite uses the pipe-delimited word form
    '|s1||s2||…|' where replace('|a||b|' → '|ab|') is exactly the
    leftmost-non-overlapping merge in BOTH engines (delimiters are
    never shared between occurrences, so adjacent matches all fire).

    Scale: the corpus-sized work is ONE word-frequency rollup; every
    round then runs on the VOCABULARY table (pair rollup + one literal
    string rewrite — broadcast-scale), with a single 1-row collect per
    round to pick the winner: O(merges) tiny jobs, the corpus is never
    rescanned. Returns min(merges, available) rows."""
    out, _ = _bpe_learn(docs, text_col, merges)
    spark = docs.sparkSession
    return local_frame(
        spark, out, "round int, a string, b string, merged string, pair_count long"
    )


def _bpe_learn(docs: DataFrame, text_col: str, merges: int):
    """Shared BPE loop: returns (merge rows, final vocabulary DF with
    columns (tok, f, s) — s the pipe-delimited merged symbol form)."""
    toks = docs.select(
        F.explode(F.split(normalize_col(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    words = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    ).select(
        "tok",
        "f",
        F.concat(
            F.lit("|"),
            F.array_join(F.expr("filter(split(tok, ''), x -> x != '')"), "||"),
            F.lit("|"),
        ).alias("s"),
    ).localCheckpoint()
    out = []
    for r in range(1, int(merges) + 1):
        syms = F.split(F.expr("trim(BOTH '|' FROM s)"), "\\|\\|")
        top = (
            words.withColumn("_syms", syms)
            .select(
                "f",
                F.explode(
                    F.expr(
                        "arrays_zip(slice(_syms, 1, size(_syms) - 1),"
                        " slice(_syms, 2, size(_syms) - 1))"
                    )
                ).alias("p"),
            )
            .select("f", F.col("p.0").alias("a"), F.col("p.1").alias("b"))
            .groupBy("a", "b")
            .agg(F.sum("f").cast("long").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        out.append((r, a, b, a + b, cnt))
        pat, rep = f"|{a}||{b}|", f"|{a}{b}|"
        words = words.select(
            "tok",
            "f",
            F.expr(
                "replace(s, {p}, {q})".format(
                    p=_sql_str(pat), q=_sql_str(rep)
                )
            ).alias("s"),
        ).localCheckpoint()
    return out, words


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def bpe_train_sql(docs_cte: str, text_col: str = "text", merges: int = 6) -> str:
    """DuckDB twin of bpe_train — identical normalization and word
    rollup, then the rounds UNROLLED as materialized CTEs: per-round
    pair rollup, winner by (cnt DESC, a, b) LIMIT 1, and the identical
    pipe-delimited literal replace (LEFT JOIN ON true keeps rounds past
    exhaustion as identity rewrites emitting no winner row)."""
    norm = normalize_sql(text_col)
    parts = [
        f"""bpe_src AS ({docs_cte}),
bpe_w0 AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS f,
         '|' || array_to_string(
           list_transform(range(1, length(tok) + 1), i -> substr(tok, i, 1)),
           '||') || '|' AS s
  FROM (
    SELECT unnest(list_filter(string_split({norm}, ' '), t -> t != '')) AS tok
    FROM bpe_src
  ) GROUP BY tok
)"""
    ]
    for r in range(1, int(merges) + 1):
        prev = f"bpe_w{r - 1}"
        parts.append(
            f"""bpe_p{r} AS MATERIALIZED (
  SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(f) AS BIGINT) AS cnt
  FROM (SELECT f, string_split(trim(s, '|'), '||') AS l FROM {prev}),
       unnest(generate_series(1, len(l) - 1)) t(i)
  GROUP BY 1, 2
),
bpe_win{r} AS MATERIALIZED (
  SELECT a, b, cnt FROM bpe_p{r}
  ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
bpe_w{r} AS MATERIALIZED (
  SELECT w.f,
         CASE WHEN x.a IS NULL THEN w.s
              ELSE replace(w.s, '|' || x.a || '||' || x.b || '|',
                           '|' || x.a || x.b || '|') END AS s
  FROM {prev} w LEFT JOIN bpe_win{r} x ON true
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, a, b, a || b AS merged, cnt AS pair_count"
        f" FROM bpe_win{r}"
        for r in range(1, int(merges) + 1)
    )
    return f"""
WITH {','.join(parts)}
SELECT CAST(round AS INTEGER) AS round, a, b, merged, pair_count
FROM ({finals})
"""


def bpe_encode(
    docs: DataFrame, text_col: str = "text", merges: int = 6
) -> DataFrame:
    """(doc_id, n_words, n_chars, n_tokens, ratio_micro) — BPE
    TOKENIZATION APPLIED: train ``merges`` rounds on the corpus itself
    (the _bpe_learn loop) and charge every document the token count of
    its words under the merged vocabulary. ratio_micro = n_tokens·1e6
    div n_chars is the fertility/compression gate (1e6 = no merges
    fired, lower = better tokenized) used to budget training mixtures
    in tokens rather than characters.

    Scale: training touches the corpus once (word-frequency rollup);
    encoding is a broadcast join of the doc's words against the
    vocabulary-sized merged table + one per-doc rollup — the corpus is
    scanned exactly twice end to end, no per-row Python anywhere."""
    _, words = _bpe_learn(docs, text_col, merges)
    vocab = words.select(
        "tok",
        F.size(F.split(F.expr("trim(BOTH '|' FROM s)"), "\\|\\|")).cast(
            "long"
        ).alias("n_syms"),
        F.length("tok").cast("long").alias("n_ch"),
    )
    toks = docs.select(
        F.col("doc_id"),
        F.explode(F.split(normalize_col(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_ch").cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
        )
        .withColumn("ratio_micro", F.expr("n_tokens * 1000000 DIV n_chars"))
    )


def bpe_encode_sql(
    docs_cte: str, text_col: str = "text", merges: int = 6
) -> str:
    """DuckDB twin of bpe_encode — rides bpe_train_sql's unrolled merge
    rounds: the final words CTE bpe_w{merges} carries the merged form;
    tok is recovered by stripping the pipes. Identical join + rollup."""
    norm = normalize_sql(text_col)
    train = bpe_train_sql(docs_cte, text_col, merges)
    # reuse the WITH chain of the train twin, swap the final SELECT
    cut = train.index("\nSELECT CAST(round AS INTEGER)")
    body = train[train.index("WITH") : cut]
    return f"""{body},
bpe_vocab AS (
  SELECT replace(s, '|', '') AS tok,
         CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n_syms,
         CAST(length(replace(s, '|', '')) AS BIGINT) AS n_ch
  FROM bpe_w{int(merges)}
),
bpe_doctoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split({norm}, ' '), t -> t != '')) AS tok
  FROM bpe_src
)
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(v.n_ch) AS BIGINT) AS n_chars,
       CAST(sum(v.n_syms) AS BIGINT) AS n_tokens,
       CAST(sum(v.n_syms) * 1000000 // sum(v.n_ch) AS BIGINT) AS ratio_micro
FROM bpe_doctoks d JOIN bpe_vocab v USING (tok)
GROUP BY 1
"""


# --- PII detection -----------------------------------------------------
# Patterns restricted to the Java-regex ∩ RE2 common dialect: character
# classes, bounded repetition, non-capturing groups, \b word boundaries —
# no lookaround, no backreferences, so Spark (java.util.regex) and the
# DuckDB twin (RE2) match the identical span set.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9]{7,15}"


def pii_scan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_email, n_ipv4, n_phone, pii_total, has_pii) — PII
    CENSUS per document: count email addresses, dotted-quad IPs, and
    international phone numbers. The triage gate every LLM training
    corpus runs before release — route has_pii docs to scrubbing
    (dedup.scrub_spans applies the removals; this operator is the
    detector that feeds it).

    Both engines evaluate the same leftmost non-overlapping match
    semantics on the same restricted-dialect patterns, so the counts
    are exact integers, not heuristics. Counting only — span offsets
    stay engine-side (regexp_extract_all positions aren't exposed
    identically; scrubbing re-matches by value, which is why
    scrub_spans takes strings, not offsets).

    Scale: pure JVM column expressions on a single scan — no shuffle,
    no UDF; predicate-pushdown-friendly (has_pii is sargable into the
    scan filter when used as a gate)."""
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_email.cast("long").alias("n_email"),
        n_ipv4.cast("long").alias("n_ipv4"),
        n_phone.cast("long").alias("n_phone"),
    ).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")).alias(
            "pii_total"
        ),
        (
            (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0
        ).alias("has_pii"),
    )


def pii_scan_sql(rows_cte: str) -> str:
    """DuckDB twin of pii_scan (RE2 end of the common dialect).
    ``rows_cte`` -> (doc_id, text)."""
    e, i, p = PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE
    return f"""
WITH pii_src AS ({rows_cte})
SELECT doc_id,
       CAST(length(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_email,
       CAST(length(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ipv4,
       CAST(length(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phone,
       CAST(length(regexp_extract_all(text, '{e}'))
            + length(regexp_extract_all(text, '{i}'))
            + length(regexp_extract_all(text, '{p}')) AS BIGINT) AS pii_total,
       (length(regexp_extract_all(text, '{e}'))
        + length(regexp_extract_all(text, '{i}'))
        + length(regexp_extract_all(text, '{p}'))) > 0 AS has_pii
FROM pii_src
"""


def url_canonicalize(
    df: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> DataFrame:
    """(doc_id, canon_url, grp_n, keep) — URL CANONICALIZATION + dedup
    grouping: the normalization every web-crawl pipeline runs before
    URL-level dedup. Steps (the conservative, always-safe subset):

      1. drop the #fragment
      2. lowercase scheme and host
      3. strip explicit default ports :80 / :443
      4. strip ONE trailing slash from a non-root path
      5. drop utm_* tracking params; SORT the remaining query params

    grp_n is the canonical-group size and keep flags the minimum
    doc_id per group (the kept representative) — exact integers on
    top of deterministic string algebra, so the DuckDB twin matches
    byte-for-byte (every primitive — substring_index/split_part,
    instr, lower, split+filter+sort+join — has identical semantics in
    the restricted usage here).

    Scale: pure column expressions + one groupBy(canon_url) rollup
    joined back (the group stats); no UDF, no window over raw rows."""
    u0 = F.substring_index(F.col(url_col), "#", 1)
    has_q = F.instr(u0, "?") > 0
    base = F.substring_index(u0, "?", 1)
    query = F.when(has_q, F.expr(
        f"substring(substring_index({url_col}, '#', 1),"
        f" instr(substring_index({url_col}, '#', 1), '?') + 1)"
    )).otherwise(F.lit(""))
    scheme = F.lower(F.substring_index(base, "://", 1))
    rest = F.expr(
        "substring(substring_index(substring_index("
        f"{url_col}, '#', 1), '?', 1),"
        " instr(substring_index(substring_index("
        f"{url_col}, '#', 1), '?', 1), '://') + 3)"
    )
    hostport = F.lower(F.substring_index(rest, "/", 1))
    host = F.regexp_replace(hostport, ":(80|443)$", "")
    path = F.when(
        F.instr(rest, "/") > 0,
        F.expr(
            "substring(substring(substring_index(substring_index("
            f"{url_col}, '#', 1), '?', 1),"
            " instr(substring_index(substring_index("
            f"{url_col}, '#', 1), '?', 1), '://') + 3),"
            " instr(substring(substring_index(substring_index("
            f"{url_col}, '#', 1), '?', 1),"
            " instr(substring_index(substring_index("
            f"{url_col}, '#', 1), '?', 1), '://') + 3), '/'))"
        ),
    ).otherwise(F.lit(""))
    path_c = F.when(
        (F.length(path) > 1) & path.endswith("/"),
        F.expr(f"substring({'_p'}, 1, length({'_p'}) - 1)"),
    ).otherwise(F.col("_p"))
    q_kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            )
        ),
        "&",
    )
    canon = F.concat(
        F.col("_scheme"),
        F.lit("://"),
        F.col("_host"),
        F.col("_pathc"),
        F.when(F.col("_q") != "", F.concat(F.lit("?"), F.col("_q"))).otherwise(
            F.lit("")
        ),
    )
    staged = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(url_col),
            scheme.alias("_scheme"),
            host.alias("_host"),
            path.alias("_p"),
            q_kept.alias("_q"),
        )
        .withColumn("_pathc", path_c)
        .select("doc_id", canon.alias("canon_url"))
    )
    grp = staged.groupBy("canon_url").agg(
        F.count(F.lit(1)).alias("grp_n"), F.min("doc_id").alias("_keep_id")
    )
    return staged.join(grp, "canon_url").select(
        "doc_id",
        "canon_url",
        "grp_n",
        (F.col("doc_id") == F.col("_keep_id")).alias("keep"),
    )


def url_canonicalize_sql(rows_cte: str) -> str:
    """DuckDB twin of url_canonicalize — identical staged string
    algebra. ``rows_cte`` -> (doc_id, url)."""
    return f"""
WITH uc_src AS ({rows_cte}),
uc_st AS (
  SELECT doc_id,
         lower(split_part(split_part(split_part(url, '#', 1), '?', 1),
                          '://', 1)) AS scheme,
         regexp_replace(
           lower(split_part(
             substring(split_part(split_part(url, '#', 1), '?', 1),
               instr(split_part(split_part(url, '#', 1), '?', 1), '://') + 3),
             '/', 1)),
           ':(80|443)$', '') AS host,
         CASE WHEN instr(
                substring(split_part(split_part(url, '#', 1), '?', 1),
                  instr(split_part(split_part(url, '#', 1), '?', 1), '://')
                  + 3), '/') > 0
              THEN substring(
                substring(split_part(split_part(url, '#', 1), '?', 1),
                  instr(split_part(split_part(url, '#', 1), '?', 1), '://')
                  + 3),
                instr(
                  substring(split_part(split_part(url, '#', 1), '?', 1),
                    instr(split_part(split_part(url, '#', 1), '?', 1), '://')
                    + 3), '/'))
              ELSE '' END AS p,
         CASE WHEN instr(split_part(url, '#', 1), '?') > 0
              THEN substring(split_part(url, '#', 1),
                             instr(split_part(url, '#', 1), '?') + 1)
              ELSE '' END AS q
  FROM uc_src
),
uc_c AS (
  SELECT doc_id,
         scheme || '://' || host
         || CASE WHEN length(p) > 1 AND p LIKE '%/'
                 THEN substring(p, 1, length(p) - 1) ELSE p END
         || CASE WHEN array_to_string(
                    list_sort(list_filter(string_split(q, '&'),
                      x -> NOT starts_with(x, 'utm_') AND x != '')), '&') != ''
                 THEN '?' || array_to_string(
                    list_sort(list_filter(string_split(q, '&'),
                      x -> NOT starts_with(x, 'utm_') AND x != '')), '&')
                 ELSE '' END AS canon_url
  FROM uc_st
),
uc_g AS (
  SELECT canon_url, CAST(count(*) AS BIGINT) AS grp_n,
         min(doc_id) AS keep_id
  FROM uc_c GROUP BY 1
)
SELECT c.doc_id, c.canon_url, g.grp_n, c.doc_id = g.keep_id AS keep
FROM uc_c c JOIN uc_g g USING (canon_url)
"""


# American Soundex letter->class map (a-z): 0 = vowel/y (breaks runs,
# then dropped), 9 = h/w (transparent: dropped BEFORE run-collapse so
# same-class letters around them merge), 1-6 = consonant classes.
SOUNDEX_MAP = "01230129022455012623019202"


def soundex_expr(col: Column) -> Column:
    """American Soundex as pure column algebra — NOT Spark's built-in
    F.soundex, so the DuckDB twin can replay the identical transform
    chain (RE2 has no backreferences; runs collapse via six per-digit
    regexp_replace passes). Empty/non-alphabetic input yields ''.

    Order of operations (NARA standard): lowercase, strip non a-z,
    translate all letters to classes, drop transparent 9s, collapse
    same-digit runs, drop vowel 0s, drop the first letter's own class
    digit, pad to letter + 3 digits."""
    s = F.regexp_replace(F.lower(col), "[^a-z]", "")
    first = F.substring(s, 1, 1)
    digits = F.translate(s, "abcdefghijklmnopqrstuvwxyz", SOUNDEX_MAP)
    digits = F.regexp_replace(digits, "9", "")
    for d in "123456":
        digits = F.regexp_replace(digits, f"{d}{{2,}}", d)
    # drop the leading class digit contributed by the first letter
    # (vowel-initial words contribute a leading 0, dropped with the rest)
    first_class = F.translate(first, "abcdefghijklmnopqrstuvwxyz", SOUNDEX_MAP)
    digits = F.when(
        first_class.isin("0", "9") | (first_class == ""), digits
    ).otherwise(digits.substr(F.lit(2), F.length(digits)))
    digits = F.regexp_replace(digits, "0", "")
    return F.when(s == "", F.lit("")).otherwise(
        F.concat(F.upper(first), F.substring(F.concat(digits, F.lit("000")), 1, 3))
    )


def soundex_sql(expr: str) -> str:
    """DuckDB twin of soundex_expr — the same transform chain."""
    s = f"regexp_replace(lower({expr}), '[^a-z]', '', 'g')"
    digits = f"translate({s}, 'abcdefghijklmnopqrstuvwxyz', '{SOUNDEX_MAP}')"
    digits = f"regexp_replace({digits}, '9', '', 'g')"
    for d in "123456":
        digits = f"regexp_replace({digits}, '{d}{{2,}}', '{d}', 'g')"
    first = f"substr({s}, 1, 1)"
    first_class = (
        f"translate({first}, 'abcdefghijklmnopqrstuvwxyz', '{SOUNDEX_MAP}')"
    )
    digits = (
        f"CASE WHEN {first_class} IN ('0', '9', '') THEN {digits}"
        f" ELSE substr({digits}, 2) END"
    )
    digits = f"regexp_replace({digits}, '0', '', 'g')"
    return (
        f"CASE WHEN {s} = '' THEN ''"
        f" ELSE upper({first}) || substr({digits} || '000', 1, 3) END"
    )


RAKE_STOPWORDS = (
    "a an and are as at be by for from has he in is it its of on or that"
    " the to was were will with this these those i you we they"
).split()


def rake_phrases(
    docs: DataFrame,
    top_m: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(phrase, n_docs, n_occur, score_micro) — RAKE keyword extraction
    (Rose et al. 2010): candidate phrases are maximal stopword-free
    word runs; each word scores deg(w)/freq(w) (deg = Σ lengths of
    phrases containing w, freq = occurrences) and a phrase scores the
    sum of its words' scores. The classic unsupervised keyphrase
    miner — corpus-level here: scores aggregate over ALL documents and
    the top-m phrases come back with exact fixed-point scores,

        score_micro(phrase) = Σ_w (10⁶ · deg(w)) DIV freq(w)

    (per-word truncating division — deterministic, order-free). Ties
    pinned by (score DESC, phrase ASC).

    Scale: two explodes (phrases, then words) + three combinable
    rollups + one broadcast of the word-score table; the final top-m
    is a single global window over the phrase table (vocabulary-
    bounded, not corpus-bounded)."""
    stop_arr = F.array(*[F.lit(w) for w in RAKE_STOPWORDS])
    # split to words, mark stopwords with a separator, re-split phrases
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", " ")
    words = F.split(norm, r"\s+")
    marked = F.transform(
        words,
        lambda w: F.when(
            F.array_contains(stop_arr, w) | (w == ""), F.lit("|")
        ).otherwise(w),
    )
    phrase_str = F.array_join(marked, " ")
    phrases_arr = F.split(phrase_str, r"\|")
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(phrases_arr).alias("_p0"),
    ).select(
        "doc_id", F.trim(F.regexp_replace(F.col("_p0"), r"\s+", " ")).alias("phrase")
    ).filter(F.col("phrase") != "")
    occ = d.groupBy("phrase").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occur"),
    )
    pw = d.select(
        "phrase",
        F.size(F.split(F.col("phrase"), " ")).cast("long").alias("plen"),
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
    )
    wscore = pw.groupBy("w").agg(
        F.sum("plen").cast("long").alias("deg"),
        F.count(F.lit(1)).cast("long").alias("freq"),
    )
    # per-phrase score: distinct phrase decomposition joined to scores;
    # each occurrence of a word within a phrase counts once per position
    ppos = occ.select("phrase").select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    ps = (
        ppos.join(F.broadcast(wscore), "w")
        .groupBy("phrase")
        .agg(
            F.sum(
                F.expr("CAST(1000000 * deg DIV freq AS BIGINT)")
            ).cast("long").alias("score_micro")
        )
    )
    from pyspark.sql.window import Window as _W

    out = occ.join(ps, "phrase").withColumn(
        "_rk",
        F.row_number().over(
            _W.orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        ),
    )
    return out.filter(F.col("_rk") <= top_m).drop("_rk")


def rake_phrases_sql(docs_cte: str, top_m: int = 15) -> str:
    """DuckDB twin of rake_phrases. ``docs_cte`` -> (doc_id, text)."""
    stops = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)
    return f"""
WITH rk_d AS (SELECT doc_id, text FROM ({docs_cte})),
rk_marked AS (
  SELECT doc_id,
         list_transform(
           regexp_split_to_array(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), '\\s+'),
           w -> CASE WHEN w IN ({stops}) OR w = '' THEN '|' ELSE w END
         ) AS marked
  FROM rk_d
),
rk_p AS (
  SELECT doc_id,
         trim(regexp_replace(p0, '\\s+', ' ', 'g')) AS phrase
  FROM (
    SELECT doc_id,
           unnest(string_split(array_to_string(marked, ' '), '|')) AS p0
    FROM rk_marked
  ) WHERE trim(regexp_replace(p0, '\\s+', ' ', 'g')) <> ''
),
rk_occ AS (
  SELECT phrase, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occur
  FROM rk_p GROUP BY 1
),
rk_pw AS (
  SELECT phrase, len(string_split(phrase, ' ')) AS plen,
         unnest(string_split(phrase, ' ')) AS w
  FROM rk_p
),
rk_ws AS (
  SELECT w, CAST(SUM(plen) AS BIGINT) AS deg,
         CAST(COUNT(*) AS BIGINT) AS freq
  FROM rk_pw GROUP BY 1
),
rk_ppos AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS w FROM rk_occ
),
rk_ps AS (
  SELECT p.phrase,
         CAST(SUM((1000000 * s.deg) // s.freq) AS BIGINT) AS score_micro
  FROM rk_ppos p JOIN rk_ws s USING (w)
  GROUP BY 1
),
rk_rk AS (
  SELECT o.phrase, o.n_docs, o.n_occur, s.score_micro,
         row_number() OVER (ORDER BY s.score_micro DESC, o.phrase ASC) AS rk
  FROM rk_occ o JOIN rk_ps s USING (phrase)
)
SELECT phrase, n_docs, n_occur, score_micro FROM rk_rk WHERE rk <= {top_m}
"""


# Module-constant sentiment lexicon (own weights; part of the operator
# definition, shared verbatim by both engines).
SENTIMENT_LEXICON = {
    "fast": 2, "quick": 2, "clean": 2, "good": 3, "great": 3,
    "slow": -2, "small": -1, "broken": -3, "dirty": -2, "bad": -3,
    "large": 1, "fresh": 2, "stale": -2,
}


def lexicon_sentiment(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_tokens, n_pos, n_neg, score, verdict) — LEXICON
    SENTIMENT/TONE scoring (the AFINN/VADER-family mechanism with the
    module's own weight table): tokens join the broadcast lexicon,
    score = Σ weights (exact int), verdict = pos / neg / neutral by
    sign. The cheap affect/tone gate of corpus curation — flag rant
    and spam tails before expensive model scoring.

    Scale: one explode + one broadcast join + one combinable rollup."""
    lex = [(w, s) for w, s in sorted(SENTIMENT_LEXICON.items())]
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    spark = docs.sparkSession
    lex_df = local_frame(spark, lex, "w string, wt long")
    j = toks.join(F.broadcast(lex_df), "w", "left")
    agg = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("wt") > 0, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("wt") < 0, 1).otherwise(0)).cast("long").alias("n_neg"),
        F.sum(F.coalesce(F.col("wt"), F.lit(0))).cast("long").alias("score"),
    )
    return agg.select(
        "doc_id", "n_tokens", "n_pos", "n_neg", "score",
        F.when(F.col("score") > 0, "pos")
        .when(F.col("score") < 0, "neg")
        .otherwise("neutral")
        .alias("verdict"),
    )


def lexicon_sentiment_sql(docs_cte: str) -> str:
    """DuckDB twin of lexicon_sentiment — the lexicon inlined as a
    VALUES table with identical weights."""
    lex = ", ".join(
        f"('{w}', {s})" for w, s in sorted(SENTIMENT_LEXICON.items())
    )
    return f"""
WITH lx_d AS (SELECT doc_id, text FROM ({docs_cte})),
lx_lex(w, wt) AS (SELECT * FROM (VALUES {lex})),
lx_t AS (
  SELECT doc_id, w FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
    FROM lx_d
  ) WHERE w <> ''
),
lx_j AS (
  SELECT t.doc_id, l.wt FROM lx_t t LEFT JOIN lx_lex l USING (w)
),
lx_a AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN wt < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(SUM(COALESCE(wt, 0)) AS BIGINT) AS score
  FROM lx_j GROUP BY 1
)
SELECT doc_id, n_tokens, n_pos, n_neg, score,
       CASE WHEN score > 0 THEN 'pos'
            WHEN score < 0 THEN 'neg' ELSE 'neutral' END AS verdict
FROM lx_a
"""
