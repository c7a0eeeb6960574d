"""Deterministic corpus sampling and document chunking.

Training-data pipeline stages the reference (aspectumapp/osm2geojson) has no
analog for — engine-extension surface alongside dedup.py/similarity.py.

Design for 100 TB:

* **Sampling is a scan + filter, never an RNG.** `rand()`-based sampling is
  non-reproducible across retries (a re-executed task draws fresh numbers →
  duplicate or missing rows in the output of a resumed job) and can't be
  audited. Hash-gate sampling — keep a row iff ``h(key) % D < rate·D`` for a
  fixed congruential ``h`` — is idempotent, embarrassingly parallel, needs no
  shuffle, pushes the filter into the scan, and any SQL engine reproduces the
  exact row set (the driver oracle does, bit for bit).
* **Stratified rates are a broadcastable CASE expression**, not a join: the
  strata→rate table is tiny by construction, so it folds into the filter
  predicate and stays inside whole-stage codegen.
* **Chunking is a per-row explode** (no shuffle): fixed character windows
  with overlap, the standard RAG / context-window prep. Window arithmetic is
  pure integer math on ``length(text)`` so the SQL twin slices the very same
  substrings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_frame

# Congruential gate. The key is reduced mod the prime FIRST, so (a) any
# int64 key is legal — the product (MOD-1)·MUL + ADD ≈ 2.7e15 stays far
# below 2^63, no silent Spark wrap / DuckDB overflow error (round-3
# ADVICE); and (b) the reduction + outer pmod keep the gate in [0, MOD)
# for NEGATIVE keys too — Spark's native % is sign-preserving, so a plain
# `%` gate would let every negative-key row pass every threshold. The
# modulus is prime so low-order key patterns (sequential ids, even-only
# ids) don't bias the gate.
_H_MUL = 2654435761
_H_ADD = 12345
_H_MOD = 1_000_003


def sample_hash(key: Column) -> Column:
    """h(key) in [0, 1_000_003): the deterministic sampling gate.
    Total over all of int64 — negative keys included."""
    k = F.pmod(key.cast("long"), F.lit(_H_MOD))
    return F.pmod(k * F.lit(_H_MUL) + F.lit(_H_ADD), F.lit(_H_MOD))


def sample_hash_sql(key: str) -> str:
    # DuckDB's % is sign-preserving like Spark's, so normalize the inner
    # residue into [0, MOD) by hand; the outer value is then nonnegative
    # and a plain % matches Spark's pmod exactly.
    k = f"((({key} % {_H_MOD}) + {_H_MOD}) % {_H_MOD})"
    return f"(({k} * {_H_MUL} + {_H_ADD}) % {_H_MOD})"


def _threshold(rate: float) -> int:
    """Integer gate threshold; floor so both engines agree exactly."""
    return int(rate * _H_MOD)


def stratified_sample(
    df: DataFrame,
    strata_col: Column | str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
    barrier: bool = False,
) -> DataFrame:
    """Keep each row with its stratum's rate, deterministically by
    ``key_col``: row survives iff ``sample_hash(key) < floor(rate·D)``.
    ``rates`` maps stratum value → rate in [0, 1]; unlisted strata get
    ``default_rate``. One scan, no shuffle, no RNG state.

    ``barrier=True`` re-projects the stratum through a no-op
    NON-DETERMINISTIC guard column before filtering.  Set it when the
    stratum is an EXPENSIVE derived column (e.g. text-derived language):
    without it PushDownPredicate substitutes the stratum's full defining
    expression into EVERY reference inside the threshold CASE and pushes
    the blown-up predicate to the scan — measured 60x slower (4.2 s vs
    0.07 s at sf0.1) on the lang-stratified driver query.  Leave it False
    for stored strata columns, where pushdown to the scan is exactly what
    you want.

    Barrier mechanics (Spark 4.x): guard predicates like
    ``rand() < -1`` OR-ed into the gate no longer work — the optimizer
    folds comparisons against rand()'s known [0, 1) range, and Spark 4
    pushes even non-deterministic FILTERS through deterministic projects.
    What does hold is that a filter cannot be pushed through a projection
    whose referenced column is itself non-deterministic, and CollapseProject
    cannot duplicate a non-deterministic expression.  ``randn() > -1e9``
    is unfoldable (unbounded range) yet can never be false in float64
    (Box-Muller magnitudes cap near 40 sigma), so
    ``when(randn() > -1e9, stratum)`` is a value-preserving projection
    barrier.  Pinned by tests/test_plans.py
    ``test_stratified_sample_barrier_keeps_stack_single_pass``."""
    strata = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    if barrier:
        df = df.withColumn(
            "__stratum_nb", F.when(F.randn(0) > F.lit(-1e9), strata)
        )
        strata = F.col("__stratum_nb")
    thr: Column = F.lit(_threshold(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(strata == F.lit(value), F.lit(_threshold(rate))).otherwise(thr)
    gate = sample_hash(F.col(key_col)) < thr
    out = df.filter(gate)
    return out.drop("__stratum_nb") if barrier else out


def stratified_sample_sql(
    strata_expr: str, rates: dict[str, float], key: str, default_rate: float = 0.0
) -> str:
    """WHERE-clause twin of `stratified_sample` (exact same integer gate)."""
    whens = "".join(
        f"WHEN {strata_expr} = '{v}' THEN {_threshold(r)} "
        for v, r in sorted(rates.items())
    )
    case = f"CASE {whens}ELSE {_threshold(default_rate)} END"
    return f"{sample_hash_sql(key)} < {case}"


def chunk_documents(
    df: DataFrame,
    chunk_chars: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed character windows of ``chunk_chars``
    overlapping by ``overlap``: chunk i covers [i·stride, i·stride +
    chunk_chars) with stride = chunk_chars − overlap; the last window is
    the remainder (never empty; a short document yields one chunk of
    itself). Output: (id_col, chunk_idx, chunk_text, chunk_len) — one
    explode per row, zero shuffles, linear in corpus bytes."""
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    # ceil((n - overlap) / stride), min 1: number of windows needed so the
    # last window's start (k-1)*stride is < n - overlap (no empty tail).
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(stride))).cast(
            "long"
        ),
        F.lit(1),
    )
    idx = F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_idx")
    out = df.select(F.col(id_col), F.col(text_col), idx)
    chunk = F.substring(
        F.col(text_col), (F.col("chunk_idx") * stride + F.lit(1)).cast("int"),
        chunk_chars,
    )
    return out.select(
        id_col,
        "chunk_idx",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


def cap_per_group(
    df: DataFrame, group_col: str, k: int, key_col: str
) -> DataFrame:
    """Domain cap (the C4/RefinedWeb "max N documents per domain" stage):
    keep the ``k`` rows with the smallest ``(sample_hash(key), key)`` per
    group — a deterministic reservoir: every group member has an equal,
    engine-independent chance and re-runs pick the identical survivors.
    One shuffle (window over group); at 100 TB heavy domains are exactly
    the skewed groups, so this composes with plans/skew salting the same
    way the PIP shuffle path does. The (hash, key) tiebreak makes rank
    total, so the survivor SET is unique — safe to compare across
    engines."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(
        sample_hash(F.col(key_col)).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def cap_per_group_sql(
    source_sql: str, group: str, k: int, key: str, cols: str
) -> str:
    """DuckDB twin of `cap_per_group` (identical hash + total tiebreak)."""
    return f"""
SELECT {cols} FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {group}
    ORDER BY {sample_hash_sql(key)} ASC, {key} ASC
  ) AS _rk
  FROM ({source_sql})
) WHERE _rk <= {k}
"""


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: str = "tokens",
    shard_col: str = "shard",
    order_col: str = "doc_id",
) -> DataFrame:
    """Greedy next-fit sequence packing: within each shard, walk documents
    in ``order_col`` order keeping a running token total; when adding the
    next document would exceed ``budget`` (and the bin is non-empty), start
    a new bin. An oversized document still gets a bin of its own. Adds a
    ``bin`` column; everything else passes through.

    This is the streaming-friendly NEXT-FIT variant of pretraining sample
    packing (first-fit-decreasing needs a global sort + mutable bin state;
    next-fit is one ordered pass). Shards are the parallelism unit — at
    100 TB a shard is one input split, bins never cross shards, and the
    only movement is the shard hash partition that applyInPandas needs;
    the per-shard pass is O(rows), Arrow-batched."""
    import pandas as pd

    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        bins = []
        running, b = 0, 0
        for t in pdf[token_col]:
            t = int(t)
            if running > 0 and running + t > budget:
                b += 1
                running = 0
            running += t
            bins.append(b)
        pdf["bin"] = bins
        return pdf

    return df.groupBy(shard_col).applyInPandas(fn, schema=f"{fields}, bin long")


def pack_sequences_sql(
    source_sql: str,
    budget: int,
    token: str = "tokens",
    shard: str = "shard",
    order: str = "doc_id",
) -> str:
    """DuckDB twin of `pack_sequences` via a recursive CTE: one recursion
    step per in-shard position, every shard advancing in lockstep (total
    rows produced = input rows). ``source_sql`` must yield the shard,
    order and token columns; result exposes them plus ``bin``."""
    return f"""
WITH RECURSIVE src AS ({source_sql}),
d AS (
  SELECT {shard}, {order}, {token},
         row_number() OVER (PARTITION BY {shard} ORDER BY {order}) AS rn
  FROM src
),
packed AS (
  SELECT {shard}, {order}, {token}, rn,
         0 AS bin, {token} AS running
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.{shard}, d.{order}, d.{token}, d.rn,
         CASE WHEN p.running + d.{token} > {budget} THEN p.bin + 1
              ELSE p.bin END,
         CASE WHEN p.running + d.{token} > {budget} THEN d.{token}
              ELSE p.running + d.{token} END
  FROM packed p JOIN d ON d.{shard} = p.{shard} AND d.rn = p.rn + 1
)
SELECT {shard}, {order}, {token}, bin FROM packed
"""


def chunk_documents_sql(
    table: str, chunk_chars: int, overlap: int = 0,
    text: str = "text", id_: str = "doc_id",
) -> str:
    """DuckDB twin of `chunk_documents` (identical window arithmetic;
    DuckDB substr clamps past-end reads exactly like Spark substring)."""
    stride = chunk_chars - overlap
    return f"""
SELECT {id_}, g.chunk_idx,
       substr({text}, CAST(g.chunk_idx * {stride} + 1 AS INT), {chunk_chars})
         AS chunk_text,
       length(substr({text}, CAST(g.chunk_idx * {stride} + 1 AS INT),
              {chunk_chars})) AS chunk_len
FROM {table},
     LATERAL (
       SELECT unnest(range(greatest(
         CAST(ceil((length({text}) - {overlap}) / {float(stride)}) AS BIGINT),
         1))) AS chunk_idx
     ) g
"""


def pps_systematic(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    stride: int,
    n_buckets: int = 64,
) -> DataFrame:
    """(key, weight, cum, n_hits) — SYSTEMATIC PPS SAMPLING (probability
    proportional to size, Madow 1949): walk the population in key order
    accumulating integer weights and select every ``stride``-th unit of
    cumulative weight. A unit with weight w is selected
    floor(cum/stride) - floor((cum-w)/stride) times — in expectation-free
    EXACT terms, n_hits is within 1 of w/stride, and for w <= stride the
    unit is picked at most once with inclusion share exactly w/stride of
    the weight line. All integer; zero RNG — the sample is a pure
    function of the (key, weight) relation. The survey-statistics /
    training-mixture workhorse when big documents must be likelier but a
    per-row independent coin (stratified_sample) wastes budget variance.

    Contract: keys unique, weights positive int64.

    Scale: the global prefix sum is the textbook TWO-LEVEL SCAN — keys
    are range-bucketed by value (order-aligned), per-bucket totals (at
    most ``n_buckets`` rows) come to the driver once, and each bucket's
    running sum is then a PARALLEL window (partitionBy bucket) shifted
    by its broadcast offset. No single-partition window, one tiny
    collect, two scans. The SQL twin is the serial window cumsum —
    independent mechanism, identical integers."""
    key = F.col(key_col)
    w = F.col(weight_col).cast("long")
    base = df.select(key.alias("_k"), w.alias("_w"))
    lo, hi = base.agg(F.min("_k"), F.max("_k")).first()
    if lo is None:
        return base.select(
            F.col("_k").alias(key_col), F.col("_w").alias("weight"),
            F.lit(0).cast("long").alias("cum"),
            F.lit(0).cast("long").alias("n_hits"),
        )
    span = max(int(hi) - int(lo) + 1, 1)
    bucket = ((F.col("_k") - F.lit(int(lo))) * F.lit(n_buckets) / F.lit(span)).cast(
        "long"
    )
    b = base.withColumn("_b", bucket)
    totals = sorted(
        (r["_b"], r["t"])
        for r in b.groupBy("_b").agg(F.sum("_w").alias("t")).collect()
    )
    offsets, acc = {}, 0
    for bk, t in totals:
        offsets[bk] = acc
        acc += t
    off = F.lit(0).cast("long")
    for bk, o in sorted(offsets.items()):
        off = F.when(F.col("_b") == F.lit(bk), F.lit(o).cast("long")).otherwise(off)
    wnd = (
        Window.partitionBy("_b")
        .orderBy(F.col("_k").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum("_w").over(wnd) + off).alias("cum")
    out = b.select(
        F.col("_k").alias(key_col), F.col("_w").alias("weight"), cum
    ).withColumn(
        # integer DIV, not float-divide-then-floor: exact past 2^53
        "n_hits",
        F.expr(f"CAST(cum DIV {int(stride)} AS BIGINT)")
        - F.expr(f"CAST((cum - weight) DIV {int(stride)} AS BIGINT)"),
    )
    return out.filter(F.col("n_hits") > 0)


def pps_systematic_sql(
    rows_cte: str, key: str, weight: str, stride: int
) -> str:
    """DuckDB twin — serial window cumsum over key order, identical
    integer hit arithmetic."""
    return f"""
WITH r AS ({rows_cte}),
c AS (
  SELECT {key}, CAST({weight} AS BIGINT) AS weight,
         CAST(sum(CAST({weight} AS BIGINT)) OVER (
           ORDER BY {key} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM r
)
SELECT {key}, weight, cum,
       CAST((cum // {stride}) - ((cum - weight) // {stride}) AS BIGINT)
         AS n_hits
FROM c
WHERE (cum // {stride}) - ((cum - weight) // {stride}) > 0
"""


CDC_P = 257  # rolling-hash base
CDC_M = 1_000_003  # rolling-hash modulus (prime)


def cdc_chunks(
    df: DataFrame,
    window: int = 8,
    mask: int = 63,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (the Rabin rolling-hash boundary rule of
    dedup systems: LBFS/rsync/restic) — split each document where the
    hash of the trailing ``window`` characters satisfies
    ``h % (mask+1) == 0``, giving chunks whose BOUNDARIES move with the
    content: insert one character and only the neighboring chunks
    change, which is what makes chunk-hash dedup robust to edits, where
    fixed-window chunking (chunk_documents) reshifts everything.

    Expected chunk length is ~(mask+1) characters. The rolling hash is
    evaluated WITHOUT any UDF: the trailing-window hash at position i is

        h_i = sum_{k=0..window-1} code(c_{i-k}) * P^k  mod M

    i.e. ``window`` lag() terms times precomputed power-of-P constants —
    pure JVM column algebra over the exploded character sequence,
    identical integer math in the DuckDB twin. Characters are taken by
    code unit (``ascii()``/``unicode()`` — corpus is ASCII; a byte-level
    production variant runs the same recurrence over binary).

    Returns one row per chunk: (id_col, chunk_seq, start, chunk_chars).
    Empty documents yield no rows.

    Scale: the per-character explode is the ORACLE-PARITY form — honest
    cost |corpus chars| rows through one per-doc window sort. At 100 TB
    run the identical recurrence as an Arrow kernel over the raw bytes
    (mapInPandas, one pass, no explode); the relational form here pins
    the semantics the kernel must match."""
    assert window >= 1 and mask >= 0
    pows = [pow(CDC_P, k, CDC_M) for k in range(window)]
    chars = (
        df.filter(F.length(F.col(text_col)) > 0)
        .select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), "(?!^)")).alias("pos", "ch"),
        )
        # Spark's split keeps a trailing empty element (python/DuckDB char
        # enumeration does not) — a phantom code-0 char would corrupt the
        # last window's hashes
        .filter(F.length("ch") > 0)
        .withColumn("code", F.ascii("ch"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    h = F.lit(0).cast("long")
    for k, pk in enumerate(pows):
        ck = F.lag("code", k).over(w) if k else F.col("code")
        h = h + F.coalesce(ck, F.lit(0)).cast("long") * F.lit(pk)
    hmod = F.pmod(h, F.lit(CDC_M))
    boundary = (
        (F.col("pos") >= F.lit(window - 1))
        & (F.pmod(hmod, F.lit(mask + 1)) == 0)
    ).cast("long")
    marked = chars.withColumn("_b", boundary).withColumn(
        # a boundary ENDS a chunk at pos: the next char starts chunk+1
        "chunk_seq",
        F.coalesce(
            F.sum("_b").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long"),
    )
    return marked.groupBy(id_col, "chunk_seq").agg(
        F.min("pos").cast("long").alias("start"),
        F.count(F.lit(1)).cast("long").alias("chunk_chars"),
    )


def cdc_chunks_arrow(
    df: DataFrame,
    window: int = 8,
    mask: int = 63,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """PRODUCTION FORM of cdc_chunks — the identical rolling-hash
    recurrence as a ONE-PASS Arrow kernel: no per-character explode, no
    window shuffle; each document is chunked inside its batch with a
    vectorized convolution (np.convolve of the code-point array with the
    P^k kernel, one mod at the end — exact in int64: max code 0x10FFFF
    x P^k < 2^53 per term, window terms sum < 2^63).

    Semantics are PINNED to the relational form (tests assert row-for-row
    equality): same boundaries, same (id, chunk_seq, start, chunk_chars)
    rows, empty documents yield nothing. At 10^12 documents this is the
    form to run — scan-shaped, shuffle-free; cdc_chunks is its oracle."""
    import numpy as np
    import pandas as pd

    assert window >= 1 and mask >= 0
    pows = np.asarray(
        [pow(CDC_P, k, CDC_M) for k in range(window)], dtype=np.int64
    )

    def fn(it):
        for pdf in it:
            out_id, out_seq, out_start, out_len = [], [], [], []
            for r in pdf.itertuples(index=False):
                text = r[1]
                if not text:
                    continue
                codes = np.fromiter(
                    (ord(c) for c in text), dtype=np.int64, count=len(text)
                )
                # h_i = sum_k codes[i-k] * P[k]  (mod M), i >= window-1
                conv = np.convolve(codes, pows)
                h = conv[window - 1 : len(codes)] % CDC_M
                cuts = np.flatnonzero(h % (mask + 1) == 0) + (window - 1)
                starts = np.concatenate(([0], cuts + 1))
                ends = np.concatenate((cuts, [len(codes) - 1]))
                keep = starts <= ends  # drop phantom tail when text ends on a cut
                starts, ends = starts[keep], ends[keep]
                n = len(starts)
                out_id.extend([r[0]] * n)
                out_seq.extend(range(n))
                out_start.extend(starts.tolist())
                out_len.extend((ends - starts + 1).tolist())
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_id, dtype="int64"),
                    "chunk_seq": pd.Series(out_seq, dtype="int64"),
                    "start": pd.Series(out_start, dtype="int64"),
                    "chunk_chars": pd.Series(out_len, dtype="int64"),
                }
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        fn,
        schema=f"{id_col} long, chunk_seq long, start long, chunk_chars long",
    )


def token_budget_fill(
    domains: DataFrame,
    budget: int,
    domain_col: str = "domain",
    count_col: str = "tokens",
) -> DataFrame:
    """WATER-FILLING TOKEN BUDGET ALLOCATION — the data-mixing stage of
    corpus assembly: given per-domain token counts and a global budget
    B, cap every domain at the common water level tau (small domains
    keep everything, big domains are truncated equally) so the total
    exactly meets B:

        tau* = max integer tau with sum_d min(c_d, tau) <= B

    and the leftover B - S(tau*) goes +1 each to the L capped domains
    ranked (count DESC, domain ASC) — fully deterministic, no floats.

    Closed form, no iteration: with domains sorted by count ascending
    (prefix sums P_i, i 1-based, n total), on the segment where tau
    falls between c_i and c_(i+1), S(tau) = P_i + (n-i)*tau, so
    tau_i = floor((B - P_i) / (n - i)) and tau* is the unique valid
    segment's value. One window over the DOMAIN list (corpus-sublinear)
    — the billion-document mix plan is metadata math.

    Returns one row per domain: (domain, tokens, alloc, capped) with
    sum(alloc) = min(B, total). Budget >= total allocates everything."""
    from pyspark.sql.window import Window

    assert budget >= 0
    d = domains.select(
        F.col(domain_col).alias("_d"), F.col(count_col).cast("long").alias("_c")
    )
    w = Window.orderBy(F.col("_c").asc(), F.col("_d").asc())
    ranked = d.select(
        "_d",
        "_c",
        F.row_number().over(w).cast("long").alias("_i"),
        F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("_p"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("_n"),
        F.lead("_c").over(w).alias("_cnext"),
    )
    B = F.lit(int(budget))
    # segment i (including the virtual i=0 with P=0): tau candidate
    tau_i = F.when(
        F.col("_i") < F.col("_n"),
        F.floor(
            (B - F.col("_p")).cast("double")
            / (F.col("_n") - F.col("_i")).cast("double")
        ).cast("long"),
    )
    seg_ok = (
        (F.col("_i") < F.col("_n"))
        & (tau_i >= F.col("_c"))
        & ((F.col("_cnext").isNull()) | (tau_i < F.col("_cnext")))
        & (B < F.lit(0) + F.max("_p").over(Window.partitionBy()))  # B < total
    )
    # also the i=0 segment (tau below the smallest count)
    zero_tau = F.floor(B.cast("double") / F.col("_n").cast("double")).cast("long")
    first = F.col("_i") == 1
    zero_ok = first & (zero_tau < F.col("_c")) & (B < F.max("_p").over(Window.partitionBy()))
    total = F.max("_p").over(Window.partitionBy())
    tau_row = F.when(seg_ok, tau_i).when(zero_ok, zero_tau)
    stats = (
        ranked.select("_n", total.alias("_total"), tau_row.alias("_tau"))
        .agg(
            F.max("_tau").alias("tau"),
            F.max("_total").alias("total"),
            F.max("_n").alias("n"),
        )
        .collect()[0]
    )
    if stats["tau"] is None or budget >= stats["total"]:
        return d.select(
            F.col("_d").alias(domain_col),
            F.col("_c").alias(count_col),
            F.col("_c").alias("alloc"),
            F.lit(False).alias("capped"),
        )
    tau = int(stats["tau"])
    s_tau = d.select(
        F.sum(F.least(F.col("_c"), F.lit(tau))).cast("long").alias("s")
    ).collect()[0]["s"]
    leftover = budget - int(s_tau)
    wl = Window.orderBy(F.col("_c").desc(), F.col("_d").asc())
    capped = F.col("_c") > F.lit(tau)
    extra = F.when(
        capped & (F.row_number().over(wl) <= F.lit(leftover)), F.lit(1)
    ).otherwise(F.lit(0))
    return d.select(
        F.col("_d").alias(domain_col),
        F.col("_c").alias(count_col),
        (F.least(F.col("_c"), F.lit(tau)) + extra).cast("long").alias("alloc"),
        capped.alias("capped"),
    )


def coverage_select(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(step, doc_id, gain, covered_total) — GREEDY MAX-COVERAGE
    selection (the classic (1 - 1/e) facility-location greedy;
    Nemhauser et al. 1978): pick ``k`` documents, each step taking the
    document covering the most NOT-YET-COVERED distinct normalized
    tokens, ties by ascending doc id — the vocabulary-coverage /
    data-subset-selection step of training-data curation (select the
    smallest doc set that still spans the corpus vocabulary).

    gain = number of newly covered tokens at that step; covered_total
    = running total (== distinct tokens covered so far, since gains
    count only new tokens).  Stops early when no remaining document
    adds a new token.  All counting is exact integers, so the greedy
    trace is engine-identical and the twin unrolls it as k chained
    CTEs.

    Scale: each of the <= k rounds is one anti-join (tokens vs the
    covered set, a distributed semi-structure — never collected) + one
    combinable count + a 1-row TakeOrdered; the covered set is
    recomputed from the picked-doc list so the plan has no growing
    lineage.  k is small by construction (a curation budget);
    tokens-per-doc is corpus-bounded."""
    from ..functions.text import normalize_col

    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(normalize_col(F.col(text_col)), " "),
                    lambda t: t != "",
                )
            )
        ).alias("tok"),
    ).persist()
    try:
        picked: list[int] = []
        out = []
        total = 0
        for step in range(1, int(k) + 1):
            remaining = toks.filter(~F.col("doc_id").isin(picked) if picked else F.lit(True))
            if picked:
                covered = (
                    toks.filter(F.col("doc_id").isin(picked))
                    .select("tok")
                    .distinct()
                )
                remaining = remaining.join(covered, "tok", "left_anti")
            gains = remaining.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("gain")
            )
            best = gains.orderBy(
                F.col("gain").desc(), F.col("doc_id").asc()
            ).limit(1).collect()
            if not best:
                break
            doc, gain = int(best[0]["doc_id"]), int(best[0]["gain"])
            total += gain
            out.append((step, doc, gain, total))
            picked.append(doc)
        spark = docs.sparkSession
        return local_frame(
            spark, out, "step long, doc_id long, gain long, covered_total long"
        )
    finally:
        toks.unpersist()


def coverage_select_sql(
    docs_cte: str, k: int = 5, text_col: str = "text"
) -> str:
    """DuckDB twin of coverage_select — the greedy unrolled as k chained
    (gains -> row_number pick -> covered union) CTE blocks over the
    same normalized distinct (doc_id, tok) relation."""
    from ..functions.text import normalize_sql

    norm = normalize_sql(text_col)
    parts = [
        f"src AS ({docs_cte})",
        f"""toks AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok
  FROM (
    SELECT doc_id, unnest(list_filter(string_split({norm}, ' '),
                          t -> t != '')) AS tok
    FROM src
  )
)""",
        """g1 AS (SELECT doc_id, count(*) AS gain FROM toks GROUP BY 1)""",
        """sel1 AS (
  SELECT 1 AS step, doc_id, gain FROM g1
  QUALIFY row_number() OVER (ORDER BY gain DESC, doc_id ASC) = 1
)""",
        """cov1 AS (SELECT DISTINCT t.tok FROM toks t
  JOIN sel1 s ON s.doc_id = t.doc_id)""",
        """pick1 AS (SELECT step, doc_id, gain FROM sel1)""",
    ]
    for i in range(2, int(k) + 1):
        p = i - 1
        parts.append(f"""g{i} AS (
  SELECT t.doc_id, count(*) AS gain FROM toks t
  WHERE t.tok NOT IN (SELECT tok FROM cov{p})
    AND t.doc_id NOT IN (SELECT doc_id FROM pick{p})
  GROUP BY 1
)""")
        parts.append(f"""sel{i} AS (
  SELECT {i} AS step, doc_id, gain FROM g{i}
  QUALIFY row_number() OVER (ORDER BY gain DESC, doc_id ASC) = 1
)""")
        parts.append(f"""cov{i} AS (
  SELECT tok FROM cov{p}
  UNION
  SELECT t.tok FROM toks t JOIN sel{i} s ON s.doc_id = t.doc_id
)""")
        parts.append(f"""pick{i} AS (
  SELECT * FROM pick{p} UNION ALL SELECT step, doc_id, gain FROM sel{i}
)""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT step, doc_id, gain,
       CAST(sum(gain) OVER (ORDER BY step) AS BIGINT) AS covered_total
FROM pick{int(k)}
"""
    )


def l_diversity(
    rows: DataFrame,
    cell_col: str = "cell_id",
    sensitive_col: str = "s",
    k_min: int = 5,
    l_min: int = 2,
) -> DataFrame:
    """(cell_id, k, l_distinct, top_share_micro, ok) — L-DIVERSITY
    AUDIT (Machanavajjhala et al. 2006), the release gate that
    k-anonymity (kanon_cells) alone misses: a cell whose k rows all
    share one sensitive value leaks it regardless of k. Per cell: the
    row count k, the number of DISTINCT sensitive values l, and the
    dominant value's share (exact micro quotient — the homogeneity-
    attack risk); ``ok`` iff k >= k_min AND l >= l_min.

    Scale: one combinable (cell, sensitive) rollup, then a per-cell
    rollup with a MAX(struct) dominant pick — two shuffles, no windows,
    no distinct() on raw rows."""
    per = rows.groupBy(
        F.col(cell_col).alias("cell_id"), F.col(sensitive_col).alias("s")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    agg = per.groupBy("cell_id").agg(
        F.sum("c").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        F.max("c").cast("long").alias("_top"),
    )
    return agg.select(
        "cell_id",
        "k",
        "l_distinct",
        F.expr("_top * 1000000 DIV k").cast("long").alias("top_share_micro"),
        (
            (F.col("k") >= int(k_min)) & (F.col("l_distinct") >= int(l_min))
        ).alias("ok"),
    )


def l_diversity_sql(
    rows_cte: str, k_min: int = 5, l_min: int = 2
) -> str:
    """DuckDB twin of l_diversity — identical rollups and gates.
    ``rows_cte`` -> (cell_id, s)."""
    return f"""
WITH ld_src AS ({rows_cte}),
ld_per AS (
  SELECT cell_id, s, CAST(count(*) AS BIGINT) AS c
  FROM ld_src GROUP BY 1, 2
)
SELECT cell_id, CAST(sum(c) AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS l_distinct,
       CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS top_share_micro,
       sum(c) >= {int(k_min)} AND count(*) >= {int(l_min)} AS ok
FROM ld_per GROUP BY 1
"""


import math as _math

# Poisson(1) CDF thresholds over [0, _H_MOD) — computed once here and
# shared verbatim by both engines (k = #thresholds strictly below u).
POIS1_THRESHOLDS = tuple(
    int(sum(_math.exp(-1.0) / _math.factorial(i) for i in range(k + 1)) * _H_MOD)
    for k in range(6)
)


def poisson_bootstrap_ci(
    df: DataFrame,
    b_reps: int = 32,
    q_lo: int = 5,
    q_hi: int = 95,
    group_col: str = "g",
    key_col: str = "k",
    value_col: str = "x",
) -> DataFrame:
    """(g, n, mean_micro, ci_lo_micro, ci_hi_micro, b_eff) — POISSON
    BOOTSTRAP confidence intervals for per-group means (Chamandy et
    al., "Estimating Uncertainty for Massive Data Streams" — the
    bootstrap that works in one pass at warehouse scale): replicate b
    reweights row i by w ~ Poisson(1), here a DETERMINISTIC
    pseudo-Poisson read off sample_hash(key·B + b) against the
    module-constant CDF thresholds (both engines share the integers;
    no RNG). Replicate means are exact fixed-point
    10⁶·Σ(w·x) DIV Σw (truncating, values quantized upstream);
    ci bounds are the type-1 quantiles at rank ⌈q·b_eff/100⌉ over the
    replicate means (empty replicates dropped — ``b_eff`` reports the
    survivors). mean_micro is the plain point estimate. Values must be
    NONNEGATIVE integers (truncating vs floor division differ below
    zero) — shift upstream if needed.

    Scale: one explode by B (the documented B× scan cost — B=32 is
    the published operating point) into a combinable (g, b) rollup;
    the quantile window runs over B rows per group, not data."""
    reps = F.explode(F.array(*[F.lit(b) for b in range(b_reps)])).alias("b")
    base = df.select(
        F.col(group_col).alias("g"),
        F.col(key_col).cast("long").alias("k"),
        F.col(value_col).cast("long").alias("x"),
        reps,
    )
    u = sample_hash(F.col("k") * b_reps + F.col("b"))
    w = F.lit(0)
    for t in POIS1_THRESHOLDS:
        w = w + (u >= t).cast("long")
    rep = (
        base.select("g", "b", "x", w.alias("w"))
        .groupBy("g", "b")
        .agg(F.sum("w").alias("sw"), F.sum(F.col("w") * F.col("x")).alias("swx"))
        .filter(F.col("sw") > 0)
        .select(
            "g", "b",
            F.expr("CAST(1000000 * swx DIV sw AS BIGINT)").alias("m"),
        )
    )
    wq = Window.partitionBy("g").orderBy("m")
    ranked = rep.select(
        "g", "m", F.row_number().over(wq).cast("long").alias("r")
    ).withColumn(
        "beff", F.count(F.lit(1)).over(Window.partitionBy("g")).cast("long")
    )
    lo = ranked.filter(
        F.col("r") == F.ceil(F.lit(q_lo) * F.col("beff") / 100).cast("long")
    ).select("g", F.col("m").alias("ci_lo_micro"))
    hi = ranked.filter(
        F.col("r") == F.ceil(F.lit(q_hi) * F.col("beff") / 100).cast("long")
    ).select("g", F.col("m").alias("ci_hi_micro"))
    beff = ranked.groupBy("g").agg(F.max("beff").alias("b_eff"))
    point = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            f"CAST(1000000 * sum(CAST({value_col} AS BIGINT))"
            " DIV count(1) AS BIGINT)"
        ).alias("mean_micro"),
    )
    return (
        point.join(lo, "g").join(hi, "g").join(beff, "g")
        .select("g", "n", "mean_micro", "ci_lo_micro", "ci_hi_micro", "b_eff")
    )


def poisson_bootstrap_ci_sql(
    rows_cte: str,
    b_reps: int = 32,
    q_lo: int = 5,
    q_hi: int = 95,
) -> str:
    """DuckDB twin of poisson_bootstrap_ci. ``rows_cte`` -> (g, k, x)."""
    u = sample_hash_sql(f"(k * {b_reps} + b)")
    w = " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in POIS1_THRESHOLDS
    )
    return f"""
WITH pb_src AS (
  SELECT g, CAST(k AS BIGINT) AS k, CAST(x AS BIGINT) AS x
  FROM ({rows_cte})
),
pb_rep AS (
  SELECT s.g, b.b, s.x, CAST({w} AS BIGINT) AS w
  FROM pb_src s
  CROSS JOIN (SELECT unnest(range(0, {b_reps})) AS b) b
),
pb_m AS (
  SELECT g, b, CAST(1000000 * SUM(w * x) // SUM(w) AS BIGINT) AS m
  FROM pb_rep GROUP BY 1, 2 HAVING SUM(w) > 0
),
pb_rk AS (
  SELECT g, m,
         CAST(row_number() OVER (PARTITION BY g ORDER BY m) AS BIGINT) AS r,
         CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS beff
  FROM pb_m
),
pb_lo AS (
  SELECT g, m AS ci_lo_micro FROM pb_rk
  WHERE r = CAST(ceil({q_lo} * beff / 100.0) AS BIGINT)
),
pb_hi AS (
  SELECT g, m AS ci_hi_micro FROM pb_rk
  WHERE r = CAST(ceil({q_hi} * beff / 100.0) AS BIGINT)
),
pb_be AS (SELECT g, MAX(beff) AS b_eff FROM pb_rk GROUP BY 1),
pb_pt AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(1000000 * SUM(x) // COUNT(*) AS BIGINT) AS mean_micro
  FROM pb_src GROUP BY 1
)
SELECT p.g, p.n, p.mean_micro, l.ci_lo_micro, h.ci_hi_micro, e.b_eff
FROM pb_pt p
JOIN pb_lo l USING (g) JOIN pb_hi h USING (g) JOIN pb_be e USING (g)
"""
