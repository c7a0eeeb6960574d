"""Cardinality sketching — the deterministic Theta-sampling distinct-count
estimator.

Exact ``count(DISTINCT x)`` over 100 TB is a full shuffle of every distinct
value; planners (dedup sizing, join-strategy choice, stratified-sample rate
fitting) only need a few-percent estimate. The fixed-threshold Theta sketch
(the sampling mode of the Theta-sketch family, Dasgupta et al. 2016) keeps
exactly the values whose hash falls below a threshold tau and scales the
surviving distinct count back up:

    est = n_sampled * (H_MOD / tau)

Because the hash is the engine's own congruential ``sampling.sample_hash``
(total, deterministic, engine-identical) the sketch is a PURE FUNCTION of
the value set: the survivor set, the exact ``n_sampled`` int64, and the one
float op of the estimate all hash-match a serial oracle — unlike HLL/KMV
implementations whose merge order leaks in. Survivor sets with the same tau
merge by union (distinct again) — partition-, stream-, and cluster-size-
independent.

Scale shape: scan -> hash filter (keeps ~tau/H_MOD of rows BEFORE any
shuffle) -> distinct on survivors only -> per-group count. The shuffle
carries a 1/rate fraction of the data; accuracy is ~1/sqrt(n_sampled)
(choose tau so hot groups sample >= ~10k values). No per-group state grows
with cardinality.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.local import local_frame
from .sampling import _H_ADD, _H_MOD, _H_MUL, sample_hash, sample_hash_sql


def theta_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    tau: int,
) -> DataFrame:
    """Per-group distinct-count estimate: (*group_cols, n_sampled, est)
    with ``n_sampled`` the EXACT number of distinct values whose
    sample_hash < ``tau`` and ``est = round(n_sampled * H_MOD / tau, 3)``
    (one multiply + divide on exact integers — identical in the SQL
    twin). Empty groups simply don't appear (no survivors)."""
    assert 0 < tau <= _H_MOD
    surv = (
        df.select(*group_cols, F.col(value_col).alias("_v"))
        .filter(sample_hash(F.col("_v")) < F.lit(tau))
        .distinct()
    )
    est = F.round(
        (F.count(F.lit(1)).cast("long") * F.lit(_H_MOD)).cast("double")
        / F.lit(float(tau)),
        3,
    ) + F.lit(0.0)
    return surv.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        est.alias("est"),
    )


def theta_distinct_sql(
    rows_cte: str, group_cols: list[str], value_col: str, tau: int
) -> str:
    """DuckDB twin — same hash gate, same distinct, same float assembly.
    ``rows_cte`` must yield the group columns and ``value_col``."""
    g = ", ".join(group_cols)
    h = sample_hash_sql(value_col)
    return f"""
WITH r AS ({rows_cte}),
surv AS (
  SELECT DISTINCT {g}, {value_col} AS _v FROM r WHERE {h} < {tau}
)
SELECT {g}, CAST(count(*) AS BIGINT) AS n_sampled,
       round(CAST(CAST(count(*) AS BIGINT) * {_H_MOD} AS DOUBLE)
             / {float(tau)!r}, 3) + 0.0 AS est
FROM surv GROUP BY {g}
"""


# --------------------------------------------------- count-min sketch

# Per-depth pairwise-independent-ish congruential hashes over the prime
# _CMS_P.  pmod(key, P) < 2^31 and MUL_d < 2^31, so the product stays
# under 2^62 — no int64 overflow in either engine.
_CMS_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_CMS_MULS = [1_103_515_245, 747_796_405, 22_695_477, 1_664_525,
             69_069, 1_566_083_941, 134_775_813, 214_013]
_CMS_ADDS = [12_345, 2_891_336_453 % _CMS_P, 1, 1_013_904_223,
             362_437, 1_732_584_193, 1, 2_531_011]


def _cms_cell(key: Column, d: int, width: int) -> Column:
    k = F.pmod(key.cast("long"), F.lit(_CMS_P))
    h = F.pmod(k * F.lit(_CMS_MULS[d]) + F.lit(_CMS_ADDS[d]), F.lit(_CMS_P))
    return F.pmod(h, F.lit(width))


def _cms_cell_sql(key: str, d: int, width: int) -> str:
    k = f"((({key} % {_CMS_P}) + {_CMS_P}) % {_CMS_P})"
    return f"((({k} * {_CMS_MULS[d]} + {_CMS_ADDS[d]}) % {_CMS_P}) % {width})"


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """(d, cell, cnt) — the COUNT-MIN SKETCH (Cormode & Muthukrishnan
    2005) of ``key_col``'s (optionally weighted) frequency vector: a
    depth x width grid of exact int64 counters, cnt[d][cell] =
    sum of weights over rows with h_d(key) = cell. Deterministic by
    construction (fixed hash family, order-free integer sums), so the
    sketch — not just the estimates — hash-matches a serial oracle.

    Scale: ONE map-side-combinable groupBy whose output is at most
    depth*width rows regardless of input size; sketches from different
    partitions/days/streams merge by cell-wise addition. Point-estimate
    error <= 2N/width with prob 1 - 2^-depth (ask for est, get an upper
    bound that's tight for heavy keys)."""
    assert 1 <= depth <= len(_CMS_MULS)
    key = F.col(key_col)
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = F.array(*[_cms_cell(key, d, width) for d in range(depth)])
    return (
        df.select(F.posexplode(cells).alias("d", "cell"), w.alias("_w"))
        .groupBy("d", "cell")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """keys + (est) — count-min point estimates: est = min over d of the
    sketch cell each hash routes the key to (0 for never-seen cells).
    The sketch is tiny (depth*width rows) and BROADCAST; the probe side
    never shuffles."""
    key = F.col(key_col)
    cells = F.array(*[_cms_cell(key, d, width) for d in range(depth)])
    probes = keys.select(key_col, F.posexplode(cells).alias("d", "cell"))
    joined = probes.join(F.broadcast(cms), ["d", "cell"], "left")
    return (
        joined.groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("long").alias("est"))
    )


def cms_estimate_sql(
    rows_cte: str,
    keys_cte: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_expr: str = "1",
) -> str:
    """DuckDB twin of cms_build + cms_estimate: identical hash family,
    identical integer sums, min over depth rows."""
    build_arms = " UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_cell_sql(key_col, d, width)} AS cell,"
        f" CAST({weight_expr} AS BIGINT) AS w FROM r"
        for d in range(depth)
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT {key_col}, {d} AS d, {_cms_cell_sql(key_col, d, width)} AS cell"
        f" FROM k" for d in range(depth)
    )
    return f"""
WITH r AS ({rows_cte}),
k AS ({keys_cte}),
cms AS (SELECT d, cell, CAST(sum(w) AS BIGINT) AS cnt
        FROM ({build_arms}) b GROUP BY d, cell),
probe AS ({probe_arms})
SELECT probe.{key_col},
       CAST(min(coalesce(cms.cnt, 0)) AS BIGINT) AS est
FROM probe LEFT JOIN cms ON cms.d = probe.d AND cms.cell = probe.cell
GROUP BY probe.{key_col}
"""


# --------------------------------------------------- Bloom filter

_BLOOM_BPW = 48  # bits per int64 word; < 63 so 1<<bit never touches sign
                 # in either engine


def bloom_build(
    df: DataFrame,
    key_col: str,
    n_words: int = 64,
    n_hashes: int = 3,
) -> DataFrame:
    """(word, bits) — a BLOOM FILTER over ``key_col`` as at most
    ``n_words`` rows of 48-bit int64 words: bit h_j(key) set for each of
    ``n_hashes`` hashes (the CMS hash family over n_words*48 positions).
    Deterministic by construction — bit_or is order-free — so the words
    themselves hash-match a serial oracle, false positives included.

    THE join-pruning primitive: build on the small/filtered side, probe
    the big side before the real join, and the shuffle carries only
    rows that might match (no false negatives, ever). Words from
    different partitions/days merge by bit_or.

    Scale: one combinable groupBy emitting <= n_words rows regardless
    of build-side size; always broadcastable."""
    assert 1 <= n_hashes <= len(_CMS_MULS)
    m = n_words * _BLOOM_BPW
    key = F.col(key_col)
    pos = F.array(*[_cms_cell(key, j, m) for j in range(n_hashes)])
    return (
        df.select(F.explode(pos).alias("_pos"))
        .select(
            (F.col("_pos") / F.lit(_BLOOM_BPW)).cast("long").alias("word"),
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(_pos % {_BLOOM_BPW} AS INT))").alias("_bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(_bit)").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    n_words: int = 64,
    n_hashes: int = 3,
) -> DataFrame:
    """keys + (passed) — membership test: passed iff ALL n_hashes bits
    are set. The bloom side is broadcast; the probe side never
    shuffles (the aggregation is by the probe key it already carries).
    No false negatives; false-positive odds ~ (1 - e^{-kn/m})^k."""
    m = n_words * _BLOOM_BPW
    key = F.col(key_col)
    pos = F.array(*[_cms_cell(key, j, m) for j in range(n_hashes)])
    probes = keys.select(key_col, F.explode(pos).alias("_pos")).select(
        key_col,
        (F.col("_pos") / F.lit(_BLOOM_BPW)).cast("long").alias("word"),
        F.col("_pos").alias("_pos"),
    )
    j = probes.join(F.broadcast(bloom), "word", "left")
    hit = (
        F.expr(
            f"(shiftright(coalesce(bits, CAST(0 AS BIGINT)),"
            f" CAST(_pos % {_BLOOM_BPW} AS INT)) & 1)"
        )
        == 1
    )
    return j.groupBy(key_col).agg(
        F.min(hit.cast("int")).cast("boolean").alias("passed")
    )


def bloom_probe_sql(
    build_cte: str,
    probe_cte: str,
    key_col: str,
    n_words: int = 64,
    n_hashes: int = 3,
) -> str:
    """DuckDB twin of bloom_build + bloom_probe — identical hash family,
    identical words, identical bit tests."""
    m = n_words * _BLOOM_BPW
    build_arms = " UNION ALL ".join(
        f"SELECT {_cms_cell_sql(key_col, j, m)} AS pos FROM b"
        for j in range(n_hashes)
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT {key_col}, {_cms_cell_sql(key_col, j, m)} AS pos FROM p"
        for j in range(n_hashes)
    )
    return f"""
WITH b AS ({build_cte}),
p AS ({probe_cte}),
bloom AS (
  SELECT pos // {_BLOOM_BPW} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_BPW} AS INTEGER))
           AS bits
  FROM ({build_arms}) bb GROUP BY pos // {_BLOOM_BPW}
),
probes AS ({probe_arms})
SELECT probes.{key_col},
       CAST(min(CASE WHEN
         ((coalesce(bloom.bits, CAST(0 AS BIGINT))
           >> CAST(probes.pos % {_BLOOM_BPW} AS INTEGER)) & 1) = 1
         THEN 1 ELSE 0 END) AS BOOLEAN) AS passed
FROM probes LEFT JOIN bloom ON bloom.word = probes.pos // {_BLOOM_BPW}
GROUP BY probes.{key_col}
"""


def cms_join_cardinality(
    cms_a: DataFrame, cms_b: DataFrame
) -> DataFrame:
    """(est) — JOIN-SIZE ESTIMATION from two count-min sketches built
    with the same (depth, width): |A join B on key| = sum_key
    fA(key)*fB(key) is estimated by min over d of the row inner product
    sum_cell cntA[d][cell]*cntB[d][cell] — an UPPER bound (collisions
    only add), tight when heavy keys dominate, never requiring a
    shuffle of either input. The planner primitive behind broadcast-vs-
    shuffle and skew-salting decisions: both sketches are <= depth*width
    rows, so the estimate costs a broadcast join of two sketches —
    O(depth*width) work for a question whose exact answer is a full
    join.

    Exact int64 throughout (products of int64 counts — caller bounds
    total weight below 2^31 per side to stay overflow-safe, which a
    depth*width >= 2k sketch of realistic per-cell loads satisfies)."""
    a = cms_a.select("d", "cell", F.col("cnt").alias("_ca"))
    b = cms_b.select("d", "cell", F.col("cnt").alias("_cb"))
    per_d = (
        a.join(b, ["d", "cell"])
        .groupBy("d")
        .agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_ip"))
    )
    return per_d.agg(F.min("_ip").cast("long").alias("est"))


def cms_join_cardinality_sql(
    rows_a_cte: str,
    rows_b_cte: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> str:
    """DuckDB twin — both sketches rebuilt with the identical hash
    family, same min-of-inner-products."""
    def build(src: str, alias: str) -> str:
        arms = " UNION ALL ".join(
            f"SELECT {d} AS d, {_cms_cell_sql(key_col, d, width)} AS cell,"
            f" 1 AS w FROM {src}"
            for d in range(depth)
        )
        return (
            f"{alias} AS (SELECT d, cell, CAST(sum(w) AS BIGINT) AS cnt"
            f" FROM ({arms}) x GROUP BY d, cell)"
        )

    return f"""
WITH ra AS ({rows_a_cte}),
rb AS ({rows_b_cte}),
{build('ra', 'ca')},
{build('rb', 'cb')},
ip AS (
  SELECT ca.d, sum(ca.cnt * cb.cnt) AS ip
  FROM ca JOIN cb ON cb.d = ca.d AND cb.cell = ca.cell
  GROUP BY ca.d
)
SELECT CAST(min(ip) AS BIGINT) AS est FROM ip
"""


def profile_table(
    df: DataFrame,
    cols: list[str],
    tau: int = 100_003,
) -> DataFrame:
    """(column, n_rows, n_nulls, n_sampled, est_distinct, min_str,
    max_str) — ONE-PASS TABLE PROFILING: per column the row/null counts,
    a Theta-sampled distinct estimate (exact ``n_sampled`` survivors
    under the deterministic hash gate, scaled), and min/max rendered as
    strings. The ingest-gate / schema-drift monitor: profile every
    day's partition and diff.

    The whole profile is ONE aggregate over ONE scan — every column's
    seven statistics are computed in the same combinable groupBy(),
    then unpivoted to rows with stack(). The distinct estimate reuses
    the sampling.sample_hash gate on the string form of the value, so
    it is a pure function of the column's value set.

    String casts make min/max engine-comparable for integer and string
    columns; float/timestamp columns work but their string forms are
    engine-specific — compare those numerically downstream."""
    aggs = []
    for c in cols:
        col = F.col(c)
        s = col.cast("string")
        gate = sample_hash(_prof_hash(s)) < F.lit(tau)
        aggs += [
            F.count(F.lit(1)).cast("long").alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).cast("long").alias(f"{c}__nulls"),
            F.countDistinct(F.when(gate, s)).cast("long").alias(f"{c}__samp"),
            F.min(s).alias(f"{c}__min"),
            F.max(s).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    arms = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nulls`, `{c}__samp`, `{c}__min`, `{c}__max`"
        for c in cols
    )
    stacked = wide.select(
        F.expr(
            f"stack({len(cols)}, {arms}) AS"
            " (column, n_rows, n_nulls, n_sampled, min_str, max_str)"
        )
    )
    est = F.round(
        (F.col("n_sampled") * F.lit(_H_MOD)).cast("double") / F.lit(float(tau)), 3
    ) + F.lit(0.0)
    return stacked.select(
        "column", "n_rows", "n_nulls", "n_sampled",
        est.alias("est_distinct"), "min_str", "max_str",
    )


def _prof_hash(s):
    """Total deterministic gate hash for string values: length-mixed
    congruential over the sum of unicode code points — cheap, stable,
    and expressible identically in ANSI SQL (no engine hash builtin)."""
    from .sampling import _H_MOD as M

    acc = F.aggregate(
        F.split(s, ""),
        F.lit(0).cast("long"),
        lambda a, ch: F.pmod(
            a * F.lit(31) + F.coalesce(F.ascii(ch).cast("long"), F.lit(7)),
            F.lit(M),
        ),
    )
    return acc


def profile_table_sql(rows_cte: str, cols: list[str], tau: int = 100_003) -> str:
    """DuckDB twin — identical per-column aggregate, one UNION arm per
    column (same numbers, different plan shape — fine for an oracle)."""
    from .sampling import _H_MOD as M

    def gate(c: str) -> str:
        # identical fold: acc = (acc*31 + codepoint) % M over chars
        # DuckDB has no lambda fold over strings in old versions; use
        # list_reduce over the exploded codepoints
        cp = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" [coalesce(ascii(x), 7)::BIGINT for x in"
            f" string_split(CAST({c} AS VARCHAR), '')]),"
            f" (a, b) -> (a * 31 + b) % {M})"
        )
        inner = sample_hash_sql(f"({cp})")
        return f"{inner} < {tau}"

    arms = []
    for c in cols:
        arms.append(f"""
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT CASE WHEN {gate(c)}
                 THEN CAST({c} AS VARCHAR) END) AS BIGINT) AS n_sampled,
       round(CAST(count(DISTINCT CASE WHEN {gate(c)}
                 THEN CAST({c} AS VARCHAR) END) AS DOUBLE)
             * {M} / {float(tau)!r}, 3) + 0.0 AS est_distinct,
       min(CAST({c} AS VARCHAR)) AS min_str,
       max(CAST({c} AS VARCHAR)) AS max_str
FROM r""")
    u = " UNION ALL ".join(arms)
    return f"WITH r AS ({rows_cte})\n{u}"


# --------------------------------------------------- HyperLogLog

# A single affine (LCG) hash has lattice artifacts on dense integer
# ranges -- measured +/-40-70% HLL bias on {0..n}.  The mixer below is a
# 40-bit xorshift-multiply finalizer (splitmix-style avalanche) whose
# every product stays under 2^61, so it is replayable verbatim in int64
# engines that either wrap or error on overflow.  Inputs are first
# reduced mod the 40-bit prime _HLL_P (totality over all of int64).
_HLL_P = (1 << 40) - 87          # largest prime < 2^40
_HLL_MASK = (1 << 40) - 1
_HLL_C1 = 1_999_999              # < 2^21: product < 2^61
_HLL_C2 = 1_998_877
_HLL_WBITS = 20                  # rank field: bits [p, p+20) of the mix
_HLL_SCALE = 1 << (_HLL_WBITS + 1)   # 2^21: register term = SCALE >> rho


def _hll_alpha(m: int) -> float:
    # the standard bias constant (Flajolet et al. 2007); inlined as a
    # plain double literal into BOTH engines' assemblies
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 8,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate with EXACT,
    engine-replayable registers.

    Unlike ``theta_distinct`` (whose survivor set grows with the
    distinct count), HLL state is a fixed ``m = 2**p`` register array
    per group -- the right sketch when groups can hold 10^10 distincts.
    Everything heavy is integer: the 40-bit xorshift-multiply mixer
    avalanches dense key ranges (a bare LCG measurably does not), the
    bucket is the mix's low ``p`` bits, the rank field ``w`` is the next
    20 bits, and

        rho = 21 - bitlen(w),   bitlen(w) = #{b : w >= 2^b}

    (a sum of 20 comparisons -- no libm, no join).  Registers reduce by
    plain ``max`` (order-free, mergeable) and the harmonic sum is the
    exact int64 ``sum_scaled = sum_j 2^(21 - rho_j)`` with empty
    registers contributing 2^21.  The only floats are the final
    estimate assembly (alpha * m^2 * SCALE / sum_scaled, with the
    standard small-range linear-counting correction), replayed verbatim
    in the SQL twin.

    Returns (*group_cols, m, nonzero, zeros, sum_scaled, est).

    Scale shape: scan -> per-(group, bucket) max (partial aggregation
    combines map-side, so at most m rows per group ever shuffle) ->
    per-group fold.  State is m registers regardless of cardinality;
    sketches for the same group merge by register max."""
    assert 4 <= p <= 12
    m = 1 << p
    alpha = _hll_alpha(m)
    mask = F.lit(_HLL_MASK)
    x = F.pmod(F.col(value_col).cast("long"), F.lit(_HLL_P))
    x = (x.bitwiseXOR(F.shiftright(x, 17)) * F.lit(_HLL_C1)).bitwiseAND(mask)
    x = (x.bitwiseXOR(F.shiftright(x, 19)) * F.lit(_HLL_C2)).bitwiseAND(mask)
    x = x.bitwiseXOR(F.shiftright(x, 23))
    bucket = x.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(x, p).bitwiseAND(F.lit((1 << _HLL_WBITS) - 1)) + F.lit(1)
    bitlen = sum(
        (w >= F.lit(1 << b)).cast("int") for b in range(_HLL_WBITS)
    )
    rho = F.lit(_HLL_WBITS + 1) - bitlen

    regs = (
        df.select(*group_cols, bucket.alias("_b"), rho.alias("_rho"))
        .groupBy(*group_cols, "_b")
        .agg(F.max("_rho").alias("_r"))
    )
    shift = _HLL_SCALE.bit_length() - 1  # 21; pyspark's shiftleft wants a
    # literal int for numBits, so go through the SQL form for a column shift
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST({shift} - _r AS INT))")
    folded = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("nonzero"),
        F.sum(term).cast("long").alias("_s_nz"),
    )
    zeros = (F.lit(m) - F.col("nonzero")).cast("long")
    sum_scaled = (F.col("_s_nz") + zeros * F.lit(_HLL_SCALE)).cast("long")
    folded = folded.withColumn("zeros", zeros).withColumn(
        "sum_scaled", sum_scaled
    )
    e_raw = (
        F.lit(alpha * m * m * float(_HLL_SCALE))
        / F.col("sum_scaled").cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("zeros") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros").cast("double")),
    ).otherwise(e_raw)
    return folded.select(
        *group_cols,
        F.lit(m).cast("long").alias("m"),
        "nonzero",
        "zeros",
        "sum_scaled",
        (F.round(est, 3) + F.lit(0.0)).alias("est"),
    )


def hll_distinct_sql(
    rows_cte: str, group_cols: list[str], value_col: str, p: int = 8
) -> str:
    """DuckDB twin -- identical mixer, comparison-count bitlen, integer
    registers, and float assembly. ``rows_cte`` must yield the group
    columns and ``value_col``."""
    m = 1 << p
    alpha = _hll_alpha(m)
    g = ", ".join(group_cols)
    x0 = f"((({value_col} % {_HLL_P}) + {_HLL_P}) % {_HLL_P})"
    x1 = f"((xor({x0}, {x0} >> 17) * {_HLL_C1}) & {_HLL_MASK})"
    x2 = f"((xor({x1}, {x1} >> 19) * {_HLL_C2}) & {_HLL_MASK})"
    # materialize the mix once per row via a projection CTE
    bucket = f"(x & {m - 1})"
    w = f"(((x >> {p}) & {(1 << _HLL_WBITS) - 1}) + 1)"
    bitlen = " + ".join(
        f"CAST({w} >= {1 << b} AS BIGINT)" for b in range(_HLL_WBITS)
    )
    rho = f"({_HLL_WBITS + 1} - ({bitlen}))"
    shift = _HLL_SCALE.bit_length() - 1  # 21
    return f"""
WITH r AS ({rows_cte}),
mixed AS (
  SELECT {g}, xor({x2}, {x2} >> 23) AS x FROM r
),
regs AS (
  SELECT {g}, {bucket} AS b, CAST(max({rho}) AS BIGINT) AS rho
  FROM mixed GROUP BY {g}, b
), folded AS (
  SELECT {g}, CAST(count(*) AS BIGINT) AS nonzero,
         CAST(sum(CAST(1 AS BIGINT) << ({shift} - rho)) AS BIGINT) AS s_nz
  FROM regs GROUP BY {g}
), wide AS (
  SELECT {g}, nonzero, CAST({m} - nonzero AS BIGINT) AS zeros,
         CAST(s_nz + ({m} - nonzero) * {_HLL_SCALE} AS BIGINT) AS sum_scaled
  FROM folded
)
SELECT {g}, CAST({m} AS BIGINT) AS m, nonzero, zeros, sum_scaled,
       round(CASE WHEN ({alpha * m * m * float(_HLL_SCALE)!r}
                        / CAST(sum_scaled AS DOUBLE)) <= {2.5 * m!r}
                   AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / CAST(zeros AS DOUBLE))
                  ELSE {alpha * m * m * float(_HLL_SCALE)!r}
                       / CAST(sum_scaled AS DOUBLE) END, 3) + 0.0 AS est
FROM wide
"""


# --- AMS F2 (second frequency moment) ---------------------------------
# Sign hashes: one (MUL, ADD) pair per replica, derived from the CMS
# constants so both engines embed the same literals. pmod(key, P) < 2^31
# and MUL < 2^31 keep every product inside int64.
_AMS_ROWS = 5
_AMS_COLS = 8


def _ams_mul(j: int) -> int:
    m = (1_103_515_245 * (2 * j + 1) + 22_695_477) % _CMS_P
    return m if m != 0 else 1


def _ams_add(j: int) -> int:
    return (1_664_525 * (j + 1) + 1_013_904_223) % _CMS_P


def _ams_sign(key: Column, j: int) -> Column:
    h = F.pmod(
        F.pmod(key.cast("long"), F.lit(_CMS_P)) * F.lit(_ams_mul(j))
        + F.lit(_ams_add(j)),
        F.lit(_CMS_P),
    )
    return F.lit(1) - F.lit(2) * F.pmod(h, F.lit(2))


def _ams_sign_sql(key: str, j: int) -> str:
    k = f"((({key}) % {_CMS_P} + {_CMS_P}) % {_CMS_P})"
    return f"(1 - 2 * ((({k} * {_ams_mul(j)} + {_ams_add(j)}) % {_CMS_P}) % 2))"


def ams_f2(
    df: DataFrame,
    key_col: str,
    rows: int = _AMS_ROWS,
    cols: int = _AMS_COLS,
) -> DataFrame:
    """(r, row_mean, med_est, f2_exact, err_micro) — the AMS SECOND
    FREQUENCY MOMENT sketch (Alon-Matias-Szegedy 1996): estimate
    F2 = Σ_k count(k)² — the self-join size / skew-energy statistic a
    planner reads before choosing a join strategy or a salting factor —
    from rows·cols ±1-sign counters instead of a full distinct-key
    shuffle.

    Each replica j keeps counter_j = Σ_rows sign_j(key) (one combinable
    global aggregate, NO per-key state); X_j = counter_j² has
    E[X]=F2.  Estimates are MEAN over each sketch row's cols (floor
    integer division) then MEDIAN across rows (rank-⌈R/2⌉ under the
    pinned (row_mean, r) order) — the textbook median-of-means, here
    entirely in int64 so both engines agree bit-for-bit.  f2_exact
    (one groupBy(key) pass) and err_micro = ⌊1e6·|med−F2|/F2⌋ ride
    along as verification columns; the 100 TB deployment drops them —
    the sketch itself never shuffles keys.

    Overflow: counters are bounded by n, X by n² — exact while
    n < 3e9; beyond that, pre-aggregate per partition or widen to
    decimal(38,0)."""
    assert 1 <= rows * cols and rows % 2 == 1
    k = F.col(key_col)
    counters = df.agg(
        *[
            F.sum(_ams_sign(k, j)).alias(f"c{j}")
            for j in range(rows * cols)
        ]
    )
    stack_expr = "stack({n}, {args}) as (r, c, counter)".format(
        n=rows * cols,
        args=", ".join(
            f"{j // cols}, {j % cols}, c{j}" for j in range(rows * cols)
        ),
    )
    long_form = counters.select(F.expr(stack_expr))
    row_means = (
        long_form.groupBy("r")
        .agg(F.sum(F.col("counter") * F.col("counter")).alias("row_sum"))
        .select(
            F.col("r").cast("long").alias("r"),
            F.expr(f"row_sum div {cols}").alias("row_mean"),
        )
    )
    med_rank = (rows + 1) // 2
    w = Window.orderBy("row_mean", "r")
    med = (
        row_means.select("row_mean", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == med_rank)
        .select(F.col("row_mean").alias("med_est"))
    )
    f2 = (
        df.groupBy(k.alias("_k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2_exact"))
    )
    return (
        row_means.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(f2))
        .select(
            "r",
            "row_mean",
            "med_est",
            "f2_exact",
            F.expr(
                "case when f2_exact > 0 then"
                " 1000000 * abs(med_est - f2_exact) div f2_exact"
                " else 0 end"
            ).alias("err_micro"),
        )
    )


def ams_f2_sql(
    rows_cte: str,
    key_col: str,
    rows: int = _AMS_ROWS,
    cols: int = _AMS_COLS,
) -> str:
    """DuckDB twin of ams_f2 — identical sign hashes, floor means, and
    rank-median."""
    n = rows * cols
    sums = ",\n         ".join(
        f"CAST(sum({_ams_sign_sql('k', j)}) AS BIGINT) AS c{j}"
        for j in range(n)
    )
    unions = "\n  UNION ALL\n  ".join(
        f"SELECT {j // cols} AS r, {j % cols} AS c, c{j} AS counter"
        " FROM ams_ctr"
        for j in range(n)
    )
    med_rank = (rows + 1) // 2
    return f"""
WITH ams_src AS (
  SELECT CAST({key_col} AS BIGINT) AS k FROM ({rows_cte})
),
ams_ctr AS (
  SELECT {sums}
  FROM ams_src
),
ams_long AS (
  {unions}
),
ams_rows AS (
  SELECT CAST(r AS BIGINT) AS r,
         CAST(sum(counter * counter) AS BIGINT) // {cols} AS row_mean
  FROM ams_long GROUP BY r
),
ams_med AS (
  SELECT row_mean AS med_est
  FROM (SELECT row_mean, row_number() OVER (ORDER BY row_mean, r) AS rk
        FROM ams_rows)
  WHERE rk = {med_rank}
),
ams_f2x AS (
  SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact
  FROM (SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM ams_src GROUP BY k)
)
SELECT r, row_mean, med_est, f2_exact,
       CASE WHEN f2_exact > 0
            THEN 1000000 * abs(med_est - f2_exact) // f2_exact
            ELSE 0 END AS err_micro
FROM ams_rows, ams_med, ams_f2x
"""


def compactor_quantiles(
    df: DataFrame,
    group_col: str = "g",
    id_col: str = "rid",
    v_col: str = "v",
    k: int = 32,
    rounds: int = 12,
    q_pcts: tuple = (25, 50, 75),
) -> DataFrame:
    """(g, q_pct, est_v, w_total, sketch_n) — QUANTILE SKETCH by
    deterministic KLL-style compaction (Karnin-Lang-Liberty 2016, the
    RNG-free variant): approximate per-group quantiles WITHOUT a
    per-group sort of the raw data — the scale path when an exact
    per-group rank is too hot (100 TB value columns, millions of
    groups).

    Levels hold weighted items (weight 2^lvl). Each round, every level
    over capacity ``k`` sorts itself under the pinned (v, rid) order
    and keeps the ODD-ranked half, promoted one level up (weight
    doubles). The classic algorithm flips a coin for odd/even;
    keeping odd DETERMINISTICALLY makes the sketch a pure function of
    the value set — bit-reproducible across engines and partitionings
    — at the cost of a one-sided rank bias ≤ one item per compaction
    per level (documented, bounded by rounds·k; fine for the
    quality-gate quantiles this feeds). ``rounds`` bounds compaction:
    inputs ≤ k·2^rounds items/group fully compact.

    The estimate walks the merged sketch in (v, rid) order and takes
    the first value whose cumulative weight reaches the type-1 rank
    max(1, ⌈q·W/100⌉) — all integer.

    Scale: each round is one window over the SKETCH table (shrinking
    geometrically, never the raw rows — the raw table is touched once
    to seed level 0; at 100 TB seed per-partition sketches and merge,
    the classic mergeability of KLL, which this operator's level
    union IS)."""
    cur = df.select(
        F.col(group_col).alias("g"),
        F.lit(0).alias("lvl"),
        F.col(v_col).cast("long").alias("v"),
        F.col(id_col).cast("long").alias("rid"),
    )
    for _ in range(rounds):
        wlev = Window.partitionBy("g", "lvl")
        wrank = Window.partitionBy("g", "lvl").orderBy("v", "rid")
        staged = cur.select(
            "g",
            "lvl",
            "v",
            "rid",
            F.count(F.lit(1)).over(wlev).alias("_cnt"),
            F.row_number().over(wrank).alias("_rk"),
        )
        cur = (
            staged.filter(
                (F.col("_cnt") <= k) | (F.col("_rk") % 2 == 1)
            )
            .select(
                "g",
                F.when(F.col("_cnt") > k, F.col("lvl") + 1)
                .otherwise(F.col("lvl"))
                .alias("lvl"),
                "v",
                "rid",
            )
            .localCheckpoint(eager=False)
        )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v", "rid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("g")
    walked = cur.select(
        "g",
        "v",
        F.sum(F.expr("shiftleft(1L, lvl)")).over(wcum).alias("cum"),
        F.sum(F.expr("shiftleft(1L, lvl)")).over(wall).alias("w_total"),
        F.count(F.lit(1)).over(wall).alias("sketch_n"),
    )
    qs = local_frame(
        df.sparkSession, [(int(q),) for q in q_pcts], "q_pct long"
    )
    hits = (
        walked.crossJoin(F.broadcast(qs))
        .filter(
            F.col("cum")
            >= F.greatest(
                F.lit(1), F.expr("(q_pct * w_total + 99) div 100")
            )
        )
        .groupBy("g", "q_pct")
        .agg(
            F.min("v").alias("est_v"),
            F.first("w_total").alias("w_total"),
            F.first("sketch_n").alias("sketch_n"),
        )
    )
    return hits


def compactor_quantiles_sql(
    rows_cte: str,
    k: int = 32,
    rounds: int = 12,
    q_pcts: tuple = (25, 50, 75),
) -> str:
    """DuckDB twin of compactor_quantiles — rounds unrolled as
    MATERIALIZED CTEs, identical pinned orders and integer walk.
    ``rows_cte`` -> (g, rid, v)."""
    parts = [
        f"""WITH kq_s0 AS MATERIALIZED (
  SELECT g, 0 AS lvl, CAST(v AS BIGINT) AS v, CAST(rid AS BIGINT) AS rid
  FROM ({rows_cte})
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""kq_r{i} AS MATERIALIZED (
  SELECT g, lvl, v, rid,
         count(*) OVER (PARTITION BY g, lvl) AS cnt,
         row_number() OVER (PARTITION BY g, lvl ORDER BY v, rid) AS rk
  FROM kq_s{i-1}
),
kq_s{i} AS MATERIALIZED (
  SELECT g, CASE WHEN cnt > {k} THEN lvl + 1 ELSE lvl END AS lvl, v, rid
  FROM kq_r{i} WHERE cnt <= {k} OR rk % 2 = 1
)"""
        )
    qvals = ", ".join(f"({int(q)})" for q in q_pcts)
    parts.append(
        f"""kq_walk AS (
  SELECT g, v,
         CAST(sum(1 << lvl) OVER (PARTITION BY g ORDER BY v, rid
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(1 << lvl) OVER (PARTITION BY g) AS BIGINT) AS w_total,
         CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS sketch_n
  FROM kq_s{rounds}
),
kq_q(q_pct) AS (SELECT * FROM (VALUES {qvals}))"""
    )
    body = ",\n".join(parts)
    return f"""{body}
SELECT g, CAST(q_pct AS BIGINT) AS q_pct, min(v) AS est_v,
       CAST(min(w_total) AS BIGINT) AS w_total,
       CAST(min(sketch_n) AS BIGINT) AS sketch_n
FROM kq_walk, kq_q
WHERE cum >= greatest(1, (q_pct * w_total + 99) // 100)
GROUP BY 1, 2
"""
