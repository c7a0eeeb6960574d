"""Order-free analytics operators: the 2-D skyline (Pareto frontier).

The skyline of a point set under (minimize x, minimize y) is the set of
points not DOMINATED by any other: p' dominates p iff x' <= x and
y' <= y and p' != p as a value pair. It is the classic multi-criteria
shortlist query (Borzsony/Kossmann/Stocker 2001): "cheapest AND
smallest", "freshest AND highest-quality" — every training-data curation
tradeoff gate is a skyline.

Spark-first shape (two phases):

1. PRUNE — the skyline of a deterministic hash-sample is computed first
   (tiny), broadcast, and every input row dominated by a sample skyline
   point is dropped with one broadcast theta-join. On thick data this
   removes almost everything: a single sample point near the frontier
   dominates the entire quadrant above-right of it. The sample gate is
   ``sampling.sample_hash`` — no RNG, the pruned set is a pure function
   of the data.
2. EXACT — the survivors (frontier + a thin sample-slack band) go
   through the sort-based sweep: order by (x asc, y asc), a point is
   dominated iff min(y) over STRICTLY-PRECEDING rows <= its y. One
   window over the survivor set. The global orderBy is the honest cost:
   it runs on the post-prune residue, not the input (the frontier of
   anti-correlated 100 TB data is inherently a global object).

Both phases are exact integer/float comparisons — no epsilon. The
DuckDB twin deliberately uses the OTHER classic formulation (NOT EXISTS
dominance anti-join), so the two engines agree through independent
algorithms, not shared code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _H_MOD, sample_hash


def _sweep_skyline(pts: DataFrame) -> DataFrame:
    """Exact skyline of distinct (x, y) pairs via the sorted sweep."""
    w = (
        Window.orderBy(F.col("x").asc(), F.col("y").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_min = F.min("y").over(w)
    return pts.withColumn("_pm", prev_min).filter(
        F.col("_pm").isNull() | (F.col("_pm") > F.col("y"))
    ).drop("_pm")


def skyline2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    sample_rate: float = 0.02,
) -> DataFrame:
    """(x, y, n_points, min_id) — the 2-D skyline under (min x, min y),
    one row per distinct frontier value pair, with the exact number of
    input rows carrying that pair and the smallest id among them.

    ``sample_rate`` sizes the phase-1 prune sample; any rate (including
    0) gives the same answer — it only moves work between the broadcast
    prune and the exact sweep."""
    pts = (
        df.select(
            F.col(x_col).alias("x"),
            F.col(y_col).alias("y"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.min("_id").alias("min_id"),
        )
    )
    thr = int(sample_rate * _H_MOD)
    if thr > 0:
        samp = pts.filter(sample_hash(F.col("min_id")) < F.lit(thr))
        sky_s = _sweep_skyline(samp.select("x", "y")).select(
            F.col("x").alias("sx"), F.col("y").alias("sy")
        )
        # drop rows strictly dominated by a sample-frontier point; the
        # sample points themselves survive their own prune (equal pair
        # is not dominated) and every true frontier point survives all
        # of them, so phase 2 sees frontier + slack only
        dominated = (
            (F.col("sx") <= F.col("x"))
            & (F.col("sy") <= F.col("y"))
            & ((F.col("sx") < F.col("x")) | (F.col("sy") < F.col("y")))
        )
        pts = pts.join(F.broadcast(sky_s), on=dominated, how="left_anti")
    return _sweep_skyline(pts)


def skyline2d_sql(rows_cte: str, x: str, y: str, id_col: str) -> str:
    """DuckDB twin — NOT EXISTS dominance over the distinct value pairs
    (independent algorithm; same answer)."""
    return f"""
WITH r AS ({rows_cte}),
pts AS (
  SELECT {x} AS x, {y} AS y, CAST(count(*) AS BIGINT) AS n_points,
         min({id_col}) AS min_id
  FROM r GROUP BY {x}, {y}
)
SELECT x, y, n_points, min_id FROM pts p
WHERE NOT EXISTS (
  SELECT 1 FROM pts q
  WHERE q.x <= p.x AND q.y <= p.y AND (q.x < p.x OR q.y < p.y)
)
"""


def ohlc_bars(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    bar_s: int,
    id_col: str,
) -> DataFrame:
    """(series, bar, open, high, low, close, n) — OHLC candle bars: per
    series and time bucket, the first/max/min/last value. First/last
    are struct-min/max over ((ts, id), value) — deterministic under
    duplicate timestamps (the id breaks ties), never a window sort.

    Scale: ONE combinable groupBy — open/close ride the same shuffle as
    high/low because struct min/max are associative. The canonical
    downsampling shape for any irregular numeric stream."""
    base = df.select(
        F.col(series_col).alias("_s"),
        F.col(ts_col).cast("long").alias("_ts"),
        F.col(value_col).cast("long").alias("_v"),
        F.col(id_col).alias("_eid"),
    ).withColumn("_bar", F.floor(F.col("_ts") / F.lit(int(bar_s))).cast("long"))
    o = F.min(F.struct("_ts", "_eid", "_v")).alias("_o")
    c = F.max(F.struct("_ts", "_eid", "_v")).alias("_c")
    out = base.groupBy("_s", "_bar").agg(
        o,
        c,
        F.max("_v").cast("long").alias("high"),
        F.min("_v").cast("long").alias("low"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return out.select(
        F.col("_s").alias(series_col),
        F.col("_bar").alias("bar"),
        F.col("_o._v").cast("long").alias("open"),
        "high",
        "low",
        F.col("_c._v").cast("long").alias("close"),
        "n",
    )


def ohlc_bars_sql(
    rows_cte: str,
    series_col: str,
    ts_col: str,
    value_col: str,
    bar_s: int,
    id_col: str,
) -> str:
    """DuckDB twin — struct min/max on the same (ts, id, v) key."""
    return f"""
WITH oh_raw AS ({rows_cte}),
oh AS (
  SELECT {series_col} AS _s,
         CAST({ts_col} AS BIGINT) AS _ts,
         CAST({value_col} AS BIGINT) AS _v,
         {id_col} AS _eid,
         CAST(floor(CAST({ts_col} AS BIGINT) / {int(bar_s)}.0) AS BIGINT)
           AS _bar
  FROM oh_raw
)
SELECT _s AS {series_col}, _bar AS bar,
       CAST((min(struct_pack(ts := _ts, eid := _eid, v := _v))).v AS BIGINT)
         AS open,
       CAST(max(_v) AS BIGINT) AS high,
       CAST(min(_v) AS BIGINT) AS low,
       CAST((max(struct_pack(ts := _ts, eid := _eid, v := _v))).v AS BIGINT)
         AS close,
       CAST(count(*) AS BIGINT) AS n
FROM oh GROUP BY _s, _bar
"""


def basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """(item_a, item_b, n_pair, n_a, n_b, lift_q) — MARKET-BASKET pair
    mining (the Apriori first rung): for every unordered item pair
    co-occurring in >= ``min_support`` baskets, the exact pair count,
    per-item basket counts, and lift = N * n_pair / (n_a * n_b), the
    association strength behind "bought together" and feature
    co-occurrence analysis.

    Exact: distinct (basket, item) first (multiplicity inside a basket
    doesn't inflate support), pair counts from the basket-keyed
    self-join (a < b), lift's one float assembly rounded.

    Scale: the self-join is BASKET-keyed — candidate volume is
    sum_b |items_b|^2, bounded by the largest basket, never corpus-
    quadratic; a pathological mega-basket is equi-join skew (salt it or
    cap items per basket upstream). Item counts broadcast back."""
    bi = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .distinct()
    )
    n_baskets = bi.select("_b").distinct().count()
    item_counts = bi.groupBy("_i").agg(F.count(F.lit(1)).cast("long").alias("_n"))
    l = bi.select(F.col("_b"), F.col("_i").alias("item_a"))
    r = bi.select(F.col("_b"), F.col("_i").alias("item_b"))
    pairs = (
        l.join(r, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= int(min_support))
    )
    out = (
        pairs.join(
            F.broadcast(item_counts.select(F.col("_i").alias("item_a"), F.col("_n").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(item_counts.select(F.col("_i").alias("item_b"), F.col("_n").alias("n_b"))),
            "item_b",
        )
    )
    lift = F.round(
        (F.lit(float(n_baskets)) * F.col("n_pair").cast("double"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
        6,
    )
    return out.select("item_a", "item_b", "n_pair", "n_a", "n_b", lift.alias("lift_q"))


def basket_pairs_sql(
    rows_cte: str, basket_col: str, item_col: str, min_support: int = 2
) -> str:
    """DuckDB twin — identical distinct/pair/lift arithmetic."""
    return f"""
WITH bk_raw AS ({rows_cte}),
bi AS (SELECT DISTINCT {basket_col} AS _b, {item_col} AS _i FROM bk_raw),
nb AS (SELECT CAST(count(DISTINCT _b) AS DOUBLE) AS n FROM bi),
ic AS (SELECT _i, CAST(count(*) AS BIGINT) AS _n FROM bi GROUP BY _i),
pr AS (
  SELECT l._i AS item_a, r._i AS item_b, CAST(count(*) AS BIGINT) AS n_pair
  FROM bi l JOIN bi r ON r._b = l._b AND l._i < r._i
  GROUP BY l._i, r._i
  HAVING count(*) >= {int(min_support)}
)
SELECT pr.item_a, pr.item_b, pr.n_pair, a._n AS n_a, b._n AS n_b,
       round((nb.n * CAST(pr.n_pair AS DOUBLE))
             / (CAST(a._n AS DOUBLE) * CAST(b._n AS DOUBLE)), 6) AS lift_q
FROM pr, nb
JOIN ic a ON a._i = pr.item_a
JOIN ic b ON b._i = pr.item_b
"""


def psi_bins(
    ref: DataFrame,
    cur: DataFrame,
    n_bins: int = 10,
    score_col: str = "score",
    scale: int = 1_000_000,
) -> DataFrame:
    """POPULATION STABILITY INDEX components — the standard
    distribution-drift monitor between a reference corpus snapshot and
    the current one: scores (fixed-point in [0, scale)) are cut into
    ``n_bins`` equal bins and each bin reports

        term = (p_b - q_b) * ln(p_b / q_b)

    with p/q the Laplace-smoothed bin shares ((n_b + 1) / (N + n_bins)).
    PSI = sum of terms; <0.1 stable, >0.25 drifted. Per-bin rows keep
    the stored evidence exact: integer counts plus ``term_micro`` =
    round(term * 1e6) computed from four ints by identically-ordered
    float ops — the scalar PSI is a trivial downstream sum.

    Returns one row per bin 0..n_bins-1: (bin, n_ref, n_cur,
    term_micro).

    Scale: two combinable groupBys + a broadcast of two scalars."""
    assert n_bins >= 1

    def binned(df, name):
        b = F.least(
            F.lit(n_bins - 1),
            F.floor(
                F.col(score_col).cast("double")
                / F.lit(float(scale))
                * F.lit(float(n_bins))
            ).cast("long"),
        )
        return df.select(b.alias("bin")).groupBy("bin").agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    spine = ref.sparkSession.range(n_bins).select(F.col("id").alias("bin"))
    j = (
        spine.join(binned(ref, "n_ref"), "bin", "left")
        .join(binned(cur, "n_cur"), "bin", "left")
        .na.fill({"n_ref": 0, "n_cur": 0})
    )
    tot = j.agg(
        F.sum("n_ref").cast("long").alias("tr"),
        F.sum("n_cur").cast("long").alias("tc"),
    )
    j = j.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref") + 1).cast("double") / (
        F.col("tr") + F.lit(n_bins)
    ).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (
        F.col("tc") + F.lit(n_bins)
    ).cast("double")
    term = (p - q) * (F.log(p) - F.log(q))
    return j.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(term * F.lit(1e6)).cast("long").alias("term_micro"),
    )


def group_quantiles(
    df: DataFrame,
    quantiles: list,
    group_col: str = "g",
    value_col: str = "v",
) -> DataFrame:
    """EXACT PER-GROUP QUANTILES (lower interpolation — "type 1"):
    q-quantile of a group of n values = the value at 1-based rank
    ceil(q * n) (q = 0 maps to rank 1). Exact and order-free — the
    selected value is an element of the data, never an average — so the
    result hash-matches any engine, unlike approx_percentile sketches.
    The per-domain p50/p95 length-and-score profile of corpus QA.

    Returns one row per (group, q): (group, q_pct (int, q*100), rank,
    n, value).

    Scale: ONE window sort per group (the unavoidable exact-quantile
    cost), then a rank equi-filter — no second shuffle; groups
    parallelize; skewed groups salt like any window (plans/skew)."""
    qs = sorted(set(float(q) for q in quantiles))
    assert all(0.0 <= q <= 1.0 for q in qs) and qs
    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(value_col).asc()
    )
    ranked = df.select(
        F.col(group_col),
        F.col(value_col),
        F.row_number().over(w).cast("long").alias("_r"),
        F.count(F.lit(1))
        .over(
            Window.partitionBy(group_col).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .cast("long")
        .alias("_n"),
    )
    spine = F.explode(
        F.array(*[F.lit(q) for q in qs])
    ).alias("_q")
    e = ranked.select(group_col, value_col, "_r", "_n", spine)
    want = F.greatest(
        F.lit(1), F.ceil(F.col("_q") * F.col("_n").cast("double")).cast("long")
    )
    return e.filter(F.col("_r") == want).select(
        F.col(group_col),
        F.round(F.col("_q") * 100).cast("long").alias("q_pct"),
        F.col("_r").alias("rank"),
        F.col("_n").alias("n"),
        F.col(value_col).alias("value"),
    )


def ab_test_z(
    events: DataFrame,
    variant_col: str = "variant",
    converted_col: str = "converted",
) -> DataFrame:
    """TWO-PROPORTION A/B TEST — the experiment readout: per variant
    pair (A = 0, B = 1), trial/conversion counts and the pooled
    two-proportion z statistic

        z = (pb - pa) / sqrt(p * (1 - p) * (1/na + 1/nb))

    The sufficient statistics (na, xa, nb, xb) are exact int64 counts
    in any partition order; z and the rates are ONE short float
    assembly over those four integers, replayed verbatim by the SQL
    twin (identically-ordered IEEE ops, round 6). Degenerate inputs —
    a missing variant, pooled rate 0 or 1 (zero variance) — yield NULL
    z, never a divide error.

    Input: one row per trial with ``variant_col`` in {0, 1} and a
    boolean/int ``converted_col``. Returns ONE row:
    (na, xa, nb, xb, rate_a, rate_b, z).

    Scale: a single combinable aggregation — four conditional counts —
    over the trial stream. Nothing shuffles but one row."""
    v = F.col(variant_col)
    c = F.col(converted_col).cast("long")
    agg = events.agg(
        F.coalesce(F.sum(F.when(v == 0, 1)), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.sum(F.when(v == 0, c)), F.lit(0)).cast("long").alias("xa"),
        F.coalesce(F.sum(F.when(v == 1, 1)), F.lit(0)).cast("long").alias("nb"),
        F.coalesce(F.sum(F.when(v == 1, c)), F.lit(0)).cast("long").alias("xb"),
    )
    na, xa, nb, xb = (F.col(n).cast("double") for n in ("na", "xa", "nb", "xb"))
    p = (xa + xb) / (na + nb)
    z = (xb / nb - xa / na) / F.sqrt(
        p * (F.lit(1.0) - p) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return agg.select(
        "na", "xa", "nb", "xb",
        F.when(F.col("na") > 0, F.round(xa / na, 6) + F.lit(0.0)).alias("rate_a"),
        F.when(F.col("nb") > 0, F.round(xb / nb, 6) + F.lit(0.0)).alias("rate_b"),
        F.when(
            (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (F.col("xa") + F.col("xb") > 0)
            & (F.col("xa") + F.col("xb") < F.col("na") + F.col("nb")),
            F.round(z, 6) + F.lit(0.0),
        ).alias("z"),
    )


def scd2_build(
    changes: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """SCD TYPE-2 DIMENSION BUILD from a change log (Kimball's slowly
    changing dimension) — the standard warehouse / feature-store step
    that turns point-in-time mutation events into validity intervals:

      (key, ts, value) events
        -> collapse consecutive NO-OP updates (same value as previous)
        -> one row per surviving version with [valid_from, valid_to)
           half-open validity, NULL valid_to == is_current.

    Deterministic by construction: events order by (ts, value) within a
    key; a version starts where the value differs from its predecessor
    (the first event always starts version 1); valid_to is the next
    version's valid_from. ``n_events`` counts the collapsed no-ops per
    version. Within a version every value is equal, so the value is
    recovered with min(), never first().

    Returns (key_col, version, value_col, valid_from, valid_to,
    is_current, n_events).

    Scale: one shuffle on key_col shared by the lag window, the running
    version sum, the groupBy and the lead window (Catalyst reuses the
    partitioning); state per key is one row. The classic MERGE-based
    SCD2 rewrites the whole dimension per batch — this is the
    full-rebuild form; incremental upkeep composes with cdc_chunks."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(value_col).asc()
    )
    v = F.col(value_col)
    lagv = F.lag(value_col).over(w)
    df = (
        changes.select(key_col, ts_col, value_col)
        .withColumn(
            "_chg", F.when(lagv.isNull() | (v != lagv), 1).otherwise(0)
        )
        .withColumn(
            "_ver",
            F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    grp = df.groupBy(key_col, "_ver").agg(
        F.min(ts_col).alias("valid_from"),
        F.min(value_col).alias(value_col),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy(key_col).orderBy("_ver")
    return grp.select(
        key_col,
        F.col("_ver").cast("long").alias("version"),
        value_col,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def scd2_build_sql(
    rows_cte: str,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
) -> str:
    """DuckDB twin of scd2_build over ``rows_cte`` (a CTE body selecting
    key_col, ts_col, value_col)."""
    k, t, v = key_col, ts_col, value_col
    return f"""
WITH src AS ({rows_cte}),
lagd AS (
  SELECT {k}, {t}, {v},
         CASE WHEN lag({v}) OVER w IS NULL
                OR {v} <> lag({v}) OVER w THEN 1 ELSE 0 END AS chg
  FROM src
  WINDOW w AS (PARTITION BY {k} ORDER BY {t}, {v})
), ver AS (
  SELECT {k}, {t}, {v},
         sum(chg) OVER (PARTITION BY {k} ORDER BY {t}, {v}
                        ROWS UNBOUNDED PRECEDING) AS ver
  FROM lagd
), grp AS (
  SELECT {k}, ver, min({t}) AS valid_from, min({v}) AS {v},
         count(*) AS n_events
  FROM ver GROUP BY {k}, ver
)
SELECT {k}, CAST(ver AS BIGINT) AS version, {v}, valid_from,
       lead(valid_from) OVER wv AS valid_to,
       lead(valid_from) OVER wv IS NULL AS is_current,
       CAST(n_events AS BIGINT) AS n_events
FROM grp
WINDOW wv AS (PARTITION BY {k} ORDER BY ver)
"""


def kappa_agreement(
    df: DataFrame,
    a_col: str = "label_a",
    b_col: str = "label_b",
) -> DataFrame:
    """COHEN'S KAPPA — chance-corrected inter-annotator agreement, the
    label-quality gate of every human/model annotation pipeline. With n
    items, observed agreement po = n_agree/n and expected agreement
    pe = Σ_c rowmarg(c)·colmarg(c)/n², kappa = (po − pe)/(1 − pe). Kept
    EXACT as the integer rational

        kappa_num = n·n_agree − Σ_c n_a(c)·n_b(c)
        kappa_den = n² − Σ_c n_a(c)·n_b(c)

    (both int64; the one final double division is IEEE-identical across
    engines). Returns a single row (n_items, n_agree, pe_num, kappa_num,
    kappa_den, kappa); kappa is NULL when kappa_den = 0 (degenerate
    single-class marginals).

    Overflow bound: n² and n·n_agree must fit int64 → n < 3e9 items.

    Scale: one scan for the confusion counts (combinable groupBy over at
    most |classes|² rows), marginals and totals are driver-size
    cross-joined constants — no wide shuffle anywhere."""
    conf = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("_c"))
    tot = conf.agg(
        F.sum("_c").cast("long").alias("n_items"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("_c")).otherwise(0))
        .cast("long")
        .alias("n_agree"),
    )
    ra = conf.groupBy("_a").agg(F.sum("_c").alias("_na"))
    rb = conf.groupBy(F.col("_b").alias("_a")).agg(F.sum("_c").alias("_nb"))
    pe = (
        ra.join(rb, "_a")
        .agg(F.sum(F.col("_na") * F.col("_nb")).cast("long").alias("pe_num"))
    )
    out = tot.crossJoin(pe)
    num = F.col("n_items") * F.col("n_agree") - F.col("pe_num")
    den = F.col("n_items") * F.col("n_items") - F.col("pe_num")
    return out.select(
        "n_items",
        "n_agree",
        "pe_num",
        num.cast("long").alias("kappa_num"),
        den.cast("long").alias("kappa_den"),
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "kappa"
        ),
    )


def kappa_agreement_sql(
    rows_cte: str, a_col: str = "label_a", b_col: str = "label_b"
) -> str:
    """DuckDB twin of kappa_agreement — identical integer rational."""
    return f"""
WITH src AS ({rows_cte}),
conf AS (
  SELECT {a_col} AS a, {b_col} AS b, CAST(count(*) AS BIGINT) AS c
  FROM src GROUP BY 1, 2
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_items,
         CAST(sum(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS n_agree
  FROM conf
),
ra AS (SELECT a, sum(c) AS na FROM conf GROUP BY a),
rb AS (SELECT b AS a, sum(c) AS nb FROM conf GROUP BY b),
pe AS (
  SELECT CAST(sum(ra.na * rb.nb) AS BIGINT) AS pe_num
  FROM ra JOIN rb USING (a)
)
SELECT n_items, n_agree, pe_num,
       CAST(n_items * n_agree - pe_num AS BIGINT) AS kappa_num,
       CAST(n_items * n_items - pe_num AS BIGINT) AS kappa_den,
       CASE WHEN n_items * n_items - pe_num != 0
            THEN CAST(n_items * n_agree - pe_num AS DOUBLE)
                 / CAST(n_items * n_items - pe_num AS DOUBLE)
       END AS kappa
FROM tot, pe
"""


def ewma_smooth(
    df: DataFrame,
    k: int = 6,
    group_col: str = "g",
    time_col: str = "t",
    value_col: str = "v",
) -> DataFrame:
    """(g, t, v, num, den, ewma) — K-LAG WINDOWED EXPONENTIAL SMOOTHING
    with dyadic decay alpha = 1/2: the trend smoother / anomaly
    baseline s_t = Σ_{j<K} 2^(K-1-j)·v_{t-j} / Σ_{j<K} 2^(K-1-j) over
    the K most recent ROWS of the series (partial windows renormalize
    over the lags that exist, so the head of a series is well-defined
    — the standard adjusted-EWMA convention, pandas ewm(adjust=True)
    truncated at K lags).

    Dyadic weights make num and den exact int64 (the infinite-memory
    recursive EWMA is NOT cross-engine pinnable — its float state
    accumulates in series order; truncating at K lags with power-of-two
    weights is, and for alpha=1/2 the truncation error is < 2^-K of
    the weight mass).  ewma = num/den is one IEEE division.

    Scale: pure column algebra — K lag() expressions inside one ordered
    window per series, whole-stage codegen, one shuffle on g."""
    w = Window.partitionBy("g").orderBy("t")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(int(k)):
        wt = 1 << (int(k) - 1 - j)
        lv = F.lag(F.col("v"), j).over(w)
        num = num + F.coalesce(lv * F.lit(wt), F.lit(0))
        den = den + F.when(lv.isNotNull(), F.lit(wt)).otherwise(F.lit(0))
    sel = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.col(time_col).cast("long").alias("t"),
        F.col(value_col).cast("long").alias("v"),
    )
    return sel.select(
        "g",
        "t",
        "v",
        num.alias("num"),
        den.alias("den"),
        (num.cast("double") / den.cast("double")).alias("ewma"),
    )


def ewma_smooth_sql(
    rows_cte: str, k: int = 6
) -> str:
    """DuckDB twin of ewma_smooth — identical lag expressions and
    weights.  ``rows_cte`` -> (g, t, v)."""
    nums = []
    dens = []
    for j in range(int(k)):
        wt = 1 << (int(k) - 1 - j)
        lv = f"lag(v, {j}) OVER (PARTITION BY g ORDER BY t)"
        nums.append(f"COALESCE({lv} * {wt}, 0)")
        dens.append(f"CASE WHEN {lv} IS NOT NULL THEN {wt} ELSE 0 END")
    return f"""
WITH src AS (
  SELECT g, CAST(t AS BIGINT) AS t, CAST(v AS BIGINT) AS v FROM ({rows_cte})
)
SELECT g, t, v,
       CAST({" + ".join(nums)} AS BIGINT) AS num,
       CAST({" + ".join(dens)} AS BIGINT) AS den,
       CAST({" + ".join(nums)} AS DOUBLE)
         / CAST({" + ".join(dens)} AS DOUBLE) AS ewma
FROM src
"""


# ------------------------------------------------------- target encoding


# ---------------------------------------------------------- ABC analysis


# ------------------------------------------------- Markov attribution


# ----------------------------------------------------------------- TOPSIS


# --------------------------------------------------------------- backtest


# ------------------------------------------------------ binary segmentation


# ---------------------------------------------------- v-optimal histogram


# ------------------------------------------------------------ matrix profile


# -------------------------------------------------- quantile normalization


def theil_index(
    df: DataFrame,
    group_col: str = "g",
    value_col: str = "x",
) -> DataFrame:
    """(g, n, total, theil_micro) — THEIL T INEQUALITY INDEX per group,
    the decomposable entropy-based sibling of the Gini already in the
    engine (Theil T sums BETWEEN + WITHIN exactly, which Gini cannot):
    T = (1/n)·Σ (x_i/μ)·ln(x_i/μ). Scored with the micro-nat scheme —
    each row's term is quantized FIRST,

        t_i = round( (x_i·n / S) · ln(x_i·n / S) · 10⁶ )

    from exact int64 (x_i, n, S), so the sum is order-free and
    hash-stable; theil_micro = max(Σt_i, 0) DIV n — the clamp pins the
    division (T >= 0 analytically; per-term rounding can push the sum
    a few micro below zero, where truncate-vs-floor would diverge).
    Zero values contribute 0 (the x·ln x continuity limit). Values
    must be nonnegative integers.

    Scale: one combinable rollup for (n, S) broadcast back + one scan —
    no windows."""
    rows = df.select(
        F.col(group_col).alias("g"), F.col(value_col).cast("long").alias("x")
    )
    tot = rows.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    j = rows.join(F.broadcast(tot), "g")
    r = F.col("x").cast("double") * F.col("n") / F.col("s")
    term = F.when(
        (F.col("x") > 0) & (F.col("s") > 0),
        F.round(r * F.log(r) * 1_000_000),
    ).otherwise(F.lit(0)).cast("long")
    agg = j.groupBy("g").agg(
        F.first("n").alias("n"),
        F.first("s").alias("total"),
        F.sum(term).alias("tsum"),
    )
    return agg.select(
        "g",
        F.col("n").cast("long").alias("n"),
        F.col("total").cast("long").alias("total"),
        F.expr("CAST(greatest(tsum, 0) DIV n AS BIGINT)").alias(
            "theil_micro"
        ),
    )


def theil_index_sql(rows_cte: str) -> str:
    """DuckDB twin of theil_index. ``rows_cte`` -> (g, x) nonnegative."""
    return f"""
WITH th_r AS (
  SELECT g, CAST(x AS BIGINT) AS x FROM ({rows_cte})
),
th_t AS (SELECT g, COUNT(*) AS n, SUM(x) AS s FROM th_r GROUP BY 1),
th_j AS (
  SELECT r.g, t.n, t.s,
         CASE WHEN r.x > 0 AND t.s > 0
              THEN CAST(round((CAST(r.x AS DOUBLE) * t.n / t.s)
                   * ln(CAST(r.x AS DOUBLE) * t.n / t.s)
                   * 1000000) AS BIGINT)
              ELSE 0 END AS term
  FROM th_r r JOIN th_t t USING (g)
)
SELECT g, CAST(MIN(n) AS BIGINT) AS n, CAST(MIN(s) AS BIGINT) AS total,
       CAST(GREATEST(SUM(term), 0) // MIN(n) AS BIGINT) AS theil_micro
FROM th_j GROUP BY 1
"""


