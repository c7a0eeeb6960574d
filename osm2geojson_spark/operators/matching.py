"""Map matching — snap points to the nearest line segment of a road layer.

The reference (aspectumapp/osm2geojson) produces the road geometry
(LineString features out of OSM ways); matching GPS points onto those
roads is the canonical downstream consumer. This operator is the
geometric core of every map-matcher (OSRM/Valhalla's candidate snap,
ST_ClosestPoint joins): for each point, the nearest segment within a
search radius, by exact point-to-segment distance.

PLANAR degree-space semantics (lon/lat treated as plain R^2, no
antimeridian wrap): the snap decision is pure +-*/ arithmetic with one
division and one clamp per pair, so the serial oracle replays the
identical IEEE op sequence and argmin ties break identically — no trig,
no epsilon. For city/regional extracts (where map matching happens)
planar degrees are the standard approximation; a metric variant is the
same plan with scaled axes.

Scale shape: segments explode to the covering cells of their
radius-expanded bbox (cells.covering_cells — superset by construction,
clamped at grid edges which is safe because query points live inside the
grid); points keep ONE cell, so the cell equi-join is the only shuffle
and a (point, segment) pair can never meet twice (the point's single
cell either is in the segment covering or not — no dedup). The argmin is
one ordered window keyed by the point — at 10^12 points that is a
map-side-combinable min-struct aggregation away (F.min_by), kept as a
window here so rank > 1 candidates remain inspectable via ``top_k``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import cells


def segment_distance_sq(
    px: Column, py: Column, ax: Column, ay: Column, bx: Column, by: Column
) -> Column:
    """Squared planar distance from point p to segment ab:
    t = clamp(((p-a).(b-a)) / |b-a|^2, 0, 1), d2 = |p - (a + t(b-a))|^2.
    Degenerate segments (a == b) snap to the endpoint (t = 0)."""
    dx, dy = bx - ax, by - ay
    l2 = dx * dx + dy * dy
    t_raw = ((px - ax) * dx + (py - ay) * dy) / l2
    t = F.when(l2 == 0.0, F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    cx, cy = ax + t * dx, ay + t * dy
    ex, ey = px - cx, py - cy
    return ex * ex + ey * ey


def segment_distance_sq_sql(
    px: str, py: str, ax: str, ay: str, bx: str, by: str
) -> str:
    """DuckDB twin of segment_distance_sq — identical op order."""
    dx, dy = f"({bx} - {ax})", f"({by} - {ay})"
    l2 = f"({dx} * {dx} + {dy} * {dy})"
    t_raw = f"((({px} - {ax}) * {dx} + ({py} - {ay}) * {dy}) / {l2})"
    t = f"(CASE WHEN {l2} = 0.0 THEN 0.0 ELSE least(greatest({t_raw}, 0.0), 1.0) END)"
    cx, cy = f"({ax} + {t} * {dx})", f"({ay} + {t} * {dy})"
    return f"(({px} - {cx}) * ({px} - {cx}) + ({py} - {cy}) * ({py} - {cy}))"


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius_deg: float,
    res: int = 6,
    point_id: str = "pid",
    seg_id: str = "seg_id",
    top_k: int = 1,
) -> DataFrame:
    """Nearest-segment snap: for every point, the ``top_k`` closest
    segments with planar distance <= ``radius_deg``.

    ``points``: (pid, lon, lat); ``segments``: (seg_id, ax, ay, bx, by).
    Returns (pid, seg_id, snap_rank, d2) — rank 1 is the match; ties on
    d2 break by ascending seg_id, so the output is deterministic even
    when two road segments are equidistant (shared intersections).
    Points with no segment in range are absent (unmatched), mirroring
    map-matchers' off-road rejection.

    Pick ``res`` so cell width stays >= radius_deg (covering ~ a few
    cells per segment); dense road cells can be salted upstream with the
    plans/skew treatment if a city core dominates.
    """
    pad = F.lit(float(radius_deg))
    segs = segments.select(
        seg_id, "ax", "ay", "bx", "by"
    ).withColumn(
        "cell_id",
        F.explode(
            cells.covering_cells(
                F.least("ax", "bx") - pad,
                F.least("ay", "by") - pad,
                F.greatest("ax", "bx") + pad,
                F.greatest("ay", "by") + pad,
                res,
            )
        ),
    )
    pts = points.select(
        point_id, "lon", "lat"
    ).withColumn("cell_id", cells.cell_id(F.col("lon"), F.col("lat"), res))
    d2 = segment_distance_sq(
        F.col("lon"), F.col("lat"),
        F.col("ax"), F.col("ay"), F.col("bx"), F.col("by"),
    )
    cand = (
        pts.join(segs, "cell_id")
        .withColumn("d2", d2)
        .filter(F.col("d2") <= F.lit(float(radius_deg) ** 2))
    )
    w = Window.partitionBy(point_id).orderBy(F.col("d2").asc(), F.col(seg_id).asc())
    return (
        cand.withColumn("snap_rank", F.row_number().over(w))
        .filter(F.col("snap_rank") <= top_k)
        .select(point_id, seg_id, "snap_rank", "d2")
    )


def stable_matching(
    prefs: DataFrame,
    rounds: int = 8,
    p_col: str = "p",
    a_col: str = "a",
    score_col: str = "s",
) -> DataFrame:
    """(p, a, s) — STABLE MATCHING by synchronous Gale-Shapley rounds
    (the parallel "proposal" variant of McVitie-Wilson): proposers walk
    their preference lists top-down, acceptors hold their best offer so
    far, rejections advance the pointer. The assignment operator behind
    ad-slot/job/task allocation with two-sided preferences — and with
    integer scores + pinned tie-breaks it is a pure function of the
    preference table (both engines land on the same matching; with
    enough rounds it is THE proposer-optimal stable matching over the
    truncated lists).

    ``prefs`` holds candidate pairs (p, a, s) — typically the output of
    a blocking join, NOT a cross product; each proposer's list is
    ranked (s DESC, a ASC), acceptors prefer (s DESC, p ASC). A
    proposer exhausting its list stays unmatched.

    Scale: per round one join of free proposers against their next-
    ranked candidate + one argmax rollup per acceptor — state is one
    pointer per proposer and one holder per acceptor, localCheckpoint
    keeps lineage flat; rounds needed <= longest truncated list."""
    w = Window.partitionBy("p").orderBy(F.col("s").desc(), F.col("a").asc())
    pref = (
        prefs.select(
            F.col(p_col).alias("p"), F.col(a_col).alias("a"),
            F.col(score_col).cast("long").alias("s"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .localCheckpoint(eager=False)
    )
    state = pref.select("p").distinct().select(
        "p", F.lit(1).cast("long").alias("ptr")
    )
    held = None  # (a, p, s) current engagements
    for _ in range(rounds):
        props = state.join(pref, ["p"]).filter(F.col("rk") == F.col("ptr")).select(
            "p", "a", "s"
        )
        cand = props if held is None else props.unionByName(
            held.select("p", "a", "s")
        )
        new_held = (
            cand.groupBy("a")
            .agg(
                F.min(
                    F.struct((-F.col("s")).alias("ns"), F.col("p").alias("p"))
                ).alias("top"),
            )
            .select("a", F.col("top.p").alias("p"), (-F.col("top.ns")).alias("s"))
            .localCheckpoint(eager=False)
        )
        # advance the pointer of every proposer who proposed and was NOT
        # accepted (their (p,a) is not the new holding pair)
        rejected = props.join(
            new_held.select("a", F.col("p").alias("_wp")), "a"
        ).filter(F.col("p") != F.col("_wp")).select("p")
        state = (
            state.join(rejected.withColumn("_r", F.lit(1)).distinct(), "p", "left")
            .select(
                "p",
                (F.col("ptr") + F.coalesce(F.col("_r"), F.lit(0))).alias("ptr"),
            )
            .localCheckpoint(eager=False)
        )
        # matched proposers hold; don't re-propose: drop them from the
        # free set by pointing them AT their current rank (they propose
        # the same pair again, which is harmless and keeps state tiny)
        held = new_held
    if held is None:
        return pref.select("p", "a", "s").filter(F.lit(False))
    return held.select("p", "a", F.col("s").cast("long").alias("s"))


def stable_matching_sql(prefs_cte: str, rounds: int = 8) -> str:
    """DuckDB twin of stable_matching — identical ranking and unrolled
    synchronous rounds. ``prefs_cte`` -> (p, a, s)."""
    parts = [
        f"""sm_pref AS MATERIALIZED (
  SELECT p, a, CAST(s AS BIGINT) AS s,
         CAST(row_number() OVER (PARTITION BY p ORDER BY s DESC, a ASC)
              AS BIGINT) AS rk
  FROM ({prefs_cte})
),
sm_st0 AS MATERIALIZED (SELECT DISTINCT p, CAST(1 AS BIGINT) AS ptr FROM sm_pref)"""
    ]
    held_prev = None
    for i in range(1, rounds + 1):
        held_union = (
            f" UNION ALL SELECT p, a, s FROM sm_h{i - 1}" if held_prev else ""
        )
        parts.append(
            f"""sm_pr{i} AS MATERIALIZED (
  SELECT st.p, pf.a, pf.s
  FROM sm_st{i - 1} st JOIN sm_pref pf ON pf.p = st.p AND pf.rk = st.ptr
),
sm_h{i} AS MATERIALIZED (
  SELECT a, p, s FROM (
    SELECT a, p, s,
           row_number() OVER (PARTITION BY a ORDER BY s DESC, p ASC) AS hrk
    FROM (SELECT p, a, s FROM sm_pr{i}{held_union})
  ) WHERE hrk = 1
),
sm_st{i} AS MATERIALIZED (
  SELECT st.p,
         st.ptr + CASE WHEN rej.p IS NOT NULL THEN 1 ELSE 0 END AS ptr
  FROM sm_st{i - 1} st
  LEFT JOIN (
    SELECT DISTINCT pr.p FROM sm_pr{i} pr
    JOIN sm_h{i} h ON h.a = pr.a
    WHERE pr.p <> h.p
  ) rej ON rej.p = st.p
)"""
        )
        held_prev = f"sm_h{i}"
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT p, a, CAST(s AS BIGINT) AS s FROM sm_h{rounds}
"""


FS_MICRO = 1_000_000  # micro-nat quantization for FS weights


def fs_link_scores(
    pairs: DataFrame,
    fields: list[str],
    m_num: int = 9,
    m_den: int = 10,
    upper_micro: int = 2_000_000,
    lower_micro: int = 0,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """(id_a, id_b, score_micro, band) — FELLEGI-SUNTER record-linkage
    scoring (1969; the Splink/dedupe.io model): candidate pairs carry
    one boolean agreement column per field; each field contributes its
    log-likelihood-ratio weight

        agree:     ln(m_f / u_f)
        disagree:  ln((1−m_f) / (1−u_f))

    with u_f ESTIMATED FROM THE CANDIDATE SET ITSELF (the standard
    practice — blocked candidates are overwhelmingly non-matches, so
    their agreement rate approximates u) and m_f a fixed prior
    (default 9/10). Every weight is quantized to round(ln(·)·1e6)
    int64 from exact integer count ratios — ln arguments are
    identical integers cross-engine, so scores are order-free sums
    (micro-nat units). band: 'link' above
    ``upper_micro``, 'non' below ``lower_micro``, else 'possible'
    (clerical-review tier).

    Scale: one combinable global agg for the u-counts (broadcast
    back), then a scan over pairs — no extra shuffle. Fields with
    u ∈ {0, 1} get their weight from the ±1-smoothed count (add-one
    on both sides) to keep ln finite.

    Preconditions (validated): ``fields`` must be non-empty (no
    fields → no score) and 0 < m_num < m_den — m_num == m_den would
    make the disagreement weight ln(0) = −inf."""
    if not fields:
        raise ValueError("fs_link_scores: fields must be a non-empty list")
    if not (0 < m_num < m_den):
        raise ValueError(
            "fs_link_scores: require 0 < m_num < m_den "
            f"(got m_num={m_num}, m_den={m_den}); m_num == m_den makes the "
            "disagreement weight ln(0)"
        )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for f in fields:
        aggs.append(F.sum(F.col(f).cast("long")).alias(f"_a_{f}"))
    u = pairs.agg(*aggs)
    p = pairs.crossJoin(F.broadcast(u))
    score = None
    for f in fields:
        # add-one smoothing keeps both ratios finite and integer-argued
        ua_n = F.col(f"_a_{f}") + 1
        ua_d = F.col("_n") + 2
        w_agree = F.round(
            (
                F.log(F.lit(float(m_num))) - F.log(F.lit(float(m_den)))
                - F.log(ua_n) + F.log(ua_d)
            )
            * FS_MICRO
        ).cast("long")
        w_dis = F.round(
            (
                F.log(F.lit(float(m_den - m_num))) - F.log(F.lit(float(m_den)))
                - F.log(ua_d - ua_n) + F.log(ua_d)
            )
            * FS_MICRO
        ).cast("long")
        t = F.when(F.col(f), w_agree).otherwise(w_dis)
        score = t if score is None else score + t
    out = p.select(
        F.col(a_col).alias("id_a"),
        F.col(b_col).alias("id_b"),
        score.cast("long").alias("score_micro"),
    )
    return out.select(
        "id_a",
        "id_b",
        "score_micro",
        F.when(F.col("score_micro") > upper_micro, "link")
        .when(F.col("score_micro") < lower_micro, "non")
        .otherwise("possible")
        .alias("band"),
    )


def fs_link_scores_sql(
    pairs_cte: str,
    fields: list[str],
    m_num: int = 9,
    m_den: int = 10,
    upper_micro: int = 2_000_000,
    lower_micro: int = 0,
) -> str:
    """DuckDB twin of fs_link_scores. ``pairs_cte`` -> (id_a, id_b,
    <bool field>...)."""
    a_sums = ", ".join(
        f"SUM(CASE WHEN {f} THEN 1 ELSE 0 END) AS _a_{f}" for f in fields
    )
    terms = []
    for f in fields:
        terms.append(
            f"CASE WHEN p.{f} THEN CAST(round((ln({m_num}.0) - ln({m_den}.0)"
            f" - ln(u._a_{f} + 1) + ln(u._n + 2)) * {FS_MICRO}) AS BIGINT)"
            f" ELSE CAST(round((ln({m_den - m_num}.0) - ln({m_den}.0)"
            f" - ln(u._n + 2 - (u._a_{f} + 1)) + ln(u._n + 2))"
            f" * {FS_MICRO}) AS BIGINT) END"
        )
    score = " + ".join(terms)
    return f"""
WITH fs_p AS ({pairs_cte}),
fs_u AS (SELECT COUNT(*) AS _n, {a_sums} FROM fs_p),
fs_s AS (
  SELECT p.id_a, p.id_b, CAST({score} AS BIGINT) AS score_micro
  FROM fs_p p CROSS JOIN fs_u u
)
SELECT id_a, id_b, score_micro,
       CASE WHEN score_micro > {upper_micro} THEN 'link'
            WHEN score_micro < {lower_micro} THEN 'non'
            ELSE 'possible' END AS band
FROM fs_s
"""
