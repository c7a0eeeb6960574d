"""Physical-plan regression tests — the plan shapes that keep the engine fast
at scale (SURVEY §4.2): pushdown reaches the scans, small sides broadcast,
narrow operators stay exchange-free, JVM-only expressions never fall into a
Python eval node."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pip_join_broadcasts_polygons(spark):
    plan = _plan(E.queries()["pip_join"](spark, SF_DIR))
    # one broadcast join against the shard table and a JVM refine: no
    # sort-merge, no shuffle on the point side (the one Exchange is the
    # broadcast), no second branch and no Python
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == 1 and plan.count("BroadcastExchange") == 1
    assert "Union" not in plan
    assert "MapInPandas" not in plan and "Python" not in plan


def test_regional_revenue_pushdown_and_broadcast(spark):
    plan = _plan(E.queries()["regional_revenue"](spark, SF_DIR))
    # the region filter reaches the parquet scan
    assert "EqualTo(r_name,ASIA)" in plan  # inside the region scan's PushedFilters
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cell_encode_is_narrow_and_jvm_only(spark):
    plan = _plan(E.queries()["cell_encode"](spark, SF_DIR))
    assert "Exchange" not in plan  # pure projection, no shuffle
    assert "EvalPython" not in plan  # closed-form column math, no UDF


def test_classifier_and_text_are_jvm_only(spark):
    for name in ("classifier", "text_analysis"):
        plan = _plan(E.queries()[name](spark, SF_DIR))
        assert "EvalPython" not in plan, name


def test_text_analysis_single_pass_normalization(spark):
    """The staged text_features plan evaluates the expensive shared
    subexpressions once: exactly the two normalization regexp_replace calls
    survive in the optimized plan (CollapseProject must NOT re-inline the
    padded-normalized column into its five consumers), and the tokenizing
    split appears once."""
    df = E.queries()["text_analysis"](spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert opt.count("regexp_replace") == 2
    assert opt.count("split(trim") <= 1


def test_way_assembly_prunes_columns(spark):
    plan = _plan(E.queries()["way_assembly"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # lineitem scan reads only the three join/order columns
    start = plan.index("lineitem.parquet")
    window = plan[max(0, start - 2000): start + 500]
    assert "l_comment" not in window and "l_shipdate" not in window


def test_tile_vector_join_broadcasts_shards(spark):
    plan = _plan(E.queries()["tile_vector_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_embedding_lsh_plan_shape(spark):
    """Banded RH LSH: Python appears ONLY as the Arrow signature UDF (the
    GEMM); the band join is an equi-join (no cartesian product) and the
    verify joins carry vectors per side, not through the band join."""
    plan = _plan(E.queries()["dedup_embedding"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python
    assert plan.count("ArrowEvalPython") <= 2  # signature UDF per side


def test_sphere_cell_encode_is_jvm_only(spark):
    plan = _plan(E.queries()["sphere_cell_histogram"](spark, SF_DIR))
    assert "EvalPython" not in plan  # encode is pure column math
    assert "CartesianProduct" not in plan


def test_within_distance_is_jvm_only_equijoin(spark):
    plan = _plan(E.queries()["within_distance"](spark, SF_DIR))
    # cell equi-join (AQE broadcasts the small exploded-covering side at
    # this SF), haversine refine in codegen — never a cartesian product,
    # never a Python eval node
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tile_pyramid_single_shuffle_per_level(spark):
    plan = _plan(E.queries()["tile_pyramid"](spark, SF_DIR))
    # one hash repartition by parent cell + one batched Arrow kernel;
    # decode/stitch/pool never leaks into per-row Python
    assert plan.count("MapInPandas") == 1
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "BatchEvalPython" not in plan


def test_pq_adc_scan_is_jvm_only(spark):
    plan = _plan(E.queries()["ann_cosine_pq"](spark, SF_DIR))
    # codes + LUT + ADC sum all in codegen; the 3-query side broadcasts;
    # the corpus never shuffles before the top-k window
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_stratified_sample_barrier_keeps_stack_single_pass(spark):
    """Spark 4 folds rand()-range guards and pushes non-deterministic
    FILTERS through deterministic projects, so the only working barrier
    for an expensive derived stratum is the non-deterministic stratum
    PROJECTION (sampling.stratified_sample barrier=True). Pin the whole
    driver query's optimized plan to a single evaluation of the text
    stack: exactly 2 normalization regexp_replace and at most 11 splits
    (10 stopwords + 1 tokenizer). Without the barrier the pushed-down
    predicate inlines ~100 regexp_replace (measured 60x slower)."""
    df = E.queries()["stratified_sample"](spark, SF_DIR)
    opt = df._jdf.queryExecution().optimizedPlan().toString().lower()
    assert opt.count("regexp_replace") == 2, opt.count("regexp_replace")
    assert opt.count("split(") <= 11


def test_stratified_sample_barrier_is_value_preserving(spark):
    from pyspark.sql import functions as F

    from osm2geojson_spark.operators import sampling as SMP

    df = spark.range(500).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("other").alias("lang"),
    )
    a = SMP.stratified_sample(df, "lang", {"en": 0.6, "other": 0.15}, "k", barrier=True)
    b = SMP.stratified_sample(df, "lang", {"en": 0.6, "other": 0.15}, "k", barrier=False)
    assert sorted(r["k"] for r in a.collect()) == sorted(r["k"] for r in b.collect())
    assert a.columns == b.columns  # the guard column must not leak


def test_spatial_stats_plans_broadcast_and_no_cartesian(spark):
    """The spatial-statistics family must keep its scale shape: 1-row
    totals arrive via broadcast (the crossJoin is a broadcast nested loop
    of a single row, never a shuffle), neighbor relations are equi-joins
    (no CartesianProduct anywhere), and the raw point table never joins —
    only the aggregated hist does."""
    for q in ("morans_i", "hotspots", "focal_stats", "lisa"):
        plan = _plan(E.queries()[q](spark, SF_DIR))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, q


def test_session10_plan_shapes(spark):
    """Scale-contract pins for session-10 operators: dimension sides
    broadcast, no cartesian products, no per-row Python, and no
    single-partition global sort where a partitioned window suffices."""
    # Huff: stores are a broadcast dimension, demand never cartesian-joins
    plan = _plan(E.queries()["huff_model"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    # RRF: fusion rollup + per-qid window — no global single-partition sort
    plan = _plan(E.queries()["rrf_fusion"](spark, SF_DIR))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan

    # perceptron: weight vector broadcasts against the exploded features
    plan = _plan(E.queries()["perceptron"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # quadrat: JVM-only column algebra
    plan = _plan(E.queries()["quadrat"](spark, SF_DIR))
    assert "EvalPython" not in plan


def test_registry_oracles_and_bench_list_agree():
    """Every registered query has a DuckDB oracle and every oracle a
    registered query (no orphaned oracle SQL); bench only times
    registered queries (no stale names)."""
    import bench

    names = set(E.queries())
    assert names == set(E.oracle_sql())
    assert set(bench.BENCH_QUERIES) <= names
