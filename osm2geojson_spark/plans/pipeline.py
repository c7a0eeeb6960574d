"""End-to-end conversion plan: elements -> GeoJSON features.

Query lifecycle (SURVEY §3): normalize -> resolve ways (join) -> assemble
relations (grouped Arrow kernels) -> used-refs anti join -> ordered feature
emission. This is the Spark re-expression of the reference's
``_json2shapes``/``_json2geojson`` (/root/reference/osm2geojson/main.py:118-180).

Used-ref marking is a *projection of consumption edges* instead of the
reference's in-place ``ref["used"] = id`` mutation (main.py:293,318-320,529,609):

* nodes  — refs resolved by any top-level way's node-chain walk, up to the
  first missing ref (partial marking on failure is reproduced);
* ways   — deref'd members of multipolygon-classified relations (marked even
  when the way later fails to convert);
* rels   — relation-type members of multiline-path relations.

The dedup filter itself is a left **anti join on id only** (not (type, id)) —
faithfully reproducing the reference's cross-type-collision behavior.
The used set is one ``localCheckpoint`` (its plan runs inside
``build_features``, and with ``materialize="cache"`` fills the ways cache);
the node, way and relation branches each anti join against it, keyed by
one ``(doc_id, id)`` struct, so all three share one build side (one
broadcast at small inputs) even where a branch's ``doc_id`` is a constant.

Python crossings, per element class: a node crosses once (the serializer,
after the anti join, which also packs its point), a way twice (the shape
kernel below the ways cache, the serializer after the anti join), a
relation once (its kernel emits the serialized line with the shape). The
node and way branches share one serializer, a ``mapInArrow`` over their
union. Each task entering a Python evaluator pays a fixed cost of the
order of 100 ms on a small box, rows or not, and every evaluator adds
generated classes, so the plan keeps evaluators few.

The distributed sink (``write_geojson_lines``) persists the serialized
lines before its ``repartitionByRange`` and runs four jobs: the range
partitioner's sample job (which fills the cache, so it runs the relation
kernel and the serializers), its skew re-sample job, the shuffle map stage
and the write. Without the cache each of the first three would re-run the
kernel and the serializers.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geom
from ..functions.classify import polygon_flag_column
from ..operators.assemble import (
    assemble_relations,
    point_gpb,
    props_json_sql,
    resolve_ways,
)
from ..sources.normalize import ElementFrames, normalize_documents, normalize_elements
from ..sources import xml_source


class ConversionError(RuntimeError):
    """strict-mode (raise_on_failure) conversion failure."""


_FEATURE_SCHEMA = (
    "doc_id string, seq bigint, etype string, id bigint, gpb binary, props string, line string"
)


def _serialize_batches(batches):
    """mapInArrow body of the node and way serializer (GPB decode and props
    passthrough are per-row ragged work, so this is the sanctioned Python
    path). A way row arrives with its shape; a node row arrives without
    one, and its point is packed here from its lon and lat: a node crosses
    into Python once. Nodes without a lon never reach it (they fail as
    ``no_lon``)."""
    for b in batches:
        gpbs = [
            point_gpb(x, y) if g is None else g
            for g, x, y in zip(
                b.column("gpb").to_pylist(),
                b.column("lon").to_pylist(),
                b.column("lat").to_pylist(),
            )
        ]
        props = b.column("props")
        lines = [geom.feature_json(g, p) for g, p in zip(gpbs, props.to_pylist())]
        yield pa.RecordBatch.from_arrays(
            [b.column(c) for c in ("doc_id", "seq", "etype", "id")]
            + [pa.array(gpbs, b.column("gpb").type), props, pa.array(lines, props.type)],
            names=["doc_id", "seq", "etype", "id", "gpb", "props", "line"],
        )


def build_features(
    spark: SparkSession,
    frames: ElementFrames,
    *,
    filter_used_refs: bool = True,
    area_keys: dict | None = None,
    polygon_features: list | None = None,
    materialize: str | None = "localCheckpoint",
) -> tuple[DataFrame, DataFrame]:
    """Returns (features_df, failures_df).

    features_df: doc_id, seq, etype, id, gpb, props, line — one row per
    converted element; ``line`` is its serialized GeoJSON Feature.
    failures_df: seq, etype, id, reason — unconverted elements (reference
    logs "Element not converted"; strict mode raises on the first).

    ``materialize``: "localCheckpoint" (default — cuts plan lineage, right
    for document-sized conversions), "cache" (scale path: keeps lineage for
    the optimizer, avoids recompute across the three consumers), or None.
    """
    features, failures, _, _ = _build_plan(
        frames,
        filter_used_refs=filter_used_refs,
        area_keys=area_keys,
        polygon_features=polygon_features,
        materialize=materialize,
    )
    return features, failures


def _build_plan(
    frames: ElementFrames,
    *,
    filter_used_refs: bool,
    area_keys: dict | None,
    polygon_features: list | None,
    materialize: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``build_features``' plan plus the resolved ways and the flagged
    relations it was built from: (features, failures, ways, rels_flagged).
    Strict mode derives its member violations from the same two frames."""
    ways = resolve_ways(frames, area_keys, polygon_features)
    if materialize == "localCheckpoint":
        ways = ways.localCheckpoint(eager=False)
    elif materialize == "cache":
        ways = ways.cache()
    rels_flagged = frames.relations.withColumn(
        "is_poly",
        polygon_flag_column(
            F.col("tags"), F.lit(None).cast("boolean"), area_keys, polygon_features
        ),
    )
    if materialize == "localCheckpoint":
        rels_flagged = rels_flagged.localCheckpoint(eager=False)
    rel_shapes = assemble_relations(frames, ways, rels_flagged)

    # the used-refs anti-join distributes over the feature union — applying
    # it per branch lets the node branch (the largest element class) filter
    # BEFORE constructing gpb/props, so dropped nodes never build payloads
    # and the join shuffles slim source rows. The right side stays the FULL
    # used set per branch, preserving the reference's id-only cross-type
    # matching quirk exactly.
    # localCheckpoint: three branch joins consume the used set — materialize
    # its subtree once (slim (doc, id) rows; released with the plan)
    used = (
        used_ref_ids(frames, ways, rels_flagged).localCheckpoint(eager=False)
        if filter_used_refs
        else None
    )

    # keyed by one (doc, id) struct, not by two columns: where a branch's
    # doc_id is a constant (one document), the optimizer would substitute
    # it and key that branch's build side by the id alone, so the branches
    # could not share one broadcast of the used set. A used row never has a
    # null id, so the struct key matches exactly the pairs the two column
    # keys would.
    def _drop_used(df: DataFrame) -> DataFrame:
        if used is None:
            return df
        return df.join(
            used,
            F.expr("struct(doc_id, id)") == F.expr("struct(used_doc, used_id)"),
            "left_anti",
        )

    # nodes and ways cross into Python in one serializer, after their anti
    # joins (it also packs a node's point); relations in their kernel, which
    # also serializes; the way shape kernel sits below the ways cache. A
    # node without a lon has no point (``point_gpb``): it fails in the JVM
    # and never enters the serializer.
    nodes = _drop_used(frames.nodes)
    no_lon = "lon IS NULL OR isnan(lon)"
    node_rows = nodes.filter(f"NOT ({no_lon})").selectExpr(
        "doc_id",
        "seq",
        "'node' AS etype",
        "id",
        "CAST(NULL AS BINARY) AS gpb",
        f"{props_json_sql('node', include_nodes=False)} AS props",
        "lon",
        "lat",
    )

    way_feats = ways.selectExpr(
        "doc_id",
        "seq",
        "'way' AS etype",
        "id",
        "gpb",
        f"{props_json_sql('way', include_nodes=True)} AS props",
        "reason",
    )
    way_rows = _drop_used(way_feats.filter("gpb IS NOT NULL")).selectExpr(
        "doc_id",
        "seq",
        "etype",
        "id",
        "gpb",
        "props",
        "CAST(NULL AS DOUBLE) AS lon",
        "CAST(NULL AS DOUBLE) AS lat",
    )

    rel_feats = rel_shapes.selectExpr(
        "doc_id", "seq", "'relation' AS etype", "rel_id AS id", "gpb", "props", "reason", "line"
    )

    node_failures = nodes.filter(no_lon).selectExpr(
        "doc_id", "seq", "'node' AS etype", "id", "'no_lon' AS reason"
    )
    other_failures = frames.others.selectExpr(
        "doc_id", "seq", "type AS etype", "id", "'unsupported_type' AS reason"
    )
    failure_cols = ["doc_id", "seq", "etype", "id", "reason"]
    failures = (
        way_feats.filter("gpb IS NULL")
        .select(failure_cols)
        .unionByName(rel_feats.filter("gpb IS NULL").select(failure_cols))
        .unionByName(node_failures)
        .unionByName(other_failures)
    )

    # one Python evaluator serializes the union of both branches: a map over
    # batches is not pushed below a union, as a projection would be
    features = (
        node_rows.unionByName(way_rows)
        .mapInArrow(_serialize_batches, _FEATURE_SCHEMA)
        .unionByName(_drop_used(rel_feats.filter("gpb IS NOT NULL").drop("reason")))
    )

    return features, failures, ways, rels_flagged


def used_ref_ids(
    frames: ElementFrames,
    ways_resolved: DataFrame,
    rels_flagged: DataFrame,
) -> DataFrame:
    """DataFrame with one column ``used_id`` — the consumption-edge
    projection replacing the reference's side-effecting used marks."""
    used_nodes = ways_resolved.selectExpr(
        "doc_id AS used_doc", "explode(used_node_refs) AS used_id"
    )

    mem = rels_flagged.filter("center IS NULL").selectExpr(
        "doc_id", "is_poly", "explode(members) AS m"
    )

    # multipolygon way members without inline geometry mark the deref'd way
    way_ids = frames.ways.selectExpr("doc_id", "id AS ref")
    used_ways = (
        mem.filter(
            "is_poly AND m.mtype = 'way' AND (m.geometry IS NULL OR size(m.geometry) = 0)"
        )
        .selectExpr("doc_id", "m.ref AS ref")
        .join(way_ids, ["doc_id", "ref"], "leftsemi")
        .selectExpr("doc_id AS used_doc", "ref AS used_id")
    )

    # multiline relation-type members mark the deref'd relation
    rel_ids = frames.relations.selectExpr("doc_id", "id AS ref")
    used_rels = (
        mem.filter("NOT is_poly AND m.mtype = 'relation'")
        .selectExpr("doc_id", "m.ref AS ref")
        .join(rel_ids, ["doc_id", "ref"], "leftsemi")
        .selectExpr("doc_id AS used_doc", "ref AS used_id")
    )

    # NO distinct: the only consumer is a left-anti join, where duplicate
    # keys on the build side are semantically free — a distinct here is a
    # full extra shuffle of the largest intermediate in the pipeline
    return used_nodes.unionByName(used_ways).unionByName(used_rels)


def feature_json_lines(features: DataFrame) -> DataFrame:
    """(doc_id, seq, line): one complete GeoJSON Feature as a compact JSON
    string per row of ``build_features``' output — the distributed
    serialization the reference performs driver-side in one json.dump
    (main.py:118-133, __main__.py:115-135).

    The lines are built inside ``build_features``' branches, so selecting
    them adds no Python pass: a conversion crosses into Python once per
    element class (the node serializer, the way serializer, the relation
    kernel) plus the way shape kernel. Everything around them stays a
    DataFrame, so the sink scales with executors instead of driver memory."""
    return features.select("doc_id", "seq", "line")


def write_geojson_lines(
    features: DataFrame,
    path: str,
    num_files: int | None = None,
    mode: str = "error",
) -> None:
    """Distributed GeoJSON-lines sink (SURVEY §1.2's S10 scale mapping:
    executor-side feature→JSON + ``df.write.text``): one Feature
    per line, directory-partitioned by ``doc_id``, and — because the rows
    are range-repartitioned on (doc_id, seq) and sorted within partitions —
    reading each doc directory's part files in FILENAME order replays the
    exact input-order feature sequence the driver-side sink produces.
    ``num_files`` bounds output file count (defaults to Spark's chosen
    range partitioning); a planet-scale conversion writes through here
    with no driver collect.

    The serialized lines are persisted before the range exchange: its
    partitioner samples the child in one job, re-samples skewed partitions
    in another, and the shuffle map stage reads it a third time, so an
    unpersisted child would run the relation kernel and the serializers
    three times. The cache is released in ``finally``, also
    when the write fails."""
    lines = feature_json_lines(features).persist()
    try:
        if num_files:
            ranged = lines.repartitionByRange(num_files, "doc_id", "seq")
        else:
            ranged = lines.repartitionByRange("doc_id", "seq")
        (
            ranged.sortWithinPartitions("doc_id", "seq")
            .select("doc_id", "line")
            .write.mode(mode)
            .partitionBy("doc_id")
            .text(path)
        )
    finally:
        lines.unpersist()


def read_geojson_lines(spark: SparkSession, path: str) -> dict[str, list[dict]]:
    """Driver-side reader for ``write_geojson_lines`` output (tests /
    small corpora): {doc_id: [feature, ...]} with per-doc part files
    replayed in filename order."""
    import glob
    import os

    out: dict[str, list[dict]] = {}
    for doc_dir in sorted(glob.glob(os.path.join(path, "doc_id=*"))):
        doc_id = os.path.basename(doc_dir).split("=", 1)[1]
        feats: list[dict] = []
        for part in sorted(glob.glob(os.path.join(doc_dir, "part-*"))):
            with open(part, encoding="utf-8") as fh:
                for ln in fh:
                    ln = ln.strip()
                    if ln:
                        feats.append(json.loads(ln))
        out[doc_id] = feats
    return out


def collect_features_by_doc(features: DataFrame) -> dict[str, list[dict]]:
    """Driver-side materialization, grouped per document, each in input
    order — the golden-test sink. It reads the SAME ``feature_json_lines``
    the distributed sink writes, so every golden fixture also pins the
    scale path's bytes."""
    rows = feature_json_lines(features).collect()
    rows.sort(key=lambda r: (r["doc_id"], r["seq"]))
    out: dict[str, list[dict]] = {}
    for r in rows:
        out.setdefault(r["doc_id"], []).append(json.loads(r["line"]))
    return out


def collect_features(features: DataFrame) -> list[dict]:
    by_doc = collect_features_by_doc(features)
    if not by_doc:
        return []
    (only,) = by_doc.values()
    return only


def strict_violations(
    frames: ElementFrames,
    ways_resolved: DataFrame,
    rels_flagged: DataFrame,
) -> DataFrame:
    """Member-level failures that raise in strict mode even when the parent
    relation still converts (main.py:540-549, 604-620): unhandled member
    types and missing/unconvertible members. Returns (seq, id, reason)."""
    rels = rels_flagged.filter(F.col("center").isNull())
    mem = rels.select("doc_id", "seq", "id", "is_poly", F.explode("members").alias("m"))
    way_ok = ways_resolved.select(
        F.col("doc_id").alias("wdoc"),
        F.col("id").alias("wref"),
        (F.col("gpb").isNotNull() & (F.col("branch") != "center")).alias("w_ok"),
    )
    rel_ids = frames.relations.select(
        F.col("doc_id").alias("rdoc"), F.col("id").alias("rref"), F.lit(True).alias("r_found")
    )
    m = (
        mem.join(
            way_ok,
            (mem["m.ref"] == way_ok["wref"]) & (mem["doc_id"] == way_ok["wdoc"]),
            "left",
        )
        .join(
            rel_ids,
            (mem["m.ref"] == rel_ids["rref"]) & (mem["doc_id"] == rel_ids["rdoc"]),
            "left",
        )
        .withColumn(
            "inline", F.col("m.geometry").isNotNull() & (F.size("m.geometry") > 0)
        )
    )
    is_way = F.col("m.mtype") == "way"
    is_rel = F.col("m.mtype") == "relation"
    way_missing = is_way & ~F.col("inline") & ~F.coalesce(F.col("w_ok"), F.lit(False))
    unhandled = F.when(
        F.col("is_poly"), ~is_way  # multipolygon: non-way members raise
    ).otherwise(~is_way & ~is_rel)  # multiline: node members raise
    rel_missing = (~F.col("is_poly")) & is_rel & F.col("r_found").isNull()
    reason = (
        F.when(unhandled, "unhandled_member")
        .when(way_missing, "missing_member")
        .when(rel_missing, "missing_member")
    )
    return m.select("doc_id", "seq", "id", reason.alias("reason")).filter(
        F.col("reason").isNotNull()
    )


def convert_elements(
    spark: SparkSession,
    elements: list[dict],
    *,
    filter_used_refs: bool = True,
    area_keys: dict | None = None,
    polygon_features: list | None = None,
    raise_on_failure: bool = False,
) -> list[dict]:
    """elements -> GeoJSON feature dicts (input order)."""
    frames = normalize_elements(spark, elements)
    features, failures, ways, rels_flagged = _build_plan(
        frames,
        filter_used_refs=filter_used_refs,
        area_keys=area_keys,
        polygon_features=polygon_features,
        materialize="localCheckpoint",
    )
    if raise_on_failure:
        viol = strict_violations(frames, ways, rels_flagged).select("seq", "id", "reason")
        bad = (
            failures.filter(F.col("reason") != "unsupported_type")
            .select("seq", "id", "reason")
            .unionByName(viol)
            .orderBy("seq")
            .limit(1)
            .collect()
        )
        if bad:
            b = bad[0]
            raise ConversionError(f"Failed to convert element {b['id']}: {b['reason']}")
    return collect_features(features)


def convert_documents(
    spark: SparkSession,
    docs: dict[str, list[dict]],
    *,
    filter_used_refs: bool = True,
    area_keys: dict | None = None,
    polygon_features: list | None = None,
) -> dict[str, list[dict]]:
    """Batch conversion: many documents in ONE Spark job (document-parallel
    — all joins/groupBys are keyed by (doc_id, element id)). Returns
    {doc_id: [feature, ...]}; documents yielding no features map to []."""
    frames = normalize_documents(spark, docs)
    features, _ = build_features(
        spark,
        frames,
        filter_used_refs=filter_used_refs,
        area_keys=area_keys,
        polygon_features=polygon_features,
    )
    out = {doc_id: [] for doc_id in docs}
    out.update(collect_features_by_doc(features))
    return out


def json2geojson(spark, data, **kw) -> dict:
    if isinstance(data, str):
        data = json.loads(data)
    return {
        "type": "FeatureCollection",
        "features": convert_elements(spark, data["elements"], **kw),
    }


def xml2geojson(spark, xml_str: str, **kw) -> dict:
    data = xml_source.parse(xml_str)
    return {
        "type": "FeatureCollection",
        "features": convert_elements(spark, data["elements"], **kw),
    }
