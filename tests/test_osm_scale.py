"""Scaled synthetic OSM corpus through the full conversion pipeline:
closed-form ground truth at any n_rel (the bench osm_convert workload)."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.functions import kernels as K
from osm2geojson_spark.plans.pipeline import build_features, feature_json_lines
from osm2geojson_spark.sources.normalize import normalize_elements
from osm2geojson_spark.sources.synthetic import synthetic_osm_frames


def test_synthetic_corpus_conversion(spark):
    n_rel = 300
    frames = synthetic_osm_frames(spark, n_rel)
    features, failures = build_features(spark, frames, materialize="cache")

    # every node is consumed by a way, every way by its relation -> the
    # used-refs anti join leaves exactly the relations
    rows = features.collect()
    assert len(rows) == n_rel
    assert failures.filter(F.col("reason") != "unsupported_type").count() == 0

    for r in rows:
        nrel = r["id"] - 2_000_000_000
        t, payload = GEO.decode(bytes(r["gpb"]))
        assert t == GEO.GTYPE_MULTIPOLYGON
        assert len(payload) == 1
        rings = payload[0]
        assert len(rings) == (2 if nrel % 2 == 0 else 1)
        wd = 0.2 + (nrel % 3) * 0.05
        ht = 0.2 + (nrel % 5) * 0.02
        want = wd * ht - (0.05**2 if nrel % 2 == 0 else 0.0)
        area = abs(K.signed_area(rings[0])) - sum(
            abs(K.signed_area(h)) for h in rings[1:]
        )
        assert abs(area - want) < 1e-9, (nrel, area, want)
        # RFC 7946 orientation: exterior CCW, holes CW
        assert K.signed_area(rings[0]) > 0
        for h in rings[1:]:
            assert K.signed_area(h) < 0


def _plan_node_names(plan) -> list[str]:
    """Node names of an executed plan; a reused exchange also adds
    "reuses:<name of the exchange it reuses>". The plan a cached relation
    was built from counts once, however many scans read it."""
    names, stack, cached = [], [plan], set()
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        if node.nodeName() == "ReusedExchange":
            names.append("reuses:" + node.child().nodeName())
        if node.nodeName() == "InMemoryTableScan":
            cached_plan = node.relation().cachedPlan()
            key = cached_plan.treeString()
            if key not in cached:
                cached.add(key)
                stack.append(cached_plan)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_build_features_plan_shape(spark):
    """Python crossings and shuffles of the unmaterialized conversion plan.
    ArrowEvalPython: the way shape kernel, twice under the way branch
    (once more for its pushed-down ``gpb IS NOT NULL`` filter) and once
    under the relation member lookup. MapInArrow: none, 1 -> 0: the nodes
    and ways that survive their anti joins serialize in the feature kernel.
    MapInPandas: the feature kernel, once over the union of the node, way
    and relation rows. Exchanges: way node resolution's group, once for
    the way branch and reused under the relation member lookup, and the
    feature kernel's repartition, which the node and way rows join. The
    group carries the way's own columns, so no join re-keys the way rows
    by ``seq``. Every other join broadcasts: the three used-refs anti
    joins, the node lookup and the member lookup. No join between the way
    rows and their resolved nodes multiplies the optimizer's size
    estimates, so the build sides stay under the 10 MiB broadcast
    threshold."""
    frames = synthetic_osm_frames(spark, 50)
    features, _ = build_features(spark, frames, materialize=None)
    plan = feature_json_lines(features)._jdf.queryExecution().executedPlan()
    names = _plan_node_names(plan)
    assert names.count("ArrowEvalPython") == 3
    assert names.count("MapInArrow") == 0
    assert names.count("MapInPandas") == 1
    assert names.count("Exchange") + names.count("reuses:Exchange") == 3


def test_cached_conversion_plan_python_evaluators(spark):
    """The plan the scale path runs (``materialize="cache"``, then the
    sink's lines) has at most two Python evaluators, counted under the
    cached ways too: the feature kernel, which converts and serializes
    every node, way and relation that survives the anti joins, and the
    way shape kernel below the cache."""
    spark.catalog.clearCache()
    frames = synthetic_osm_frames(spark, 50)
    features, _ = build_features(spark, frames, materialize="cache")
    try:
        plan = feature_json_lines(features)._jdf.queryExecution().executedPlan()
        names = _plan_node_names(plan)
    finally:
        spark.catalog.clearCache()
    assert "InMemoryTableScan" in names
    evaluators = ("ArrowEvalPython", "MapInPandas", "MapInArrow")
    assert sum(names.count(e) for e in evaluators) <= 2


# Generated classes one run of the scale path compiles into an emptied
# codegen cache at the suite's settings: 62, where the plan that resolved
# way nodes with a join back to the way rows, serialized nodes and ways in
# two evaluators and built two used-set broadcasts compiled 108, and the
# plan that serialized nodes and ways in a ``mapInArrow`` of their own
# compiled 63. The cache holds 100 entries in 4 LRU segments of 25, and
# its keys hash with the class loader, so a plan close to 100 fits in some
# JVMs and not in others. The slack above 62 covers a class evicted and
# compiled again within the run.
CONVERSION_CODEGEN_ENTRIES = 65


def _codegen_cache(spark):
    """Spark's generated-class cache (``CodeGenerator.cache``, private)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def test_conversion_fits_the_codegen_cache(spark, tmp_path):
    """The scale path (``build_features(materialize="cache")`` then
    ``write_geojson_lines``) compiles a bounded number of classes into an
    emptied codegen cache: the count depends on the plan alone, not on
    which cache segments the keys land in or on what earlier tests left
    there, and it is what decides whether a repeat run finds every class
    cached or compiles and JITs some of them again."""
    from osm2geojson_spark.plans.pipeline import write_geojson_lines

    metrics = getattr(
        spark._jvm.org.apache.spark.metrics.source, "CodegenMetrics$"
    ).__getattr__("MODULE$")
    spark.catalog.clearCache()
    _codegen_cache(spark).invalidateAll()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    features, _ = build_features(spark, synthetic_osm_frames(spark, 50), materialize="cache")
    write_geojson_lines(features, str(tmp_path / "out"))
    entries = metrics.METRIC_COMPILATION_TIME().getCount() - before
    spark.catalog.clearCache()
    print("conversion codegen entries", entries)
    assert entries <= CONVERSION_CODEGEN_ENTRIES


def test_normalized_frames_are_local_relations(spark):
    """The document path's element frames are JVM local relations: no scan
    of them starts a Python worker."""
    elements = [
        {"type": "node", "id": 1, "lon": 1.0, "lat": 2.0, "tags": {"a": "b"}},
        {"type": "way", "id": 2, "nodes": [1, 1]},
        {
            "type": "relation",
            "id": 3,
            "members": [
                {"type": "way", "ref": 2, "role": "outer",
                 "geometry": [{"lon": 1.0, "lat": 2.0}]},
            ],
        },
        {"type": "area", "id": 4},
    ]
    frames = normalize_elements(spark, elements)
    for df in (frames.nodes, frames.ways, frames.relations, frames.others):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
        assert df.count() == 1


def test_normalize_rejects_bad_input_naming_the_field(spark):
    """A null id and a string id fail on the driver with a named field."""
    with pytest.raises(ValueError, match=r"\bid\b"):
        normalize_elements(
            spark, [{"type": "node", "id": None, "lon": 1.0, "lat": 2.0}]
        )
    with pytest.raises((TypeError, ValueError)):
        normalize_elements(
            spark, [{"type": "node", "id": "x", "lon": 1.0, "lat": 2.0}]
        )


_NAN = float("nan")


def _point_elements(cases, base):
    """A node, a center way and a center relation per (lon, lat) case, ids
    ``base + 10 * i + (0, 1, 2)``; nothing references the node, so it stays
    a feature. Centers need both keys, so a null coordinate is node-only."""
    out = []
    for i, (lon, lat) in enumerate(cases):
        k = base + 10 * i
        out.append({"type": "node", "id": k, "lon": lon, "lat": lat, "tags": {"n": str(i)}})
        if lon is not None and lat is not None:
            c = {"lon": lon, "lat": lat}
            out.append({"type": "way", "id": k + 1, "center": c, "tags": {"w": str(i)}})
            out.append({"type": "relation", "id": k + 2, "center": c, "members": []})
    return out


def test_point_edge_values_pack_and_serialize_as_struct_pack(spark):
    """Points are packed where the element already crosses into Python
    (the node serializer, the way shape kernel, the relation kernel): raw
    IEEE 754 bits as ``struct.pack`` writes them (``geom.point``), -0.0,
    NaN, subnormal and infinite values included, and serialized from those
    bytes (``to_geojson_geometry``). Node, center-way and center-relation
    points alike; a null lat packs as NaN. A null or NaN lon gives no
    point: the node, the center way and the center relation all fail as
    ``no_lon``, so strict mode raises for each of them. The plan stays deterministic, so the optimizer still
    pushes filters through its projections."""
    from osm2geojson_spark import json2shapes

    ok = [(-0.0, -0.0), (0.0, -0.0), (1e-300, -1e-300), (180.0, -180.0),
          (-180.0, 180.0), (-179.99999999, 90.0), (1.0, _NAN), (2.0, None),
          (5e-324, -2.5e-310), (1.7976931348623157e308, -float("inf"))]
    elements = _point_elements(ok, 1000)
    shapes = json2shapes(spark, {"elements": elements})
    assert len(shapes) == len(elements)
    want = {}
    for seq, (el, (gpb, props)) in enumerate(zip(elements, shapes)):
        assert (props["type"], props["id"]) == (el["type"], el["id"])
        p = el.get("center") or el
        lat = _NAN if p["lat"] is None else p["lat"]
        point = GEO.point(p["lon"], lat)
        assert bytes(gpb) == point, el
        want[seq] = json.dumps(
            {"type": "Feature", "properties": props,
             "geometry": GEO.to_geojson_geometry(point)},
            separators=(",", ":"),
        )
    features, _ = build_features(spark, normalize_elements(spark, elements))
    assert features._jdf.queryExecution().analyzed().deterministic()
    got = {r["seq"]: r["line"] for r in feature_json_lines(features).collect()}
    assert got == want

    bad = [(_NAN, 1.0), (None, 1.0)]
    elements = _point_elements(bad, 2000)
    assert json2shapes(spark, {"elements": elements}) == []
    _, failures = build_features(spark, normalize_elements(spark, elements))
    assert sorted((r["id"], r["reason"]) for r in failures.collect()) == [
        (2000, "no_lon"), (2001, "no_lon"), (2002, "no_lon"), (2010, "no_lon")
    ]
    from osm2geojson_spark import ConversionError, json2geojson

    valid = {"type": "node", "id": 9, "lon": 3.0, "lat": 4.0}
    for el in elements[1:3]:
        with pytest.raises(ConversionError, match=rf"element {el['id']}: no_lon"):
            json2geojson(spark, {"elements": [el, valid]}, raise_on_failure=True)


def test_node_without_lon_fails_by_name(spark):
    """A node whose lon is null or NaN has no point: it is no Feature, it
    is a ``no_lon`` failure, and strict mode raises with that reason. The
    valid node next to it still converts."""
    from osm2geojson_spark import ConversionError, json2geojson

    data = {"elements": [
        {"type": "node", "id": 1, "lon": None, "lat": 1.0},
        {"type": "node", "id": 2, "lon": 3.0, "lat": 4.0},
        {"type": "node", "id": 3, "lon": _NAN, "lat": 1.0},
    ]}
    got = json2geojson(spark, data)["features"]
    assert [(f["properties"]["id"], f["geometry"]) for f in got] == [
        (2, {"type": "Point", "coordinates": [3.0, 4.0]})
    ]
    _, failures = build_features(spark, normalize_elements(spark, data["elements"]))
    assert sorted((r["etype"], r["id"], r["reason"]) for r in failures.collect()) == [
        ("node", 1, "no_lon"), ("node", 3, "no_lon")
    ]
    with pytest.raises(ConversionError, match=r"element 1: no_lon"):
        json2geojson(spark, data, raise_on_failure=True)
