"""Scaled synthetic OSM corpus through the full conversion pipeline:
closed-form ground truth at any n_rel (the bench osm_convert workload)."""

from __future__ import annotations

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
    "reuses:<name of the exchange it reuses>"."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        if node.nodeName() == "ReusedExchange":
            names.append("reuses:" + node.child().nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_build_features_plan_shape(spark):
    """Python crossings and shuffles of the unmaterialized conversion plan.
    ArrowEvalPython: node point + serializer, way shape + serializer, the
    relation member lookup's way shape + serializer, and the way shape once
    more under the way branch's pushed-down ``gpb IS NOT NULL`` filter.
    Member resolution is two joins (nested relation index, member lookup),
    both broadcast at this size, so it adds no shuffle. Way node resolution
    joins the node rows directly (broadcast here), so it shuffles once, for
    its per-way group: the node index's own aggregation shuffle (a max_by
    per node id) is gone, 8 -> 7."""
    frames = synthetic_osm_frames(spark, 50)
    features, _ = build_features(spark, frames, materialize=None)
    plan = feature_json_lines(features)._jdf.queryExecution().executedPlan()
    names = _plan_node_names(plan)
    assert names.count("ArrowEvalPython") == 7
    assert names.count("Exchange") + names.count("reuses:Exchange") == 7


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
