"""Call-site repair semantics: buffer(0)-style fixes must keep EVERY
repaired piece (the reference's shapely buffer(0) returns a MultiPolygon
with all loops — main.py:264-270), at both the closed-way and the
relation-member call sites."""

from __future__ import annotations

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import geom
from osm2geojson_spark.functions import kernels as K
from osm2geojson_spark.operators.assemble import (
    _lines_to_multipolygon,
    close_coords_expr,
    way_gpb_udf,
)
from osm2geojson_spark.plans.pipeline import (
    build_features,
    collect_features,
    convert_elements,
    json2geojson,
)
from osm2geojson_spark.sources.normalize import normalize_elements


def _pentagram() -> np.ndarray:
    ang = np.pi / 2 + 2 * np.pi * (2 * np.arange(5)) / 5
    return K.close_ring(np.column_stack([np.cos(ang), np.sin(ang)]))


def test_self_intersecting_way_emits_all_repaired_loops(spark):
    """A pentagram closed way tagged as polygon must emit a MultiPolygon
    with all 6 simple loops, not a single arbitrary fragment."""
    ring = _pentagram()
    df = spark.createDataFrame(
        [(1, ring.ravel().tolist(), True)],
        "way_id long, coords array<double>, is_poly boolean",
    )
    out = df.select(way_gpb_udf(F.col("coords"), F.col("is_poly"), F.lit("geom")).alias("s"))
    row = out.select("s.gpb", "s.reason").collect()[0]
    assert row["reason"] is None
    gtype, polys = geom.decode(bytes(row["gpb"]))
    assert gtype == geom.GTYPE_MULTIPOLYGON
    assert len(polys) == 6
    for rings in polys:
        assert K.ring_is_simple(rings[0])
    # orientation repair applied: shells CCW (positive signed area)
    assert all(K.signed_area(rings[0]) > 0 for rings in polys)


def test_simple_way_still_emits_plain_polygon(spark):
    sq = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0], [0.0, 0.0]])
    df = spark.createDataFrame(
        [(1, sq.ravel().tolist(), True)],
        "way_id long, coords array<double>, is_poly boolean",
    )
    row = df.select(way_gpb_udf(F.col("coords"), F.col("is_poly"), F.lit("geom")).alias("s")).select(
        "s.gpb"
    ).collect()[0]
    gtype, _ = geom.decode(bytes(row["gpb"]))
    assert gtype == geom.GTYPE_POLYGON


def test_lines_to_multipolygon_keeps_all_repaired_pieces():
    """The relation-member path: one merged closed line that self-intersects
    (figure-eight) plus a plain square -> three polygons total (two split
    lobes + square), not two."""
    fig8 = np.array(
        [[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]]
    )
    square = np.array(
        [[10.0, 10.0], [14.0, 10.0], [14.0, 14.0], [10.0, 14.0], [10.0, 10.0]]
    )
    polys = _lines_to_multipolygon([fig8, square])
    assert polys is not None
    assert len(polys) == 3
    for rings in polys:
        assert K.ring_is_simple(rings[0])


def test_close_coords_expr_appends_first_point_to_open_rings(spark):
    open_sq = [0.0, 0.0, 1.0, 0.0, 1.0, 1.0]
    closed_sq = open_sq + [0.0, 0.0]
    signed_zero = [-0.0, 5.0, 1.0, 5.0, 1.0, 6.0, 0.0, 5.0]
    rows = [
        (1, open_sq, True),
        (2, closed_sq, True),
        (3, None, True),
        (4, [3.0, 4.0], True),
        (5, open_sq, False),
        (6, signed_zero, True),
    ]
    df = spark.createDataFrame(rows, "id int, coords array<double>, needs_close boolean")
    got = dict(
        df.select("id", close_coords_expr(F.col("coords"), F.col("needs_close")))
        .toPandas()
        .itertuples(index=False)
    )
    got = {k: None if v is None else list(v) for k, v in got.items()}
    assert got == {
        1: closed_sq,
        2: closed_sq,
        3: None,
        4: [3.0, 4.0],
        5: open_sq,
        6: signed_zero,
    }


def _node(i, lon, lat):
    return {"type": "node", "id": i, "lon": lon, "lat": lat}


def _way(i, nodes, **tags):
    return {"type": "way", "id": i, "nodes": nodes, "tags": tags}


def _rel(i, rtype, members):
    return {
        "type": "relation",
        "id": i,
        "members": [{"type": t, "ref": r, "role": role} for t, r, role in members],
        "tags": {"type": rtype},
    }


def test_nested_member_failure_reasons(spark):
    """Depth-1 nested relation members: a relation member two levels down
    that exists aborts the relation, a nested relation whose ways do not
    merge to one chain fails it, and a multipolygon ignores its
    relation-type members."""
    elements = [
        _node(1, 0.0, 0.0), _node(2, 1.0, 0.0), _node(3, 1.0, 1.0),
        _node(4, 0.0, 1.0), _node(5, 5.0, 5.0), _node(6, 6.0, 5.0),
        _way(10, [1, 2]),
        _way(11, [2, 3]),
        _way(12, [5, 6]),
        _way(13, [1, 2, 3, 4, 1]),
        # 100 -> 200 -> {relation 300, way 10}: 300 exists -> too deep
        _rel(100, "route", [("relation", 200, "")]),
        _rel(200, "route", [("relation", 300, ""), ("way", 10, "")]),
        _rel(300, "route", [("way", 11, "")]),
        # 400 -> 500 -> {way 10, way 12}: two disjoint chains
        _rel(400, "route", [("relation", 500, "")]),
        _rel(500, "route", [("way", 10, ""), ("way", 12, "")]),
        # multipolygon with a relation-type member: assembled from its way
        _rel(600, "multipolygon", [("way", 13, "outer"), ("relation", 500, "outer")]),
    ]
    frames = normalize_elements(spark, elements)
    features, failures = build_features(spark, frames)
    reasons = {
        r["id"]: r["reason"]
        for r in failures.filter(F.col("etype") == "relation").collect()
    }
    assert reasons == {
        100: "nested_relation_too_deep",
        400: "nested_multiline_not_mergeable",
    }
    rels = {
        r["id"]: geom.decode(bytes(r["gpb"]))
        for r in features.filter(F.col("etype") == "relation").collect()
    }
    gtype, polys = rels[600]
    assert gtype == geom.GTYPE_MULTIPOLYGON
    assert len(polys) == 1 and len(polys[0]) == 1
    assert abs(K.signed_area(polys[0][0])) == 1.0


def test_negative_zero_coords_emit_positive_zero(spark):
    """-0.0 longitudes, from node refs and from inline geometry, come out as
    0.0, and an inline ring from (-0.0, 5) to (0.0, 5) reads as closed."""
    elements = [
        _node(1, -0.0, 0.0), _node(2, 1.0, 0.0), _node(3, 1.0, 1.0),
        _node(4, -0.0, 1.0),
        _way(10, [1, 2, 3, 4, 1], building="yes"),
        {
            "type": "way",
            "id": 11,
            "geometry": [
                {"lon": -0.0, "lat": 5.0},
                {"lon": 1.0, "lat": 5.0},
                {"lon": 1.0, "lat": 6.0},
                {"lon": 0.0, "lat": 5.0},
            ],
            "tags": {"building": "yes"},
        },
    ]
    feats = json2geojson(spark, {"elements": elements})["features"]
    got = {f["properties"]["id"]: f["geometry"] for f in feats}
    assert got == {
        10: {
            "type": "Polygon",
            "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]],
        },
        11: {
            "type": "Polygon",
            "coordinates": [[[0.0, 5.0], [1.0, 5.0], [1.0, 6.0], [0.0, 5.0]]],
        },
    }
    assert "-0.0" not in json.dumps(got)


def test_ways_sharing_an_id_resolve_their_own_nodes(spark):
    """Two way elements with the same id each take their coordinates from
    their own node list; the node lists are not pooled by id."""
    elements = [
        _node(1, 0.0, 0.0), _node(2, 1.0, 1.0), _node(3, 0.0, 2.0),
        _way(10, [1, 2]),
        _way(10, [1, 2]),
        _way(11, [2, 3]),
        _way(11, [3, 1]),
    ]
    feats = convert_elements(spark, elements, filter_used_refs=False)
    got = [
        (f["properties"]["id"], f["geometry"]["coordinates"])
        for f in feats
        if f["properties"]["type"] == "way"
    ]
    assert got == [
        (10, [[0.0, 0.0], [1.0, 1.0]]),
        (10, [[0.0, 0.0], [1.0, 1.0]]),
        (11, [[1.0, 1.0], [0.0, 2.0]]),
        (11, [[0.0, 2.0], [0.0, 0.0]]),
    ]


def test_relations_sharing_an_id_convert_their_own_members(spark):
    """Two relation elements with the same id each convert from their own
    member list; the members are not pooled by id."""
    elements = [
        _node(1, 0.0, 0.0), _node(2, 1.0, 1.0), _node(3, 0.0, 2.0),
        _way(10, [1, 2]),
        _way(11, [2, 3]),
        _rel(100, "route", [("way", 10, "")]),
        _rel(100, "route", [("way", 11, "")]),
    ]
    feats = convert_elements(spark, elements, filter_used_refs=False)
    got = [
        (f["properties"]["id"], f["geometry"])
        for f in feats
        if f["properties"]["type"] == "relation"
    ]
    assert got == [
        (100, {"type": "LineString", "coordinates": [[0.0, 0.0], [1.0, 1.0]]}),
        (100, {"type": "LineString", "coordinates": [[1.0, 1.0], [0.0, 2.0]]}),
    ]


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "false"},
        {
            "spark.sql.shuffle.partitions": "7",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ],
    ids=["1-partition", "7-partitions-aqe-shuffle-joins"],
)
def test_duplicate_node_ids_last_occurrence_wins(spark, conf):
    """Two node elements share id 1: a way takes node 1's coordinates from
    the last occurrence (the reference's refs_index overwrite). A way whose
    second ref is missing fails as node_missing, but its first node is
    still marked used; the node after the missing ref is not. The used
    anti-join matches on id only, so both rows of node 1 are dropped."""
    elements = [
        _node(1, 0.0, 0.0), _node(2, 1.0, 1.0), _node(3, 2.0, 2.0),
        _node(4, 3.0, 3.0), _node(1, 5.0, 5.0), _node(6, 6.0, 6.0),
        _way(10, [1, 2]),
        _way(11, [3, 99, 4]),
        _way(12, [6, 1, 6]),
    ]
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        frames = normalize_elements(spark, elements)
        features, failures = build_features(spark, frames)
        got = [
            (f["properties"]["type"], f["properties"]["id"], f["geometry"])
            for f in collect_features(features)
        ]
        failed = sorted((r["id"], r["reason"]) for r in failures.collect())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == [
        ("node", 4, {"type": "Point", "coordinates": [3.0, 3.0]}),
        ("way", 10, {"type": "LineString", "coordinates": [[5.0, 5.0], [1.0, 1.0]]}),
        (
            "way",
            12,
            {"type": "LineString", "coordinates": [[6.0, 6.0], [5.0, 5.0], [6.0, 6.0]]},
        ),
    ]
    assert failed == [(11, "node_missing")]
