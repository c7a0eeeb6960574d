"""Classifier precedence unit tests — ported from the reference's
tests/test_polygon_logic.py (17 cases) and run against BOTH implementations:
the Python mirror and the Spark column expression."""

from __future__ import annotations

import threading

import pytest
from py4j.java_gateway import GatewayClient
from pyspark.sql import functions as F

from osm2geojson_spark.functions.classify import (
    is_geometry_polygon,
    is_geometry_polygon_without_exceptions,
    polygon_flag_column,
)
from osm2geojson_spark.rulebooks import default_area_keys, default_polygon_features

# (tags, closed, expected) — closed=None when the element has no geometry/nodes
FULL_CASES = [
    ({}, None, False),
    ({"area": "no", "type": "multipolygon", "building": "yes"}, None, False),
    ({"area": "yes", "highway": "steps"}, None, True),
    ({"area": "no", "building": "yes"}, None, False),
    ({"area": "yes", "name": "Random Feature"}, None, True),
    ({"type": "multipolygon", "name": "Some relation"}, None, True),
    ({"type": "multipolygon", "highway": "steps"}, None, True),
    ({"building": "yes"}, False, False),  # open geometry
    ({"building": "yes"}, True, True),  # closed geometry
    ({"area": "unknown", "highway": "steps"}, None, False),
    # areaKeys veto (barrier-wall golden semantics)
    ({"barrier": "wall"}, True, False),
    # issue-52: highway=service closed way stays a line
    ({"highway": "service"}, True, False),
]

RULEBOOK_CASES = [
    ({"indoor": "yes", "highway": "steps"}, False),
    ({"highway": "trunk"}, False),
    ({"highway": "rest_area"}, True),
    ({"building": "yes"}, True),
    ({"natural": "coastline"}, False),
    ({"natural": "water"}, True),
    ({"name": "Something Random"}, False),
]


@pytest.mark.parametrize("tags,closed,expected", FULL_CASES)
def test_python_mirror(tags, closed, expected):
    assert is_geometry_polygon(tags, closed) is expected


@pytest.mark.parametrize("tags,expected", RULEBOOK_CASES)
def test_python_rulebook(tags, expected):
    assert is_geometry_polygon_without_exceptions(tags) is expected


def test_spark_column_all_cases(spark):
    rows = [
        (i, [(k, v) for k, v in tags.items()] or None, closed, expected)
        for i, (tags, closed, expected) in enumerate(FULL_CASES)
    ]
    df = spark.createDataFrame(
        rows, "i int, tags array<struct<k:string,v:string>>, closed boolean, expected boolean"
    )
    out = df.withColumn(
        "got", polygon_flag_column(F.col("tags"), F.col("closed"))
    ).collect()
    for r in out:
        assert r["got"] == r["expected"], f"case {r['i']}: {r['got']} != {r['expected']}"


def test_tag_order_sensitivity_of_exception(spark):
    """areaKeys veto uses the FIRST tag key present in areaKeys — tag
    insertion order is semantic (main.py:370-373). advertising=billboard is
    a truthy exception, aerialway=zzz a falsy one; whichever comes first
    decides, flipping the verdict."""
    a = [("advertising", "billboard"), ("aerialway", "zzz"), ("building", "yes")]
    b = [("aerialway", "zzz"), ("advertising", "billboard"), ("building", "yes")]
    assert is_geometry_polygon(a, True) is False
    assert is_geometry_polygon(b, True) is True
    df = spark.createDataFrame(
        [(1, a, True), (2, b, True)],
        "i int, tags array<struct<k:string,v:string>>, closed boolean",
    )
    out = {
        r["i"]: r["got"]
        for r in df.withColumn(
            "got", polygon_flag_column(F.col("tags"), F.col("closed"))
        ).collect()
    }
    assert out[1] is False and out[2] is True


# keys and values the rulebook literal must carry through unchanged
ODD = ["it's", "back\\slash", 'say "hi"', "straße", "道路", "", "\\'", "tab\there"]

ODD_AREA_KEYS = {
    "it's": {"back\\slash": True, "": True, "straße": False},
    "": {'say "hi"': True},
    "道路": {},
    "\\'": {"it's": True},
}

ODD_FEATURES = [
    {"key": "straße", "polygon": "all", "values": []},
    {"key": "it's", "polygon": "whitelist", "values": ["back\\slash", "", "straße"]},
    {"key": "道路", "polygon": "blacklist", "values": ['say "hi"', "\\'"]},
    {"key": "", "polygon": "blacklist", "values": ["tab\there"]},
    {"key": "\\'", "polygon": "whitelist", "values": ["it's"]},
    {"key": "\\'", "polygon": "blacklist", "values": [""]},
]


def test_spark_column_matches_mirror_on_escaped_rulebook_literals(spark):
    """Custom rulebooks whose keys and values hold quotes, backslashes,
    non-ASCII, tabs and empty strings classify every tag set as the Python
    mirror does."""
    tag_sets = [[(k, v)] for k in ODD for v in ODD]
    tag_sets += [[(a, "x"), (b, v)] for a in ODD for b in ODD if a != b for v in ODD[:3]]
    rows = [(i, tags, closed) for i, tags in enumerate(tag_sets) for closed in (None, True)]
    df = spark.createDataFrame(
        rows, "i int, tags array<struct<k:string,v:string>>, closed boolean"
    )
    got = {
        (r["i"], r["closed"]): r["got"]
        for r in df.withColumn(
            "got",
            polygon_flag_column(F.col("tags"), F.col("closed"), ODD_AREA_KEYS, ODD_FEATURES),
        ).collect()
    }
    want = {
        (i, closed): is_geometry_polygon(tags, closed, ODD_AREA_KEYS, ODD_FEATURES)
        for i, tags, closed in rows
    }
    assert got == want
    assert any(want.values()) and not all(want.values())


def _py4j_calls_to_build(area_keys, polygon_features) -> int:
    """py4j commands this thread sends while building the column. Released
    Python handles are freed by py4j's finalizer thread, at its own pace, so
    only this thread's commands are counted."""
    me = threading.get_ident()
    calls = 0
    send = GatewayClient.send_command

    def counting(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return send(self, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        polygon_flag_column(F.col("tags"), F.col("closed"), area_keys, polygon_features)
    finally:
        GatewayClient.send_command = send
    return calls


def test_classifier_build_cost_does_not_grow_with_the_rulebooks(spark):
    """Building the column makes as many JVM calls for rulebooks twice the
    default size as for the defaults."""
    area_keys, features = default_area_keys(), default_polygon_features()
    area_keys2 = {**area_keys, **{k + "_2": v for k, v in area_keys.items()}}
    features2 = features + [{**r, "key": r["key"] + "_2"} for r in features]
    _py4j_calls_to_build(area_keys, features)  # first build warms py4j lookups
    base = _py4j_calls_to_build(area_keys, features)
    assert base > 0
    assert _py4j_calls_to_build(area_keys2, features2) == base
