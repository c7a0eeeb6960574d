"""local_frame: driver rows as a JVM local relation, equal to what
``createDataFrame`` builds from the same rows."""

from __future__ import annotations

import ast
import pathlib

import pytest

import osm2geojson_spark
from osm2geojson_spark.operators.spatial_join import SHARD_SCHEMA
from osm2geojson_spark.sources.local import local_frame
from osm2geojson_spark.sources.normalize import (
    NODES_SCHEMA,
    OTHERS_SCHEMA,
    RELATIONS_SCHEMA,
    WAYS_SCHEMA,
)

NAN = float("nan")
META = ("2020-01-01T00:00:00Z", 3, 42, "u", 7)
GEOM = [(-0.0, NAN), (1.5, -2.25)]

CASES = {
    "nodes": (
        NODES_SCHEMA,
        [
            ("d", 0, 1, -0.0, NAN, None, *META),
            ("d", 1, 2, None, None, [], *(None,) * 5),
            ("d", 2, 3, 1.0, 2.0, [("a", "b"), ("c", None)], *META),
        ],
    ),
    "ways": (
        WAYS_SCHEMA,
        [
            ("d", 0, 1, [1, 2, 1], GEOM, (-0.0, NAN), (1.0, 2.0, 3.0, 4.0), [], *META),
            ("d", 1, 2, None, None, None, None, None, *(None,) * 5),
            ("d", 2, 3, [], [], None, None, [("k", "v")], *META),
        ],
    ),
    "relations": (
        RELATIONS_SCHEMA,
        [
            (
                "d", 0, 1,
                [
                    (0, "way", 10, "outer", GEOM, None, None),
                    (1, "node", 11, "", None, -0.0, NAN),
                    (2, "relation", 12, None, [], None, None),
                ],
                (1.0, 2.0), None, [("type", "multipolygon")], *META,
            ),
            ("d", 1, 2, [], None, None, None, *(None,) * 5),
            ("d", 2, 3, None, None, None, [], *META),
        ],
    ),
    "others": (OTHERS_SCHEMA, [("d", 0, "area", 5), ("d", 1, None, None)]),
    "shards": ("cell_id long, poly_id long", [(1 << 62, 1), (-1, None)]),
    "pip_shards": (
        SHARD_SCHEMA,
        [
            (1, 2, None),
            (3, 4, [(False, True, []), (True, False, [(-0.0, NAN, 1.5, -2.25), (0.0, 1.0, 2.0, 3.0)])]),
            (5, 6, []),
        ],
    ),
    "polygons": (
        "poly_id long, gpb binary, minx double, miny double, maxx double, maxy double",
        [(1, bytearray(b"\x00\x01\xff"), -0.0, NAN, 1.0, 2.0), (2, None, 0.0, 0.0, 0.0, 0.0)],
    ),
}


@pytest.mark.parametrize("rows_of", ["rows", "empty"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_create_data_frame(spark, case, rows_of):
    schema, rows = CASES[case]
    rows = rows if rows_of == "rows" else []
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema  # nullability included
    # repr tells -0.0 from 0.0 and compares NaN as text
    assert repr(got.collect()) == repr(want.collect())


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_plans_a_local_table_scan(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        df = local_frame(spark, [(1, 2)], "cell_id long, poly_id long")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, before)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_local_frame_rejects_what_create_data_frame_rejects(spark):
    with pytest.raises(ValueError, match="doc_id"):
        local_frame(spark, [(None, 0, "area", 1)], OTHERS_SCHEMA)
    with pytest.raises(TypeError, match="seq"):
        local_frame(spark, [("d", "0", "area", 1)], OTHERS_SCHEMA)
    with pytest.raises(TypeError, match="poly_id"):
        local_frame(spark, [(1, 1.5)], "cell_id long, poly_id long")
    with pytest.raises(ValueError):
        local_frame(spark, [(1,)], "cell_id long, poly_id long")


class _CreateDataFrameCalls(ast.NodeVisitor):
    """Innermost enclosing function of every ``createDataFrame`` call."""

    def __init__(self):
        self.scope, self.found = ["<module>"], []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Call(self, node):
        if isinstance(node.func, ast.Attribute) and node.func.attr == "createDataFrame":
            self.found.append(self.scope[-1])
        self.generic_visit(node)


def test_only_local_frame_calls_create_data_frame():
    """Driver rows enter Spark through local_frame, never as a pickled
    Python RDD."""
    root = pathlib.Path(osm2geojson_spark.__file__).parent
    callers = set()
    for path in sorted(root.rglob("*.py")):
        calls = _CreateDataFrameCalls()
        calls.visit(ast.parse(path.read_text(encoding="utf-8")))
        rel = path.relative_to(root).as_posix()
        callers.update(f"{rel}:{fn}" for fn in calls.found)
    assert callers == {"sources/local.py:local_frame"}
