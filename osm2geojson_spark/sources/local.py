"""Driver-held rows as a JVM local relation.

``createDataFrame`` over Python rows plans a pickled Python RDD
(``Scan ExistingRDD``): every scan starts Python workers only to hand the
rows back to the JVM. Built from a ``pyarrow.Table`` the same rows become a
``LocalRelation`` (``LocalTableScan``) whether Arrow execution is enabled
or not: scans stay in the JVM, a ``collect()`` runs no job, and the planner
sees the table's size, so a join against it is planned as a broadcast.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | str
) -> DataFrame:
    """``rows`` (tuples in ``schema`` field order) as a local relation.

    ``schema`` is a ``StructType`` or a DDL string. Rows are checked like
    ``createDataFrame`` checks them: a ``None`` in a non-nullable field
    raises ``ValueError`` and a value of the wrong type ``TypeError``, each
    naming the field."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for row in rows:
        verify(row)
    return spark.createDataFrame(arrow_table(rows, schema), schema)


def arrow_table(rows: list[tuple], schema: T.StructType) -> pa.Table:
    """``rows`` (tuples in ``schema`` field order) as a ``pyarrow.Table``
    with the Spark schema's Arrow types, unchecked. Needs no session, so
    executors can build Arrow output with it too."""
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    return pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)],
        schema=arrow,
    )
