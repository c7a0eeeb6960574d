"""Normalize Overpass-JSON elements into typed DataFrames.

One DataFrame per element type (SURVEY §1.2): the tagged-union element list
becomes columnar ``nodes`` / ``ways`` / ``relations`` tables. ``seq`` is the
element's position in the input document — the reference emits features in
input order, so the final sink sorts by it. ``tags`` is kept as
``array<struct<k,v>>`` because the areaKeys veto is tag-insertion-order
sensitive (main.py:370-373).

Coordinates are carried (lon, lat) ordered, matching GeoJSON axis order.

The four frames are driver-held local relations (``sources.local``): the
rows are parsed and held on the driver, as before, but scanning them never
starts a Python worker. The input-size cap of a whole-document driver
parse is unchanged.
"""

from __future__ import annotations

from collections import namedtuple

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..errors import ConversionError
from .local import local_frame

ElementFrames = namedtuple(
    "ElementFrames", ["nodes", "ways", "relations", "others", "n_elements"]
)

TAGS_T = T.ArrayType(
    T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.StringType())])
)
COORD_T = T.StructType(
    [T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())]
)
BOUNDS_T = T.StructType(
    [
        T.StructField("minlat", T.DoubleType()),
        T.StructField("minlon", T.DoubleType()),
        T.StructField("maxlat", T.DoubleType()),
        T.StructField("maxlon", T.DoubleType()),
    ]
)
_META_FIELDS = [
    T.StructField("timestamp", T.StringType()),
    T.StructField("version", T.LongType()),
    T.StructField("changeset", T.LongType()),
    T.StructField("user", T.StringType()),
    T.StructField("uid", T.LongType()),
]

NODES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("tags", TAGS_T),
        *_META_FIELDS,
    ]
)

# members keep inline geometry (Overpass `out geom;`) and node lat/lon;
# nested relation members are resolved by ref at assembly time.
MEMBER_T = T.StructType(
    [
        T.StructField("pos", T.IntegerType()),
        T.StructField("mtype", T.StringType()),
        T.StructField("ref", T.LongType()),
        T.StructField("role", T.StringType()),
        T.StructField("geometry", T.ArrayType(COORD_T)),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
)

WAYS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("nodes", T.ArrayType(T.LongType())),
        T.StructField("geometry", T.ArrayType(COORD_T)),
        T.StructField("center", COORD_T),
        T.StructField("bounds", BOUNDS_T),
        T.StructField("tags", TAGS_T),
        *_META_FIELDS,
    ]
)

RELATIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("members", T.ArrayType(MEMBER_T)),
        T.StructField("center", COORD_T),
        T.StructField("bounds", BOUNDS_T),
        T.StructField("tags", TAGS_T),
        *_META_FIELDS,
    ]
)

OTHERS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("type", T.StringType()),
        T.StructField("id", T.LongType()),
    ]
)


def _tags_list(el: dict):
    tags = el.get("tags")
    if not tags:
        return None
    return [(str(k), str(v)) for k, v in tags.items()]


def _meta(el: dict) -> tuple:
    return (
        el.get("timestamp"),
        el.get("version"),
        el.get("changeset"),
        el.get("user"),
        el.get("uid"),
    )


def _coord(d: dict | None):
    if d is None:
        return None
    return (float(d["lon"]), float(d["lat"]))


def _geom_list(g):
    if not g:
        return None
    return [(float(p["lon"]), float(p["lat"])) for p in g]


def _bounds(d: dict | None):
    if d is None:
        return None
    return (d["minlat"], d["minlon"], d["maxlat"], d["maxlon"])


def _element_id(el: dict, t: str, doc_id: str, seq: int):
    """A node, way or relation is keyed by its id in every join downstream,
    so one without an id, or whose id is not a 64-bit integer, fails here,
    named by its type and position."""
    eid = el.get("id")
    if eid is None:
        raise ConversionError(
            f"Element without an id: {t} at seq {seq} of document {doc_id!r}"
        )
    if type(eid) is not int or not -(1 << 63) <= eid < 1 << 63:
        raise ConversionError(
            f"Element id {eid!r} is not a 64-bit integer: {t} at seq {seq}"
            f" of document {doc_id!r}"
        )
    return eid


def _member_row(pos: int, m: dict) -> tuple:
    return (
        pos,
        m.get("type"),
        m.get("ref"),
        m.get("role"),
        _geom_list(m.get("geometry")),
        float(m["lon"]) if "lon" in m else None,
        float(m["lat"]) if "lat" in m else None,
    )


def normalize_documents(
    spark: SparkSession, docs: dict[str, list[dict]]
) -> ElementFrames:
    """Normalize many documents at once — every downstream join/groupBy is
    keyed by (doc_id, id), so one Spark job converts an arbitrary corpus of
    OSM documents in parallel (the scale-path ingestion shape; also what
    lets the golden suite run as a single job)."""
    nodes, ways, rels, others = [], [], [], []
    n = 0
    for doc_id, elements in docs.items():
        n += len(elements)
        for seq, el in enumerate(elements):
            t = el.get("type")
            if t == "node":
                lon = el.get("lon")
                lat = el.get("lat")
                nodes.append(
                    (
                        doc_id,
                        seq,
                        _element_id(el, t, doc_id, seq),
                        None if lon is None else float(lon),
                        None if lat is None else float(lat),
                        _tags_list(el),
                        *_meta(el),
                    )
                )
            elif t == "way":
                ways.append(
                    (
                        doc_id,
                        seq,
                        _element_id(el, t, doc_id, seq),
                        el.get("nodes"),
                        _geom_list(el.get("geometry")),
                        _coord(el.get("center")),
                        _bounds(el.get("bounds")),
                        _tags_list(el),
                        *_meta(el),
                    )
                )
            elif t == "relation":
                members = [
                    _member_row(i, m) for i, m in enumerate(el.get("members") or [])
                ]
                rels.append(
                    (
                        doc_id,
                        seq,
                        _element_id(el, t, doc_id, seq),
                        members,
                        _coord(el.get("center")),
                        _bounds(el.get("bounds")),
                        _tags_list(el),
                        *_meta(el),
                    )
                )
            else:
                others.append((doc_id, seq, t, el.get("id")))

    return ElementFrames(
        nodes=local_frame(spark, nodes, NODES_SCHEMA),
        ways=local_frame(spark, ways, WAYS_SCHEMA),
        relations=local_frame(spark, rels, RELATIONS_SCHEMA),
        others=local_frame(spark, others, OTHERS_SCHEMA),
        n_elements=n,
    )


def normalize_elements(spark: SparkSession, elements: list[dict]) -> ElementFrames:
    return normalize_documents(spark, {"_": elements})
