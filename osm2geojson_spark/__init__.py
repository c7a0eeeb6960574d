"""osm2geojson_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of aspectumapp/osm2geojson (reference,
read-only at /root/reference) as an idiomatic Spark engine: DataFrame joins
for reference resolution, grouped Arrow kernels for geometry assembly, an
anti join for the used-refs dedup, plus the spatial layer (cell index,
point-in-polygon, kNN, raster-tile<->vector joins) the reference lacks.

Public API (mirrors the reference's four entry points, main.py:60-115, with
an explicit SparkSession as the first argument):

    xml2geojson(spark, xml_str, ...)   json2geojson(spark, data, ...)
    xml2shapes(spark, xml_str, ...)    json2shapes(spark, data, ...)
"""

from __future__ import annotations

import json

from .plans.pipeline import (
    ConversionError,
    build_features,
    collect_features,
    convert_documents,
    convert_elements,
    feature_json_lines,
    json2geojson,
    read_geojson_lines,
    write_geojson_lines,
    xml2geojson,
)
from .helpers import read_data_file
from .sources import xml_source
from .sources.overpass import overpass_call

__version__ = "0.1.0"


def json2shapes(spark, data, **kw):
    """Like json2geojson but returns the shapes instead of the GeoJSON
    document: [(gpb_bytes, properties_dict)] (engine analog of
    main.py:89-101). The engine still serializes each Feature in the same
    Python pass that packs a node's point and builds a relation's shape;
    only the lines go unused here."""
    if isinstance(data, str):
        data = json.loads(data)
    from .sources.normalize import normalize_elements

    frames = normalize_elements(spark, data["elements"])
    features, _ = build_features(spark, frames, **kw)
    rows = features.select("seq", "gpb", "props").collect()
    rows.sort(key=lambda r: r["seq"])
    return [(r["gpb"], json.loads(r["props"])) for r in rows]


def xml2shapes(spark, xml_str: str, **kw):
    data = xml_source.parse(xml_str)
    return json2shapes(spark, data, **kw)


__all__ = [
    "xml2geojson",
    "json2geojson",
    "xml2shapes",
    "json2shapes",
    "convert_elements",
    "convert_documents",
    "collect_features",
    "build_features",
    "feature_json_lines",
    "write_geojson_lines",
    "read_geojson_lines",
    "ConversionError",
    "overpass_call",
    "read_data_file",
]
