"""Distributed GeoJSON-lines sink (plans/pipeline.write_geojson_lines):
S10's scale path. The reference serializes driver-side in one json.dump
(main.py:118-133); the engine serializes executor-side through a
vectorized pandas UDF and df.write.text — these tests pin that both
sinks produce the identical feature stream."""

from __future__ import annotations

import json
import os

import pytest

from osm2geojson_spark.plans.pipeline import (
    build_features,
    collect_features_by_doc,
    feature_json_lines,
    read_geojson_lines,
    write_geojson_lines,
)
from osm2geojson_spark.sources import xml_source
from osm2geojson_spark.sources.normalize import normalize_documents

DATA = os.path.join(os.path.dirname(__file__), "data")


def _corpus_features(spark):
    docs = {}
    for name in ("way", "map", "relation", "issue-4", "multipolygon"):
        path = os.path.join(DATA, f"{name}.osm")
        if not os.path.exists(path):
            continue
        docs[name] = xml_source.parse(open(path, encoding="utf-8").read())[
            "elements"
        ]
    assert len(docs) >= 3
    frames = normalize_documents(spark, docs)
    features, _ = build_features(spark, frames)
    return features


def _written_lines(out):
    """{doc_id: [raw line, ...]} with each doc's part files in filename order."""
    got = {}
    for doc_dir in sorted(os.listdir(out)):
        if not doc_dir.startswith("doc_id="):
            continue
        lines = []
        for part in sorted(os.listdir(os.path.join(out, doc_dir))):
            if part.startswith("part-"):
                with open(os.path.join(out, doc_dir, part), encoding="utf-8") as fh:
                    lines += [ln for ln in fh.read().splitlines() if ln]
        got[doc_dir.split("=", 1)[1]] = lines
    return got


def test_write_geojson_lines_matches_driver_sink(spark, tmp_path):
    """Multi-document corpus written DISTRIBUTED == the driver-side
    collect_features_by_doc, byte-for-byte per feature (the JSON strings
    come from the same UDF; the file replay must preserve doc grouping
    and input order)."""
    features = _corpus_features(spark).persist()
    want = collect_features_by_doc(features)
    out = str(tmp_path / "sink")
    write_geojson_lines(features, out)
    got = read_geojson_lines(spark, out)
    assert set(got) == set(want)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id
    # byte-level: each line is the compact dump of the corresponding dict
    assert _written_lines(out) == {
        doc_id: [json.dumps(f, separators=(",", ":")) for f in feats]
        for doc_id, feats in want.items()
    }
    features.unpersist()


def test_write_geojson_lines_many_files_preserves_order(spark, tmp_path):
    """num_files > number of docs: features of one doc span multiple part
    files; filename-order replay must still reconstruct input order."""
    features = _corpus_features(spark).persist()
    want = collect_features_by_doc(features)
    out = str(tmp_path / "sharded")
    write_geojson_lines(features, out, num_files=8)
    got = read_geojson_lines(spark, out)
    for doc_id in want:
        assert got[doc_id] == want[doc_id], doc_id
    features.unpersist()


def test_write_geojson_lines_mode_error_and_overwrite(spark, tmp_path):
    features = _corpus_features(spark).persist()
    out = str(tmp_path / "once")
    write_geojson_lines(features, out)
    with pytest.raises(Exception):
        write_geojson_lines(features, out)  # mode="error" default
    write_geojson_lines(features, out, mode="overwrite")
    assert read_geojson_lines(spark, out)
    features.unpersist()


def test_feature_json_lines_schema(spark):
    df = feature_json_lines(_corpus_features(spark))
    assert [f.name for f in df.schema.fields] == ["doc_id", "seq", "line"]
    row = df.limit(1).collect()[0]
    feat = json.loads(row["line"])
    assert feat["type"] == "Feature" and "geometry" in feat and "properties" in feat


def test_write_geojson_lines_partition_invariant(spark, tmp_path):
    """The range-partitioned sink writes the same bytes at 7 shuffle
    partitions with AQE on, with Spark's range count and with num_files=8,
    as the driver-side sink at the suite's single partition."""
    want = {
        doc_id: [json.dumps(f, separators=(",", ":")) for f in feats]
        for doc_id, feats in collect_features_by_doc(_corpus_features(spark)).items()
    }
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        features = _corpus_features(spark).persist()
        for num_files in (None, 8):
            out = str(tmp_path / f"sink-{num_files}")
            write_geojson_lines(features, out, num_files=num_files)
            assert _written_lines(out) == want, num_files
        features.unpersist()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_write_geojson_lines_releases_its_cache(spark, tmp_path):
    """The sink's persisted lines are released after a successful write and
    after a write that fails (mode="error" on an existing path)."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    features = _corpus_features(spark)
    out = str(tmp_path / "once")
    before = persistent().size()
    write_geojson_lines(features, out)
    assert persistent().size() == before
    assert cache.isEmpty()
    with pytest.raises(Exception):
        write_geojson_lines(features, out)
    assert persistent().size() == before
    assert cache.isEmpty()
