"""CLI driver contract (reference parity: __main__.py behavior).

Runs in-process against the shared test SparkSession (the CLI's getOrCreate
picks it up) — exit codes, extension detection, overwrite guard, rulebook
override, --no-unused-filter.
"""

from __future__ import annotations

import json
import os

import pytest

from osm2geojson_spark import ConversionError, cli, xml2geojson

from .conftest import DATA_DIR, read_json


def test_basic_conversion(spark, tmp_path):
    out = str(tmp_path / "way.geojson")
    rc = cli.main([os.path.join(DATA_DIR, "way.osm"), out])
    assert rc == 0
    assert json.load(open(out)) == read_json("way.geojson")


def test_overwrite_guard_and_force(spark, tmp_path):
    out = str(tmp_path / "o.geojson")
    open(out, "w").write("{}")
    rc = cli.main([os.path.join(DATA_DIR, "node.osm"), out])
    assert rc == 1  # refuses without -f
    rc = cli.main([os.path.join(DATA_DIR, "node.osm"), out, "-f"])
    assert rc == 0
    assert json.load(open(out)) == read_json("node.geojson")


def test_unknown_extension(spark, tmp_path):
    rc = cli.main([os.path.join(DATA_DIR, "way.osm") + ".txt", str(tmp_path / "x")])
    assert rc == 1


def test_no_unused_filter(spark, tmp_path):
    out = str(tmp_path / "i9.geojson")
    rc = cli.main([os.path.join(DATA_DIR, "issue-9.json"), out, "-f"])
    assert rc == 0
    assert len(json.load(open(out))["features"]) == 1
    rc = cli.main([os.path.join(DATA_DIR, "issue-9.json"), out, "-f", "--no-unused-filter"])
    assert rc == 0
    assert len(json.load(open(out))["features"]) == 7


_CLOSED_WALL_OSM = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="test">
  <node id="1" lat="0.0" lon="0.0"/>
  <node id="2" lat="0.0" lon="1.0"/>
  <node id="3" lat="1.0" lon="1.0"/>
  <way id="10">
    <nd ref="1"/><nd ref="2"/><nd ref="3"/><nd ref="1"/>
    <tag k="barrier" v="wall"/>
  </way>
</osm>
"""


def test_rulebook_overrides(spark, tmp_path):
    """A closed barrier=wall way is a LineString under the default rulebook
    (wall is not whitelisted); --polygons promoting barrier to 'all' plus
    --areas dropping the veto flips it to Polygon."""
    src = str(tmp_path / "wall.osm")
    open(src, "w").write(_CLOSED_WALL_OSM)
    areas = str(tmp_path / "areas.json")
    json.dump({"areaKeys": {}}, open(areas, "w"))
    polys = str(tmp_path / "polygons.json")
    json.dump([{"key": "barrier", "polygon": "all"}], open(polys, "w"))
    out = str(tmp_path / "wall.geojson")
    rc = cli.main([src, out, "-f", "--areas", areas, "--polygons", polys])
    assert rc == 0
    assert json.load(open(out))["features"][0]["geometry"]["type"] == "Polygon"
    # default rulebooks keep it a LineString
    rc = cli.main([src, out, "-f"])
    assert rc == 0
    assert json.load(open(out))["features"][0]["geometry"]["type"] == "LineString"


_GPX = '<gpx version="1.1"><trk/></gpx>'


def test_non_osm_root_fails_naming_the_root(spark, tmp_path, capsys):
    """XML whose root is not <osm> fails with a ConversionError that names
    the root, and the CLI exits 1 with that message in its driver mode and
    in its distributed (.jsonl) mode."""
    with pytest.raises(ConversionError, match="<gpx>"):
        xml2geojson(spark, _GPX)
    src = tmp_path / "track.xml"
    src.write_text(_GPX)
    for out in ("track.geojson", "track.jsonl"):
        rc = cli.main([str(src), str(tmp_path / out)])
        assert rc == 1
        assert "root element <gpx>" in capsys.readouterr().err
