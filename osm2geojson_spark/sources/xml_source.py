"""OSM / Overpass XML ingestion.

Produces the Overpass-JSON element model the rest of the engine consumes
(same contract as /root/reference/osm2geojson/parse_xml.py:277-293, written
fresh against the public OSM XML format). Element field typing follows the
OSM 0.6 schema: ids/versions/changesets/uids are ints, coordinates floats,
everything else strings.

Ingestion is small-data by design (OSM extracts are MBs; the trillion-row
payload table arrives as Parquet/Iceberg, not XML): a document parses on
the driver.
"""

from __future__ import annotations

from xml.etree import ElementTree

from ..errors import ConversionError

_META_INT = {"version", "changeset", "uid"}


def _meta_fields(attrib: dict, out: dict) -> None:
    for key in ("timestamp", "version", "changeset", "user", "uid"):
        if key in attrib:
            out[key] = int(attrib[key]) if key in _META_INT else attrib[key]


def _parse_bounds(el: ElementTree.Element) -> dict:
    return {k: float(el.attrib[k]) for k in ("minlat", "minlon", "maxlat", "maxlon")}


def _parse_tags_children(el: ElementTree.Element) -> dict:
    tags = {}
    for child in el:
        if child.tag == "tag":
            tags[child.attrib["k"]] = child.attrib["v"]
    return tags


def _parse_node(el: ElementTree.Element) -> dict:
    item: dict = {}
    a = el.attrib
    for key in ("role",):
        if key in a:
            item[key] = a[key]
    for key in ("id", "ref"):
        if key in a:
            item[key] = int(a[key])
    for key in ("lat", "lon"):
        if key in a:
            item[key] = float(a[key])
    _meta_fields(a, item)
    item["type"] = "node"
    tags = _parse_tags_children(el)
    if tags:
        item["tags"] = tags
    return item


def _parse_way(el: ElementTree.Element) -> dict:
    way: dict = {}
    a = el.attrib
    if "role" in a:
        way["role"] = a["role"]
    for key in ("ref", "id"):
        if key in a:
            way[key] = int(a[key])
    _meta_fields(a, way)
    way["type"] = "way"
    nodes: list[int] = []
    geometry: list[dict] = []
    tags = {}
    for child in el:
        if child.tag == "nd":
            nd = child.attrib
            if "ref" in nd and "lat" not in nd and "lon" not in nd:
                nodes.append(int(nd["ref"]))
            else:
                g = {}
                if "ref" in nd:
                    g["ref"] = int(nd["ref"])
                g["lat"] = float(nd["lat"])
                g["lon"] = float(nd["lon"])
                geometry.append(g)
        elif child.tag == "tag":
            tags[child.attrib["k"]] = child.attrib["v"]
    if tags:
        way["tags"] = tags
    if geometry:
        way["geometry"] = geometry
    if nodes:
        way["nodes"] = nodes
    return way


def _parse_member(el: ElementTree.Element) -> dict | None:
    mtype = el.attrib.get("type")
    if mtype == "node":
        return _parse_node(el)
    if mtype == "way":
        return _parse_way(el)
    if mtype == "relation":
        return _parse_relation(el)
    return None


def _parse_relation(el: ElementTree.Element) -> dict:
    rel: dict = {}
    a = el.attrib
    for key in ("id", "ref"):
        if key in a:
            rel[key] = int(a[key])
    if "role" in a:
        rel["role"] = a["role"]
    _meta_fields(a, rel)
    rel["type"] = "relation"
    members: list[dict] = []
    tags = {}
    bounds = None
    for child in el:
        if child.tag == "member":
            m = _parse_member(child)
            if m is not None:
                members.append(m)
        elif child.tag == "tag":
            tags[child.attrib["k"]] = child.attrib["v"]
        elif child.tag == "bounds":
            bounds = _parse_bounds(child)
    if members:
        rel["members"] = members
    if bounds is not None:
        rel["bounds"] = bounds
    if tags:
        rel["tags"] = tags
    return rel


def _parse_count(el: ElementTree.Element) -> dict:
    item: dict = {"type": "count", "id": int(el.attrib["id"])}
    tags = _parse_tags_children(el)
    if tags:
        item["tags"] = tags
    return item


def parse(xml_str: str) -> dict:
    """OSM XML string -> Overpass JSON document dict. A root element other
    than <osm> raises ``ConversionError`` naming it."""
    root = ElementTree.fromstring(xml_str)
    if root.tag != "osm":
        raise ConversionError(f"Not an OSM XML document: root element <{root.tag}>, expected <osm>")

    elements: list[dict] = []
    version = 0.6
    generator = root.attrib.get("generator")
    if "version" in root.attrib:
        version = float(root.attrib["version"])
    copyright_text = None
    timestamp_osm_base = None

    for child in root:
        if child.tag == "node":
            elements.append(_parse_node(child))
        elif child.tag == "way":
            elements.append(_parse_way(child))
        elif child.tag == "relation":
            elements.append(_parse_relation(child))
        elif child.tag == "count":
            elements.append(_parse_count(child))
        elif child.tag == "meta" and "osm_base" in child.attrib:
            timestamp_osm_base = child.attrib["osm_base"]
        elif child.tag == "note":
            copyright_text = child.text

    doc: dict = {"version": version, "elements": elements}
    if generator is not None:
        doc["generator"] = generator
    if copyright_text is not None:
        doc.setdefault("osm3s", {})["copyright"] = copyright_text
    if timestamp_osm_base is not None:
        doc.setdefault("osm3s", {})["timestamp_osm_base"] = timestamp_osm_base
    return doc


