"""Polygon-vs-line tag classification.

Re-implements the reference's classifier precedence
(/root/reference/osm2geojson/main.py:368-447):

    area=no > area=yes > type=multipolygon > open-ring > blacklist >
    (blacklist-key-without-whitelist-sibling | all | whitelist match) >
    default False; a positive rulebook verdict is then vetoed by the
    first-matching areaKeys exception (tag insertion order matters).

Two equivalent implementations:

* ``polygon_flag_column`` — pure Spark column expressions over
  ``tags: array<struct<k,v>>`` (order-preserving) so the decision runs
  JVM-side inside whole-stage codegen on the distributed path; the
  rulebooks (28 + 40 entries) enter as one JSON literal of (key, value)
  pair arrays, which the optimizer folds into constants.
* ``is_geometry_polygon`` — Python mirror used by unit tests and by the
  strict-mode error reporting.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..rulebooks import default_area_keys, default_polygon_features


# --------------------------------------------------------------- python


def _tags_dict(tags) -> dict:
    if tags is None:
        return {}
    if isinstance(tags, dict):
        return tags
    return {k: v for k, v in tags}


def is_exception(tags, area_keys: dict | None = None) -> bool:
    area_keys = area_keys if area_keys is not None else default_area_keys()
    td = _tags_dict(tags)
    for key in td:  # first matching key wins (main.py:370-373)
        if key in area_keys:
            value = td[key]
            return value in area_keys[key] and bool(area_keys[key][value])
    return False


def is_geometry_polygon_without_exceptions(tags, polygon_features=None) -> bool:
    rules = polygon_features if polygon_features is not None else default_polygon_features()
    td = _tags_dict(tags)
    for rule in rules:  # blacklists first (main.py:426-429)
        if rule["key"] in td and rule["polygon"] == "blacklist":
            if td[rule["key"]] in rule["values"]:
                return False
    whitelist_keys = {r["key"] for r in rules if r["polygon"] == "whitelist"}
    for rule in rules:
        if rule["key"] in td:
            if rule["polygon"] == "blacklist" and rule["key"] not in whitelist_keys:
                return True
            if rule["polygon"] == "all":
                return True
            if rule["polygon"] == "whitelist" and td[rule["key"]] in rule["values"]:
                return True
    return False


def is_geometry_polygon(
    tags,
    closed: bool | None,
    area_keys: dict | None = None,
    polygon_features=None,
) -> bool:
    """Python mirror of main.py:381-409. ``closed`` is the ring-closure test
    (first == last coordinate / node ref); None when no geometry/nodes."""
    if tags is None or len(tags) == 0:
        return False
    td = _tags_dict(tags)
    if td.get("area") == "no":
        return False
    if td.get("area") == "yes":
        return True
    if td.get("type") == "multipolygon":
        return True
    if closed is False:
        return False
    if is_geometry_polygon_without_exceptions(td, polygon_features):
        return not is_exception(tags, area_keys)
    return False


# --------------------------------------------------------------- spark

_PAIRS_T = "array<struct<k:string,v:string>>"
_RULEBOOK_T = (
    f"struct<bl:{_PAIRS_T},wl:{_PAIRS_T},any:array<string>,ak_keys:array<string>,"
    f"ak:{_PAIRS_T},area_no:struct<k:string,v:string>,forced:{_PAIRS_T}>"
)


def _pairs(pairs) -> list[dict]:
    return [{"k": k, "v": v} for k, v in pairs]


def _rulebook_json(area_keys: dict, polygon_features: list) -> str:
    """Both rulebooks as ONE JSON document of ``_RULEBOOK_T``. Fields:

    * ``bl``: blacklist (key, value) pairs, which make the element a line;
    * ``wl``: whitelist (key, value) pairs, which make it a polygon;
    * ``any``: keys that make it a polygon whatever their value ("all"
      rules, and blacklist keys without a whitelist rule);
    * ``ak_keys``: the areaKeys keys; ``ak``: their truthy (key, value)
      exception pairs;
    * ``area_no`` and ``forced`` (area=yes, type=multipolygon): the tags
      that decide before any rulebook.
    """
    by_kind: dict = {"blacklist": [], "whitelist": []}
    for rule in polygon_features:
        if rule["polygon"] in by_kind:
            by_kind[rule["polygon"]] += [(rule["key"], v) for v in rule["values"]]
    whitelist_keys = {r["key"] for r in polygon_features if r["polygon"] == "whitelist"}
    any_keys = [
        r["key"]
        for r in polygon_features
        if r["polygon"] == "all"
        or (r["polygon"] == "blacklist" and r["key"] not in whitelist_keys)
    ]
    exceptions = [(k, v) for k, vals in area_keys.items() for v, flag in vals.items() if flag]
    return json.dumps(
        {
            "bl": _pairs(by_kind["blacklist"]),
            "wl": _pairs(by_kind["whitelist"]),
            "any": any_keys,
            "ak_keys": list(area_keys),
            "ak": _pairs(exceptions),
            "area_no": {"k": "area", "v": "no"},
            "forced": _pairs([("area", "yes"), ("type", "multipolygon")]),
        }
    )


def polygon_flag_column(
    tags_col: Column,
    closed_col: Column,
    area_keys: dict | None = None,
    polygon_features=None,
) -> Column:
    """Full precedence chain as one column expression.

    ``closed_col``: nullable boolean — ring closure of the element's
    geometry/nodes (null when the element has neither, e.g. relations).
    Tag keys are unique per element (the sources build tags from dicts), so
    a (key, value) pair present in the tag array is a dict lookup that
    matched. The rulebooks enter as one JSON string literal, parsed once
    when the optimizer folds it into constant arrays: building this column
    costs the same number of JVM calls whatever their size, and the plan
    carries two expression nodes for them, not one per rulebook entry.
    """
    area_keys = area_keys if area_keys is not None else default_area_keys()
    rules = polygon_features if polygon_features is not None else default_polygon_features()
    book = F.from_json(F.lit(_rulebook_json(area_keys, rules)), _RULEBOOK_T)
    rulebook = ~F.arrays_overlap(tags_col, book["bl"]) & (
        F.arrays_overlap(tags_col["k"], book["any"]) | F.arrays_overlap(tags_col, book["wl"])
    )
    # areaKeys veto: the first tag whose key is in areaKeys decides
    # (order-sensitive — hence the array<struct<k,v>> tag representation)
    first = F.try_element_at(
        F.filter(tags_col, lambda t: F.array_contains(book["ak_keys"], t["k"])), F.lit(1)
    )
    vetoed = F.coalesce(F.array_contains(book["ak"], first), F.lit(False))
    open_ring = F.coalesce(~closed_col, F.lit(False))
    # area=no > area=yes | type=multipolygon > open ring > rulebook and veto;
    # null or empty tags give False
    return F.coalesce(
        ~F.array_contains(tags_col, book["area_no"])
        & (F.arrays_overlap(tags_col, book["forced"]) | (~open_ring & rulebook & ~vetoed)),
        F.lit(False),
    )
