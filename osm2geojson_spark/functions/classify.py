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
  rulebooks are folded into literal predicates at plan build time
  (they are broadcast-sized: 28 + 40 entries).
* ``is_geometry_polygon`` — Python mirror used by unit tests and by the
  strict-mode error reporting.
"""

from __future__ import annotations

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


def _map_value(tags_map: Column, key: str) -> Column:
    return F.try_element_at(tags_map, F.lit(key))


def rulebook_column(tags_map: Column, polygon_features=None) -> Column:
    """is_geometry_polygon_without_exceptions as a boolean column over a
    map<string,string> tags column (map lookups keep the expression tree
    small enough for fast Catalyst analysis)."""
    rules = polygon_features if polygon_features is not None else default_polygon_features()
    blacklist_hit = F.lit(False)
    pass2 = F.lit(False)
    whitelist_keys = {r["key"] for r in rules if r["polygon"] == "whitelist"}
    for rule in rules:
        v = _map_value(tags_map, rule["key"])
        present = v.isNotNull()
        if rule["polygon"] == "blacklist":
            blacklist_hit = blacklist_hit | (present & v.isin(list(rule["values"])))
            if rule["key"] not in whitelist_keys:
                pass2 = pass2 | present
        elif rule["polygon"] == "all":
            pass2 = pass2 | present
        else:  # whitelist
            pass2 = pass2 | (present & v.isin(list(rule["values"])))
    return F.when(blacklist_hit, F.lit(False)).otherwise(pass2)


def exception_column(tags_col: Column, area_keys: dict | None = None) -> Column:
    """areaKeys veto: first tag whose key is in areaKeys decides
    (order-sensitive — hence the array<struct<k,v>> tag representation)."""
    area_keys = area_keys if area_keys is not None else default_area_keys()
    keys = list(area_keys.keys())
    true_pairs = [
        k + "\x00" + v for k, vals in area_keys.items() for v, flag in vals.items() if flag
    ]
    first = F.try_element_at(F.filter(tags_col, lambda t: t["k"].isin(keys)), F.lit(1))
    return F.when(
        first.isNotNull(),
        F.concat_ws("\x00", first["k"], first["v"]).isin(true_pairs) if true_pairs else F.lit(False),
    ).otherwise(F.lit(False))


def polygon_flag_column(
    tags_col: Column,
    closed_col: Column,
    area_keys: dict | None = None,
    polygon_features=None,
) -> Column:
    """Full precedence chain as one column expression.

    ``closed_col``: nullable boolean — ring closure of the element's
    geometry/nodes (null when the element has neither, e.g. relations).
    """
    tags_map = F.map_from_entries(tags_col)
    area_v = _map_value(tags_map, "area")
    type_v = _map_value(tags_map, "type")
    rb = rulebook_column(tags_map, polygon_features)
    exc = exception_column(tags_col, area_keys)
    no_tags = tags_col.isNull() | (F.size(tags_col) == 0)
    return (
        F.when(no_tags, F.lit(False))
        .when(area_v == "no", F.lit(False))
        .when(area_v == "yes", F.lit(True))
        .when(type_v == "multipolygon", F.lit(True))
        .when(closed_col.isNotNull() & ~closed_col, F.lit(False))
        .otherwise(rb & ~exc)
    )
