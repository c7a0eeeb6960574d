"""Geometry assembly: OSM element DataFrames -> feature DataFrame.

The distributed re-expression of the reference's conversion pipeline
(/root/reference/osm2geojson/main.py:136-788):

* way node-chains   : ``posexplode_outer(nodes)`` -> left join against
  every node row -> ``groupBy(doc_id, seq)`` ordered collect, keeping the
  last node row of each position (the refs_index's last occurrence wins) ->
  flat ``array<double>`` coordinates [lon0, lat0, lon1, lat1, ...], the one
  coordinate format from here to the shape kernels. The group carries the
  way's own columns (on the first exploded row of each way only), so no
  join brings the way rows back. It shuffles for the join (unless the node
  table broadcasts) and for the group, and nowhere else: no node index is
  aggregated first.
  (reference: hash refs_index build and probe loop, main.py:228-229,
  288-302)
* classification    : pure column expressions (functions/classify.py).
* relation assembly : grouped Arrow kernels (linemerge / ring nesting /
  orientation repair) — repartitioned by the relation's (doc_id, seq), so
  two relations sharing an id each convert from their own members, and
  processed many-relations-per-Arrow-batch via ``mapInPandas``
  (``batched_rel_kernel``; per-group ``applyInPandas`` costs ~ms of
  machinery per group). The kernel also serializes each relation's
  Feature, so a relation crosses into Python once.
  (reference: main.py:498-788)
* points            : packed (``point_gpb``) where the element already
  crosses into Python: the node serializer, the way shape kernel, the
  relation kernel; never in an evaluator of their own.
* used-refs dedup   : a literal left **anti join** on ``id`` — id-only key,
  reproducing the reference's cross-type-collision quirk (main.py:168-180).

All Python execution is Arrow-batched (pandas_udf / mapInPandas); there are
no row-at-a-time Python UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import geom
from ..functions import kernels as K
from ..functions.classify import polygon_flag_column
from ..sources.normalize import ElementFrames

# --------------------------------------------------------------------------
# flat coords -> (n, 2) points


def _points(flat) -> np.ndarray:
    """array<double> [lon0,lat0,lon1,lat1,...] -> (n, 2) float64 points.
    + 0.0 normalizes -0.0 to +0.0 (IEEE 754 round-to-nearest), so no -0.0
    reaches an emitted geometry."""
    return (np.asarray(flat, dtype=np.float64) + 0.0).reshape(-1, 2)


def point_gpb(lon, lat) -> bytes | None:
    """Point GPB of one coordinate pair as an Arrow batch holds it (null ->
    NaN): None when lon is NaN, and a NaN lat packs as NaN."""
    if lon is None or lon != lon:
        return None
    return geom.point(lon, float("nan") if lat is None else lat)


# --------------------------------------------------------------------------
# way shape kernel: flat coords + polygon flag -> GPB + failure reason

_WAY_SHAPE_T = T.StructType(
    [T.StructField("gpb", T.BinaryType()), T.StructField("reason", T.StringType())]
)


@pandas_udf(_WAY_SHAPE_T)
def way_gpb_udf(coords: pd.Series, is_poly: pd.Series, branch: pd.Series) -> pd.DataFrame:
    """A way's shape from its flat coordinates. A ``'center'`` way's
    coordinates are its center, and its shape is that point (None, failing
    as ``no_lon``, when the center's lon is NaN)."""
    gpbs, reasons = [], []
    for flat, poly, kind in zip(coords, is_poly, branch):
        if kind == "center":
            gpb = point_gpb(flat[0], flat[1])
            gpbs.append(gpb)
            reasons.append(None if gpb is not None else "no_lon")
            continue
        if flat is None:
            gpbs.append(None)
            reasons.append("no_coords")
            continue
        pts = _points(flat)
        if len(pts) < 2:  # main.py:346-351
            gpbs.append(None)
            reasons.append("too_few_coords")
            continue
        if poly:
            try:
                rings = K.polygon_from_coords(pts)
            except ValueError:
                gpbs.append(None)
                reasons.append("polygon_error")  # main.py:358-363
                continue
            fixed = K.fix_invalid_multipolygon([rings])
            # buffer(0) in the reference returns ALL repaired pieces as a
            # MultiPolygon (main.py:264-270) — keep every loop, not just the
            # first (a pentagram way must emit all 6 loops).
            if len(fixed) == 1:
                gpbs.append(geom.polygon(fixed[0]))
            else:
                gpbs.append(geom.multipolygon(K.orient_multipolygon(fixed)))
            reasons.append(None)
        else:
            gpbs.append(geom.linestring(pts))
            reasons.append(None)
    return pd.DataFrame({"gpb": gpbs, "reason": reasons})


# --------------------------------------------------------------------------
# relation kernels (batched mapInPandas over (doc_id, seq) groups)

_REL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("rel_id", T.LongType()),
        T.StructField("gpb", T.BinaryType()),
        T.StructField("props", T.StringType()),
        T.StructField("reason", T.StringType()),
        T.StructField("line", T.StringType()),
    ]
)


def _group_consecutive(shapes: list[tuple[str, np.ndarray, int]]):
    """itertools.groupby-equivalent consecutive role grouping
    (main.py:719-725 — Baarle-Nassau ordering correctness)."""
    groups: list[tuple[str, list[np.ndarray], list[int]]] = []
    for role, line, ref in shapes:
        if groups and groups[-1][0] == role:
            groups[-1][1].append(line)
            groups[-1][2].append(ref)
        else:
            groups.append((role, [line], [ref]))
    return groups


def _lines_to_multipolygon(lines: list[np.ndarray]):
    """main.py:676-704: linemerge, then one polygon per merged closed line;
    multiple lines -> unary_union. Returns list-of-polys or None."""
    merged = K.linemerge(lines)
    if len(merged) > 1:
        polys = []
        for line in merged:
            try:
                rings = K.polygon_from_coords(line)
            except ValueError:
                continue  # warning path (main.py:689-693)
            if not K.polygon_is_valid(rings):
                # keep every repaired piece (reference buffer(0) semantics)
                polys.extend(K.fix_invalid_multipolygon([rings]))
            else:
                polys.append(rings)
        return K.unary_union_polygons(polys) if polys else None
    try:
        rings = K.polygon_from_coords(merged[0])
    except ValueError:
        return None
    return [rings]


def _shapes_to_multipolygon(shapes):
    """main.py:707-788 including the issue-54 multi-outer merge heuristic."""
    if len(shapes) < 1:
        return None, "empty"
    groups = [
        (role, _lines_to_multipolygon(lines), refs)
        for role, lines, refs in _group_consecutive(shapes)
    ]

    outer_idx = [i for i, (role, _, _) in enumerate(groups) if role == "outer"]
    if len(outer_idx) > 1:
        all_outer = [line for role, line, _ in shapes if role == "outer"]
        all_ids = [ref for role, _, ref in shapes if role == "outer"]
        merged = _lines_to_multipolygon(all_outer)
        if merged is not None and len(merged) == 1:
            for i in reversed(outer_idx):
                groups.pop(i)
            groups.insert(outer_idx[0], ("outer", merged, all_ids))

    mp = None
    base = -1
    for i, (role, g, _) in enumerate(groups):
        if role == "outer":
            mp, base = g, i
            break
    if base < 0:
        return None, "no_outer"
    if mp is None:
        return None, "base_failed"
    if not all(K.polygon_is_valid(p) for p in mp):
        return None, "base_invalid"

    for i, (role, g, _) in enumerate(groups):
        if i == base:
            continue
        if g is None:
            return None, "group_failed"
        if role == "inner":
            mp = K.multipolygon_difference(mp, g)
        else:
            mp = K.multipolygon_union(mp, g)
    return mp, None


def _group_bounds(keys: np.ndarray):
    """Start/end indices of contiguous equal-key runs (input pre-sorted)."""
    n = len(keys)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = keys[1:] != keys[:-1]
    starts = np.flatnonzero(change)
    return starts, np.append(starts[1:], n)


def _member_lines(g: dict):
    """Per-relation ordered member lines: [(pos0, role, coords|None, ref)]
    from column arrays pre-sorted by (pos0, pos1). Nested (depth-1) relation
    members arrive pre-flattened with pos1 >= 0 and must merge to a single
    chain (shapely would reject a nested MultiLineString, making the whole
    relation fail — main.py:555,567)."""
    pos0, pos1 = g["pos0"], g["pos1"]
    role, ref, coords, nested_bad = g["role"], g["ref"], g["coords"], g["nested_bad"]
    out = []
    starts, ends = _group_bounds(pos0)
    for s, e in zip(starts, ends):
        if pos0[s] < 0:  # per-relation sentinel row, not a member
            continue
        if nested_bad[s]:
            return None, "nested_relation_too_deep"
        if pos1[s] < 0:  # direct way member
            flat = coords[s]
            r = role[s] or ""
            if flat is None or len(flat) < 4:
                out.append((pos0[s], r, None, ref[s]))
            else:
                out.append((pos0[s], r, _points(flat), ref[s]))
        else:  # flattened nested-relation member -> merge its way lines
            lines = [
                _points(flat)
                for flat in coords[s:e]
                if flat is not None and len(flat) >= 4
            ]
            if not lines:
                out.append((pos0[s], role[s] or "", None, ref[s]))
                continue
            merged = K.linemerge(lines)
            if len(merged) != 1:
                return None, "nested_multiline_not_mergeable"
            out.append((pos0[s], role[s] or "", merged[0], ref[s]))
    return out, None


def _multipolygon_row(g: dict):
    """One relation's member column arrays -> (gpb, reason)."""
    members, err = _member_lines(g)
    if members is None:
        return None, err
    if not members:  # sentinel-only group: relation contributed no member rows
        return None, "no_members"
    shapes = [
        (role, line, ref)
        for _, role, line, ref in members
        if line is not None
    ]
    mp, reason = _shapes_to_multipolygon(shapes)
    if mp is None:
        return None, reason
    mp = K.fix_invalid_multipolygon(mp)
    mp = K.orient_multipolygon(mp)  # main.py:643
    return geom.multipolygon(mp), None


def _multiline_row(g: dict):
    members, err = _member_lines(g)
    if members is None:
        return None, err
    if not members:  # sentinel-only group: relation contributed no member rows
        return None, "no_members"
    lines = [line for _, _, line, _ in members if line is not None]
    if not lines:  # main.py:560-565
        return None, "no_lines"
    merged = K.linemerge(lines)
    gpb = geom.linestring(merged[0]) if len(merged) == 1 else geom.multilinestring(merged)
    return gpb, None


def _dispatch_row(g: dict):
    """Per-group dispatch (R18) INSIDE the kernel: every group carries its
    relation's is_poly flag, so one repartition + sort + Arrow pass serves
    both geometry paths — two separate grouped() paths executed the whole
    member-resolution subtree twice per action. A relation with a center
    arrives as its sentinel row alone and its shape is that point (None,
    failing as ``no_lon``, when the center's lon is NaN)."""
    if g["has_center"][0]:
        gpb = point_gpb(g["center_lon"][0], g["center_lat"][0])
        return gpb, None if gpb is not None else "no_lon"
    v = g["is_poly"][0]
    poly = bool(v) if v is not None and v == v else False  # null/NaN -> line
    return (_multipolygon_row if poly else _multiline_row)(g)


def batched_rel_kernel(row_fn):
    """mapInPandas wrapper that processes MANY relations per Arrow batch.

    ``applyInPandas`` costs ~ms per group (a Python call + a 1-row DataFrame
    each) — ruinous at millions of small relations. Instead the member rows
    arrive hash-partitioned by (doc_id, seq) and sorted within partitions,
    so each group is contiguous; a group possibly split across two Arrow
    batches is carried over in ``buf`` and flushed at partition end.

    Each group starts with its relation's sentinel row (pos0 = -1 sorts
    before every member), which carries the properties JSON; the kernel
    emits the serialized Feature line next to the shape, so a relation
    crosses into Python once."""

    COLS = (
        "doc_id", "seq", "rel_id", "pos0", "pos1", "role", "ref", "coords",
        "nested_bad", "is_poly", "props", "has_center", "center_lon", "center_lat",
    )
    def fn(it):
        buf = None  # carried tail group: dict of numpy arrays
        out = {c: [] for c in _REL_OUT_SCHEMA.fieldNames()}

        def emit(g, s, e):
            sub = {c: g[c][s:e] for c in COLS}
            gpb, reason = row_fn(sub)
            props = g["props"][s]
            out["doc_id"].append(g["doc_id"][s])
            out["seq"].append(int(g["seq"][s]))
            out["rel_id"].append(int(g["rel_id"][s]))
            out["gpb"].append(gpb)
            out["props"].append(props)
            out["reason"].append(reason)
            out["line"].append(None if gpb is None else geom.feature_json(gpb, props))

        for pdf in it:
            if len(pdf) == 0:
                continue
            g = {c: pdf[c].to_numpy() for c in COLS}
            if buf is not None:
                g = {c: np.concatenate([buf[c], g[c]]) for c in COLS}
                buf = None
            # doc_id comparisons on object arrays of Python strings are the
            # slow path in numpy — factorize to int codes once per span (C
            # hashing; codes only need within-span consistency)
            dk = pd.factorize(g["doc_id"])[0]
            rk = g["seq"]
            is_last = (dk == dk[-1]) & (rk == rk[-1])
            split = int(np.argmax(is_last))  # groups are contiguous (sorted)
            if split == 0:  # whole batch is one group — may continue
                buf = g
                continue
            head = {c: g[c][:split] for c in COLS}
            buf = {c: g[c][split:] for c in COLS}
            # composite run detection over (doc_id, seq)
            n = split
            change = np.empty(n, dtype=bool)
            change[0] = True
            change[1:] = (dk[1:n] != dk[: n - 1]) | (rk[1:n] != rk[: n - 1])
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            for s, e in zip(starts, ends):
                emit(head, s, e)
        if buf is not None and len(buf["doc_id"]) > 0:
            emit(buf, 0, len(buf["doc_id"]))
        yield pd.DataFrame(out)

    return fn


# --------------------------------------------------------------------------
# pipeline stages


# The plan builders below write their column expressions as SQL text: one
# parsed expression costs one driver-to-JVM call, where the same expression
# composed from Column operators costs about ten per operator (PySpark
# records each operator's Python call site in the JVM).


def _coords_sql(structs: str) -> str:
    """SQL for array<struct<lon,lat>> -> flat array<double>."""
    return f"flatten(transform({structs}, p -> array(p.lon, p.lat)))"


def props_json_sql(etype: str, include_nodes: bool) -> str:
    """SQL for the GeoJSON properties JSON: fixed-key projection with null
    dropping (main.py:236-238 get_element_props)."""
    nodes = "'nodes', nodes, " if include_nodes else ""
    return (
        f"to_json(named_struct('type', '{etype}', 'id', id, 'tags', map_from_entries(tags), "
        f"{nodes}'timestamp', timestamp, 'user', `user`, 'uid', uid, 'version', version))"
    )


def resolve_ways(frames: ElementFrames, area_keys=None, polygon_features=None) -> DataFrame:
    """All top-level ways -> coords + classification + shape.

    Columns: seq, id, branch, coords(array<double>; a center way's center),
    closed, is_poly, gpb, reason, used_node_refs(array<long>; empty unless
    the way resolves node refs), nodes, tags, meta...
    """
    w = frames.ways.withColumn(
        "branch",
        F.expr(
            "CASE WHEN center IS NOT NULL THEN 'center'"
            " WHEN geometry IS NOT NULL AND size(geometry) > 0 THEN 'geom'"
            " WHEN nodes IS NOT NULL AND size(nodes) > 0 THEN 'nodes'"
            " ELSE 'none' END"
        ),
    )

    # --- node-ref resolution (the refs_index probe as a left join) -------
    # keyed by (doc_id, seq), not id: two ways that share an id each resolve
    # their own node list, as the reference converts every element on its
    # own. Every way row explodes (a way without node refs into one row with
    # a null pos), and the aggregation that collects the resolved nodes also
    # carries the way's own columns, so no join brings the way rows back.
    # Only the first row of a way carries them: the rows that go through the
    # node join stay (doc_id, seq, pos, node_ref) plus one copy of the way.
    way_cols = [c for c in w.columns if c not in ("doc_id", "seq")]
    need = w.selectExpr(
        "*", "posexplode_outer(CASE WHEN branch = 'nodes' THEN nodes END) AS (pos, node_ref)"
    ).selectExpr(
        "doc_id",
        "seq",
        "pos",
        "node_ref",
        "CASE WHEN coalesce(pos, 0) = 0"
        f" THEN struct({', '.join(f'`{c}`' for c in way_cols)}) END AS way",
    )
    nodes = frames.nodes.selectExpr("doc_id", "id AS node_ref", "seq AS nseq", "lon", "lat")
    # every node row sharing the ref's id joins; sort_array orders each
    # position's candidates by node seq, and keeping the last one is the
    # last-occurrence-wins index of build_refs_index (dict overwrite) without
    # an aggregation of its own over the node table. The one ordered collect
    # also holds the way: its first element (position 0, or the way's one
    # row with a null pos) carries it.
    last = "p.pos IS NOT NULL AND coalesce(try_element_at(pts, i + 2).pos != p.pos, true)"
    w = (
        need.join(nodes, ["doc_id", "node_ref"], "left")
        .groupBy("doc_id", "seq")
        .agg(F.expr("sort_array(collect_list(struct(pos, nseq, node_ref, lon, lat, way))) AS pts"))
        .selectExpr("doc_id", "seq", "pts[0].way AS way", "pts")
        .selectExpr(
            "doc_id",
            "seq",
            "way.*",
            f"filter(pts, (p, i) -> {last}) AS pts",
            f"try_element_at(filter(pts, (p, i) -> p.lon IS NULL AND {last}), 1).pos"
            " AS first_miss",
        )
    )

    # coordinates, and the ring-closure test for the classifier: inline
    # geometry first, then refs (main.py:399-404). One resolved node per
    # position from here, so pts[i].pos = i, and the nodes before the first
    # missing ref are marked used even when the way fails (main.py:288-302
    # marks during iteration)
    closed = (
        "CASE WHEN geometry IS NOT NULL AND size(geometry) > 0"
        " THEN try_element_at(geometry, 1).lon = try_element_at(geometry, -1).lon"
        " AND try_element_at(geometry, 1).lat = try_element_at(geometry, -1).lat"
        " WHEN nodes IS NOT NULL AND size(nodes) > 0"
        " THEN try_element_at(nodes, 1) = try_element_at(nodes, -1) END"
    )
    # one projection: the classifier reads the closure test as an expression
    # of its own, not the ``closed`` column beside it
    w = w.withColumns(
        {
            "used_node_refs": F.expr(
                "transform(slice(pts, 1, coalesce(first_miss, size(pts))), p -> p.node_ref)"
            ),
            "coords": F.expr(
                "CASE WHEN branch = 'center' THEN array(center.lon, center.lat)"
                f" WHEN branch = 'geom' THEN {_coords_sql('geometry')}"
                f" WHEN branch = 'nodes' AND first_miss IS NULL THEN {_coords_sql('pts')} END"
            ),
            "closed": F.expr(closed),
            "is_poly": polygon_flag_column(
                F.col("tags"), F.expr(closed), area_keys, polygon_features
            ),
        }
    ).drop("pts")

    w = w.withColumn(
        "_shape", way_gpb_udf(F.col("coords"), F.col("is_poly"), F.col("branch"))
    )
    return w.withColumns(
        {
            "gpb": F.col("_shape.gpb"),
            "reason": F.expr(
                "CASE WHEN branch = 'none' THEN 'no_source'"
                " WHEN first_miss IS NOT NULL THEN 'node_missing'"
                " ELSE _shape.reason END"
            ),
        }
    ).drop("_shape")


def _member_rows(
    frames: ElementFrames, ways_resolved: DataFrame, rels_flagged: DataFrame
) -> DataFrame:
    """Explode relation members into leaf rows and resolve every way leaf
    with one lookup join. Leaves are the direct members (pos1 = -1) and the
    members of depth-1 nested relations (pos1 >= 0; multiline path). Output
    one row per leaf member, keyed by the relation's ``seq`` and carrying
    its ``is_poly`` flag: (doc_id, seq, rel_id, is_poly, pos0, pos1, mtype,
    ref, role, coords, nested_bad, props, has_center, center_lon,
    center_lat). Each relation also gets its sentinel row (pos0 = pos1 =
    -1, no member), which alone carries the relation's properties JSON and
    its center; a relation with a center has no other row.
    """
    mem = rels_flagged.selectExpr(
        "doc_id",
        "seq",
        "id AS rel_id",
        "is_poly",
        "center",
        f"{props_json_sql('relation', include_nodes=False)} AS props",
        "explode(concat(array(NULL), CASE WHEN center IS NULL"
        " THEN coalesce(members, array()) ELSE array() END)) AS m",
    ).selectExpr(
        "doc_id", "seq", "rel_id", "is_poly", "CASE WHEN m IS NULL THEN -1 ELSE m.pos END AS pos0",
        "-1 AS pos1", "m.mtype AS mtype", "m.ref AS ref", "m.role AS role", "m.geometry AS mgeom",
        "CASE WHEN m IS NULL THEN props END AS props",
        "CASE WHEN m IS NULL THEN center IS NOT NULL END AS has_center",
        "CASE WHEN m IS NULL THEN center.lon END AS center_lon",
        "CASE WHEN m IS NULL THEN center.lat END AS center_lat",
    )

    # nested relation members (depth 1): the referenced relation's members
    # under the outer member's position and role (main.py:526-532). Only
    # the multiline path reads them, so a multipolygon's relation members
    # are not expanded. A relation id found under a nested relation is a
    # depth-2 member, which aborts the relation (reference KeyError at
    # main.py:529 for id-less nested rel dicts).
    rel_index = frames.relations.selectExpr("doc_id", "id AS ref", "members AS nested_members")
    rel_ids = frames.relations.selectExpr("doc_id AS r_doc", "id AS r_ref")
    nested = (
        mem.filter("NOT is_poly AND mtype = 'relation'")
        .join(rel_index, ["doc_id", "ref"], "inner")
        .selectExpr(
            "doc_id", "seq", "rel_id", "is_poly", "pos0", "role",
            "explode(nested_members) AS nm",
        )
        .selectExpr(
            "doc_id", "seq", "rel_id", "is_poly", "pos0", "nm.pos AS pos1",
            "nm.mtype AS mtype", "nm.ref AS ref", "role", "nm.geometry AS mgeom",
        )
        .join(rel_ids, F.expr("mtype = 'relation' AND doc_id = r_doc AND ref = r_ref"), "left")
        .selectExpr("*", "r_ref IS NOT NULL AS nested_bad")
        .drop("r_doc", "r_ref")
    )

    # one lookup of the way members: a way resolves to its own shape
    # coordinates, closed once per way when it classifies as polygon
    # (main.py:334-336). The lookup carries no column the join does not
    # need: it is the build side of a broadcast at small inputs.
    lookup = ways_resolved.select(
        F.expr("doc_id AS l_doc"),
        F.expr("id AS l_ref"),
        close_coords_expr(
            F.expr("CASE WHEN gpb IS NOT NULL AND branch != 'center' THEN coords END"),
            F.col("is_poly"),
        ).alias("way_coords"),
    )
    leaves = mem.unionByName(nested, allowMissingColumns=True).join(
        lookup, F.expr("mtype = 'way' AND doc_id = l_doc AND ref = l_ref"), "left"
    )
    inline = "(mgeom IS NOT NULL AND size(mgeom) > 0)"
    return leaves.selectExpr(
        "doc_id",
        "seq",
        "rel_id",
        "is_poly",
        "pos0",
        "pos1",
        "mtype",
        "ref",
        "role",
        f"CASE WHEN mtype = 'way' THEN CASE WHEN {inline} THEN {_coords_sql('mgeom')}"
        " ELSE way_coords END END AS coords",
        "coalesce(nested_bad, false) AS nested_bad",
        "props",
        "has_center",
        "center_lon",
        "center_lat",
    )


def close_coords_expr(coords: Column, needs_close: Column) -> Column:
    """K.close_ring as a pure column expression over flat coords: append the
    first point when the ring is open. JVM-side — no Python/Arrow pass over
    every way just to close the polygon-classified ones. Spark
    compares doubles with -0.0 == 0.0, so such a ring counts as closed, as
    it does in the kernels after their + 0.0."""
    first_pt = F.slice(coords, 1, 2)
    open_ring = (
        needs_close
        & coords.isNotNull()
        & (F.size(coords) >= 4)
        & (first_pt != F.slice(coords, -2, 2))
    )
    return F.when(open_ring, F.concat(coords, first_pt)).otherwise(coords)


def assemble_relations(
    frames: ElementFrames,
    ways_resolved: DataFrame,
    rels_flagged: DataFrame,
) -> DataFrame:
    """Relation features from one grouped Arrow kernel pass: (doc_id, seq,
    rel_id, gpb, props, reason, line), one row per relation element, keyed
    by its ``seq`` so relations that share an id keep their own members.
    ``line`` is the serialized GeoJSON Feature (null when ``gpb`` is). A
    relation with a center keeps its point and has no member rows.
    ``rels_flagged``: frames.relations + precomputed ``is_poly`` column."""
    members = _member_rows(frames, ways_resolved, rels_flagged)

    # multiline path: way members, direct or flattened from a nested
    # relation, plus the depth-2 markers; multipolygon path: direct members
    # only, of which it consumes the ways (main.py:596-607). Both path
    # filters are applied as ONE disjunction so a single repartition + sort
    # + kernel pass serves both (per-group dispatch on is_poly).
    #
    # Every relation's sentinel row (pos0 = -1) is kept, and rides along
    # into its kernel path: a group that arrives sentinel-only (empty/None
    # members, or every member row filtered out) is failed as "no_members"
    # INSIDE the kernel. This replaces a left-anti join against the kernel
    # OUTPUT, which made the whole member-resolution + Python-kernel subtree
    # execute twice per action (once for results, once to find the missing
    # relations). The sentinel comes out of the same explode as the members,
    # so the relations are read once for both.
    #
    # mtype is a filter-only column — the kernel never reads it, so it is
    # dropped BEFORE the repartition (a string column on every member row
    # is pure shuffle + Arrow weight)
    cols = [
        "doc_id", "seq", "rel_id", "pos0", "pos1", "ref", "role", "coords",
        "nested_bad", "is_poly", "props", "has_center", "center_lon", "center_lat",
    ]
    return (
        members.filter(
            "pos0 < 0 OR (is_poly AND pos1 < 0)"
            " OR (NOT is_poly AND (mtype = 'way' OR nested_bad))"
        )
        .select(cols)
        .repartition("doc_id", "seq")
        .sortWithinPartitions("doc_id", "seq", "pos0", "pos1")
        .mapInPandas(batched_rel_kernel(_dispatch_row), schema=_REL_OUT_SCHEMA)
    )
