"""Geometry assembly: OSM element DataFrames -> feature DataFrame.

The distributed re-expression of the reference's conversion pipeline
(/root/reference/osm2geojson/main.py:136-788):

* way node-chains   : ``posexplode(nodes)`` -> left join against the node
  table -> ``groupBy(way_id)`` ordered collect -> flat ``array<double>``
  coordinates [lon0, lat0, lon1, lat1, ...], the one coordinate format from
  here to the shape kernels.
  (reference: hash refs_index probe loop, main.py:288-302)
* classification    : pure column expressions (functions/classify.py).
* relation assembly : grouped Arrow kernels (linemerge / ring nesting /
  orientation repair) — repartitioned by the relation's (doc_id, seq), so
  two relations sharing an id each convert from their own members, and
  processed many-relations-per-Arrow-batch via ``mapInPandas``
  (``batched_rel_kernel``; per-group ``applyInPandas`` costs ~ms of
  machinery per group).
  (reference: main.py:498-788)
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


@pandas_udf(T.BinaryType())
def point_gpb_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Point GPB (tag byte + 2 LE doubles) built for the whole Arrow batch
    in one NumPy pass — node corpora are the largest element class, a
    per-row struct.pack loop here was measurable at 10^6 nodes."""
    n = len(lon)
    if n == 0:
        return pd.Series([], dtype=object)
    x = lon.to_numpy(dtype=np.float64, na_value=np.nan)
    y = lat.to_numpy(dtype=np.float64, na_value=np.nan)
    rec = np.empty((n, 17), dtype=np.uint8)
    rec[:, 0] = geom.GTYPE_POINT
    rec[:, 1:9] = x.astype("<f8").view(np.uint8).reshape(n, 8)
    rec[:, 9:17] = y.astype("<f8").view(np.uint8).reshape(n, 8)
    blob = rec.tobytes()
    valid = ~np.isnan(x)  # null/NaN lon -> null gpb (matches the old loop)
    out = [
        blob[i * 17 : (i + 1) * 17] if valid[i] else None for i in range(n)
    ]
    return pd.Series(out)


# --------------------------------------------------------------------------
# way shape kernel: flat coords + polygon flag -> GPB + failure reason

_WAY_SHAPE_T = T.StructType(
    [T.StructField("gpb", T.BinaryType()), T.StructField("reason", T.StringType())]
)


@pandas_udf(_WAY_SHAPE_T)
def way_gpb_udf(coords: pd.Series, is_poly: pd.Series) -> pd.DataFrame:
    gpbs, reasons = [], []
    for flat, poly in zip(coords, is_poly):
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
        T.StructField("reason", T.StringType()),
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
    """Per-group poly/line dispatch (R18) INSIDE the kernel: every group
    carries its relation's is_poly flag, so one repartition + sort + Arrow
    pass serves both geometry paths — two separate grouped() paths executed
    the whole member-resolution subtree twice per action."""
    v = g["is_poly"][0]
    poly = bool(v) if v is not None and v == v else False  # null/NaN -> line
    return (_multipolygon_row if poly else _multiline_row)(g)


def batched_rel_kernel(row_fn):
    """mapInPandas wrapper that processes MANY relations per Arrow batch.

    ``applyInPandas`` costs ~ms per group (a Python call + a 1-row DataFrame
    each) — ruinous at millions of small relations. Instead the member rows
    arrive hash-partitioned by (doc_id, seq) and sorted within partitions,
    so each group is contiguous; a group possibly split across two Arrow
    batches is carried over in ``buf`` and flushed at partition end."""

    COLS = (
        "doc_id", "seq", "rel_id", "pos0", "pos1", "role", "ref", "coords",
        "nested_bad", "is_poly",
    )
    def fn(it):
        buf = None  # carried tail group: dict of numpy arrays
        out_doc, out_seq, out_rel, out_gpb, out_reason = [], [], [], [], []

        def emit(g, s, e):
            sub = {c: g[c][s:e] for c in COLS}
            gpb, reason = row_fn(sub)
            out_doc.append(g["doc_id"][s])
            out_seq.append(int(g["seq"][s]))
            out_rel.append(int(g["rel_id"][s]))
            out_gpb.append(gpb)
            out_reason.append(reason)

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
        yield pd.DataFrame(
            {
                "doc_id": out_doc, "seq": out_seq, "rel_id": out_rel,
                "gpb": out_gpb, "reason": out_reason,
            }
        )

    return fn


# --------------------------------------------------------------------------
# pipeline stages


def _coords_from_structs(col: Column) -> Column:
    """array<struct<lon,lat>> -> flat array<double>."""
    return F.flatten(F.transform(col, lambda p: F.array(p["lon"], p["lat"])))


def resolve_ways(frames: ElementFrames, area_keys=None, polygon_features=None) -> DataFrame:
    """All top-level ways -> coords + classification + shape.

    Columns: seq, id, branch, coords(array<double>), closed, is_poly, gpb, reason,
    used_node_refs(array<long>), nodes, tags, meta...
    """
    w = frames.ways
    has_center = F.col("center").isNotNull()
    has_geom = F.col("geometry").isNotNull() & (F.size("geometry") > 0)
    has_nodes = F.col("nodes").isNotNull() & (F.size("nodes") > 0)
    w = w.withColumn(
        "branch",
        F.when(has_center, "center")
        .when(has_geom, "geom")
        .when(has_nodes, "nodes")
        .otherwise("none"),
    )

    # --- node-ref resolution (the refs_index probe as a left join) -------
    # keyed by (doc_id, seq), not id: two ways that share an id each resolve
    # their own node list, as the reference converts every element on its own
    need = w.filter(F.col("branch") == "nodes").select(
        "doc_id", "seq", F.posexplode("nodes").alias("pos", "node_ref")
    )
    # last-occurrence-wins node index (build_refs_index dict overwrite);
    # max_by aggregation, not a window — partial (map-side) aggregation
    # instead of a full shuffle+sort of every node row
    nd = (
        frames.nodes.select("doc_id", F.col("id").alias("node_ref"), "seq", "lon", "lat")
        .groupBy("doc_id", "node_ref")
        .agg(F.max_by(F.struct("lon", "lat"), "seq").alias("_p"))
        .select("doc_id", "node_ref", F.col("_p.lon").alias("lon"), F.col("_p.lat").alias("lat"))
    )
    resolved = (
        need.join(nd, ["doc_id", "node_ref"], "left")
        .groupBy("doc_id", "seq")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "node_ref", "lon", "lat"))).alias("pts"))
    )
    miss = F.filter("pts", lambda p: p["lon"].isNull())
    first_miss = F.when(F.size(miss) > 0, F.try_element_at(miss, F.lit(1))["pos"])
    resolved = resolved.withColumn("first_miss", first_miss)
    # nodes before the first missing ref are marked used even when the way
    # fails (main.py:288-302 marks during iteration)
    resolved = resolved.withColumn(
        "used_node_refs",
        F.transform(
            F.filter(
                "pts",
                lambda p: p["lon"].isNotNull()
                & (F.col("first_miss").isNull() | (p["pos"] < F.col("first_miss"))),
            ),
            lambda p: p["node_ref"],
        ),
    ).withColumn(
        "resolved_coords",
        F.when(
            F.col("first_miss").isNull(),
            F.flatten(F.transform("pts", lambda p: F.array(p["lon"], p["lat"]))),
        ),
    )

    w = w.join(
        resolved.select(
            "doc_id", "seq", "first_miss", "used_node_refs", "resolved_coords"
        ),
        ["doc_id", "seq"],
        "left",
    )

    flat = F.when(F.col("branch") == "geom", _coords_from_structs(F.col("geometry"))).when(
        F.col("branch") == "nodes", F.col("resolved_coords")
    )
    w = w.withColumn("coords", flat)

    # ring-closure test for the classifier: inline geometry first, then refs
    # (main.py:399-404)
    geom_closed = (
        F.try_element_at("geometry", F.lit(1))["lon"] == F.try_element_at("geometry", F.lit(-1))["lon"]
    ) & (F.try_element_at("geometry", F.lit(1))["lat"] == F.try_element_at("geometry", F.lit(-1))["lat"])
    nodes_closed = F.try_element_at("nodes", F.lit(1)) == F.try_element_at("nodes", F.lit(-1))
    closed = (
        F.when(F.col("geometry").isNotNull() & (F.size("geometry") > 0), geom_closed)
        .when(F.col("nodes").isNotNull() & (F.size("nodes") > 0), nodes_closed)
        .otherwise(F.lit(None))
    )
    w = w.withColumn("closed", closed)
    w = w.withColumn(
        "is_poly", polygon_flag_column(F.col("tags"), F.col("closed"), area_keys, polygon_features)
    )

    shape = way_gpb_udf(F.col("coords"), F.col("is_poly"))
    w = w.withColumn("_shape", shape)
    w = (
        w.withColumn(
            "gpb",
            F.when(F.col("branch") == "center", point_gpb_udf(F.col("center.lon"), F.col("center.lat")))
            .when(F.col("branch") == "none", F.lit(None).cast("binary"))
            .otherwise(F.col("_shape.gpb")),
        )
        .withColumn(
            "reason",
            F.when(F.col("branch") == "center", F.lit(None).cast("string"))
            .when(F.col("branch") == "none", F.lit("no_source"))
            .when(F.col("first_miss").isNotNull(), F.lit("node_missing"))
            .otherwise(F.col("_shape.reason")),
        )
        .drop("_shape", "resolved_coords")
    )
    return w


def _member_rows(frames: ElementFrames, ways_resolved: DataFrame) -> DataFrame:
    """Explode relation members into leaf rows and resolve every leaf with
    one lookup join. Leaves are the direct members (pos1 = -1) and the
    members of depth-1 nested relations (pos1 >= 0; multiline path). Output
    one row per leaf member, keyed by the relation's ``seq``:
    (doc_id, seq, rel_id, pos0, pos1, mtype, ref, role, coords, needs_close,
    nested_bad).
    """
    rels = frames.relations.filter(F.col("center").isNull())
    mem = rels.select(
        "doc_id", "seq", F.col("id").alias("rel_id"), F.explode("members").alias("m")
    ).select(
        "doc_id",
        "seq",
        "rel_id",
        F.col("m.pos").alias("pos0"),
        F.lit(-1).alias("pos1"),
        F.col("m.mtype").alias("mtype"),
        F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
        F.col("m.geometry").alias("mgeom"),
    )

    # nested relation members (depth 1): the referenced relation's members
    # under the outer member's position and role (main.py:526-532)
    rel_index = frames.relations.select(
        "doc_id", F.col("id").alias("ref"), F.col("members").alias("nested_members")
    )
    nested = (
        mem.filter(F.col("mtype") == "relation")
        .join(rel_index, ["doc_id", "ref"], "inner")
        .select(
            "doc_id", "seq", "rel_id", "pos0", "role",
            F.explode("nested_members").alias("nm"),
        )
        .select(
            "doc_id",
            "seq",
            "rel_id",
            "pos0",
            F.col("nm.pos").alias("pos1"),
            F.col("nm.mtype").alias("mtype"),
            F.col("nm.ref").alias("ref"),
            "role",
            F.col("nm.geometry").alias("mgeom"),
        )
    )

    # one lookup keyed by member type. A way resolves to its own shape
    # coordinates — the closed exterior when the way classifies as polygon
    # (main.py:334-336). A relation id found under a nested relation is a
    # depth-2 member, which aborts the relation (reference KeyError at
    # main.py:529 for id-less nested rel dicts).
    way_ok = F.col("gpb").isNotNull() & (F.col("branch") != "center")
    lookup = ways_resolved.select(
        "doc_id",
        F.col("id").alias("ref"),
        F.lit("way").alias("mtype"),
        F.when(way_ok, F.col("coords")).alias("way_coords"),
        F.col("is_poly").alias("way_is_poly"),
    ).unionByName(
        frames.relations.select(
            "doc_id",
            F.col("id").alias("ref"),
            F.lit("relation").alias("mtype"),
            F.lit(True).alias("is_rel"),
        ),
        allowMissingColumns=True,
    )
    leaves = mem.unionByName(nested).join(lookup, ["doc_id", "ref", "mtype"], "left")
    inline = F.col("mgeom").isNotNull() & (F.size("mgeom") > 0)
    return leaves.select(
        "doc_id",
        "seq",
        "rel_id",
        "pos0",
        "pos1",
        "mtype",
        "ref",
        "role",
        F.when(
            F.col("mtype") == "way",
            F.when(inline, _coords_from_structs(F.col("mgeom"))).otherwise(
                F.col("way_coords")
            ),
        ).alias("coords"),
        ((~inline) & F.coalesce(F.col("way_is_poly"), F.lit(False))).alias("needs_close"),
        ((F.col("pos1") >= 0) & F.col("is_rel").isNotNull()).alias("nested_bad"),
    )


def close_coords_expr(coords: Column, needs_close: Column) -> Column:
    """K.close_ring as a pure column expression over flat coords: append the
    first point when the ring is open. JVM-side — no Python/Arrow pass over
    every member row just to close the few polygon-classified ways. Spark
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
    """Relation shapes: (doc_id, seq, rel_id, gpb, reason) via grouped Arrow
    kernels, one row per relation element without a center, keyed by its
    ``seq`` so relations that share an id keep their own members.
    ``rels_flagged``: frames.relations + precomputed ``is_poly`` column."""
    no_center = rels_flagged.filter(F.col("center").isNull()).select(
        "doc_id",
        "seq",
        F.col("id").alias("rel_id"),
        "is_poly",
    )

    members = _member_rows(frames, ways_resolved)
    members = members.withColumn(
        "coords", close_coords_expr(F.col("coords"), F.col("needs_close"))
    ).drop("needs_close")
    flagged = members.join(no_center.drop("rel_id"), ["doc_id", "seq"], "inner")

    # multiline path: way members, direct or flattened from a nested
    # relation, plus the depth-2 markers; multipolygon path: direct members
    # only, of which it consumes the ways (main.py:596-607). Both path
    # filters are applied as ONE disjunction so a single repartition + sort
    # + kernel pass serves both (per-group dispatch on is_poly).
    kept_members = flagged.filter(
        (F.col("is_poly") & (F.col("pos1") < 0))
        | ((~F.col("is_poly")) & ((F.col("mtype") == "way") | F.col("nested_bad")))
    )

    # mtype is a filter-only column — the kernel never reads it, so it is
    # dropped BEFORE the repartition (a string column on every member row
    # is pure shuffle + Arrow weight)
    cols = [
        "doc_id", "seq", "rel_id", "pos0", "pos1", "ref", "role", "coords",
        "nested_bad", "is_poly",
    ]

    # one sentinel row per relation rides along into its kernel path: a
    # group that arrives sentinel-only (empty/None members, or every member
    # row filtered out) is failed as "no_members" INSIDE the kernel. This
    # replaces a left-anti join against the kernel OUTPUT, which made the
    # whole member-resolution + Python-kernel subtree execute twice per
    # action (once for results, once to find the missing relations).
    sentinels = no_center.select(
        "doc_id",
        "seq",
        "rel_id",
        F.lit(-1).alias("pos0"),
        F.lit(-1).alias("pos1"),
        F.lit(None).cast("long").alias("ref"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("array<double>").alias("coords"),
        F.lit(False).alias("nested_bad"),
        "is_poly",
    )
    return (
        kept_members.select(cols)
        .unionByName(sentinels.select(cols))
        .repartition("doc_id", "seq")
        .sortWithinPartitions("doc_id", "seq", "pos0", "pos1")
        .mapInPandas(batched_rel_kernel(_dispatch_row), schema=_REL_OUT_SCHEMA)
    )
