"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` exercises a real engine operator from
SURVEY.md §2 / §2.3 over the provided parquet tables (plus deterministic
closed-form coordinate/phash columns derived from integer keys so the DuckDB
oracle can reproduce them exactly). ``oracle_sql()`` carries the equivalent
ANSI SQL; float-valued outputs are rounded identically on both sides, money
sums are computed in DECIMAL so they are exact.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import pandas as pd
from pyspark.sql.functions import pandas_udf

from osm2geojson_spark.functions import geom as GEO
from osm2geojson_spark.functions import hashing as H
from osm2geojson_spark.functions import kernels as K
from osm2geojson_spark.functions import text as TXT
from osm2geojson_spark.functions.classify import is_geometry_polygon, polygon_flag_column
from osm2geojson_spark.operators import asof as ASOF
from osm2geojson_spark.operators import cells
from osm2geojson_spark.operators import dedup as DD
from osm2geojson_spark.operators import knn as KNN
from osm2geojson_spark.operators import multimodal as MM
from osm2geojson_spark.operators import similarity as SIM
from osm2geojson_spark.operators.assemble import assemble_relations, resolve_ways
from osm2geojson_spark.operators.spatial_join import (
    point_in_polygon_join,
    polygons_to_df,
    raster_vector_join,
    tile_footprints,
)
from osm2geojson_spark.sources import synthetic as SYN
from osm2geojson_spark.sources.normalize import (
    ElementFrames,
    NODES_SCHEMA,
    OTHERS_SCHEMA,
    RELATIONS_SCHEMA,
    WAYS_SCHEMA,
)

_REPO = os.path.dirname(os.path.abspath(__file__))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# deterministic synthetic columns shared by Spark and the oracle


def _lon(key):  # world-bbox point from an integer key
    return SYN.lon_expr(F.col(key) if isinstance(key, str) else key)


def _lat(key):
    return SYN.lat_expr(F.col(key) if isinstance(key, str) else key)


_NATION_BOX_SQL = (
    "SELECT n_nationkey AS poly_id,"
    " (-180.0 + (n_nationkey % 5) * 72.0) AS x0,"
    " (-90.0 + CAST(floor(n_nationkey / 5) AS BIGINT) * 36.0) AS y0,"
    " (-180.0 + (n_nationkey % 5) * 72.0 + 36.0) AS x1,"
    " (-90.0 + CAST(floor(n_nationkey / 5) AS BIGINT) * 36.0 + 18.0) AS y1"
    " FROM nation"
)


def _nation_boxes(spark: SparkSession, sf_dir: str):
    """[(poly_id, gpb, x0, y0, x1, y1)] — one rectangle per nation."""
    rows = _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    out = []
    for r in rows:
        nk = r["n_nationkey"]
        x0 = -180.0 + (nk % 5) * 72.0
        y0 = -90.0 + (nk // 5) * 36.0
        x1, y1 = x0 + 36.0, y0 + 18.0
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        out.append((nk, GEO.polygon([ring]), x0, y0, x1, y1))
    return out


# --------------------------------------------------------------------------
# OSM-semantics queries (operators R1-R16 over relational inputs)


def q_way_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/R2/R6: posexplode+join node resolution + ordered coord collect,
    through the engine's resolve_ways operator. Ways := lineitem groups
    (node refs = l_partkey ordered by l_linenumber); nodes := part."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ways = (
        li.groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("l_linenumber", "l_partkey"))
            ).alias("nds")
        )
        .select(
            F.lit("d").alias("doc_id"),
            F.col("l_orderkey").alias("seq"),
            F.col("l_orderkey").alias("id"),
            F.transform("nds", lambda x: x["l_partkey"]).alias("nodes"),
            F.lit(None).cast("array<struct<lon:double,lat:double>>").alias("geometry"),
            F.lit(None).cast("struct<lon:double,lat:double>").alias("center"),
            F.lit(None).cast(
                "struct<minlat:double,minlon:double,maxlat:double,maxlon:double>"
            ).alias("bounds"),
            F.lit(None).cast("array<struct<k:string,v:string>>").alias("tags"),
            F.lit(None).cast("string").alias("timestamp"),
            F.lit(None).cast("long").alias("version"),
            F.lit(None).cast("long").alias("changeset"),
            F.lit(None).cast("string").alias("user"),
            F.lit(None).cast("long").alias("uid"),
        )
    )
    nodes = part.select(
        F.lit("d").alias("doc_id"),
        F.col("p_partkey").alias("seq"),
        F.col("p_partkey").alias("id"),
        _lon("p_partkey").alias("lon"),
        _lat("p_partkey").alias("lat"),
        F.lit(None).cast("array<struct<k:string,v:string>>").alias("tags"),
        F.lit(None).cast("string").alias("timestamp"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("long").alias("changeset"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("long").alias("uid"),
    )
    empty_rel = spark.createDataFrame([], RELATIONS_SCHEMA)
    empty_oth = spark.createDataFrame([], OTHERS_SCHEMA)
    frames = ElementFrames(nodes, ways, empty_rel, empty_oth, 0)
    w = resolve_ways(frames)
    return w.select(
        F.col("id").alias("way_id"),
        (F.size("coords") / 2).cast("long").alias("n_pts"),
        F.col("closed").alias("closed"),
        F.round(F.try_element_at("coords", F.lit(1)), 9).alias("x0"),
        F.round(F.try_element_at("coords", F.lit(2)), 9).alias("y0"),
        F.round(F.try_element_at("coords", F.lit(-2)), 9).alias("xn"),
        F.round(F.try_element_at("coords", F.lit(-1)), 9).alias("yn"),
    )


_WAY_ASSEMBLY_SQL = f"""
WITH nd AS (
  SELECT p_partkey AS id,
         round({SYN.lon_sql('p_partkey')}, 9) AS lon,
         round({SYN.lat_sql('p_partkey')}, 9) AS lat
  FROM part
), w AS (
  SELECT l_orderkey AS way_id,
         list(l_partkey ORDER BY l_linenumber, l_partkey) AS refs
  FROM lineitem GROUP BY l_orderkey
)
SELECT w.way_id,
       CAST(len(refs) AS BIGINT) AS n_pts,
       (refs[1] = refs[len(refs)]) AS closed,
       f.lon AS x0, f.lat AS y0, l.lon AS xn, l.lat AS yn
FROM w
JOIN nd f ON f.id = refs[1]
JOIN nd l ON l.id = refs[len(refs)]
"""


_CLS_KEYS = ["building", "highway", "natural", "area", "waterway", "nokey"]
_CLS_VALS = ["yes", "no", "coastline", "riverbank"]


def q_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8/R9/R9b: the polygon classifier as column expressions over
    synthesized single-tag elements."""
    part = _t(spark, sf_dir, "part")
    k = F.element_at(F.array(*[F.lit(x) for x in _CLS_KEYS]), (F.col("p_partkey") % 6 + 1).cast("int"))
    v = F.element_at(F.array(*[F.lit(x) for x in _CLS_VALS]), (F.col("p_partkey") % 4 + 1).cast("int"))
    closed = (F.col("p_partkey") % 2) == 0
    tags = F.array(F.struct(k.alias("k"), v.alias("v")))
    df = part.select(
        F.col("p_partkey"),
        polygon_flag_column(tags, closed).alias("is_poly"),
    )
    return df


def _classifier_oracle_sql() -> str:
    cases = []
    for ki, key in enumerate(_CLS_KEYS):
        for vi, val in enumerate(_CLS_VALS):
            for closed in (True, False):
                expected = is_geometry_polygon({key: val}, closed)
                cases.append(
                    f"WHEN p_partkey % 6 = {ki} AND p_partkey % 4 = {vi} "
                    f"AND (p_partkey % 2 = 0) = {str(closed).lower()} "
                    f"THEN {str(expected).lower()}"
                )
    return (
        "SELECT p_partkey, CASE " + " ".join(cases) + " END AS is_poly FROM part"
    )


def q_used_refs_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R16: the used-refs dedup as a left anti join — parts never consumed
    as a node ref of a 'converted way' (orders with key % 50 == 0, so the
    survivor set is non-trivially split) survive the filter."""
    part = _t(spark, sf_dir, "part")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return part.select("p_partkey").join(li, "p_partkey", "left_anti")


from pyspark.sql import types as _T

_MP_STATS_T = _T.StructType(
    [
        _T.StructField("n_polys", _T.IntegerType()),
        _T.StructField("n_rings", _T.IntegerType()),
        _T.StructField("area", _T.DoubleType()),
    ]
)


@pandas_udf(_MP_STATS_T)
def _mp_stats_udf(gpb: pd.Series) -> pd.DataFrame:
    """(Multi)Polygon GPB -> (n_polys, n_rings, net shoelace area)."""
    np_, nr_, ar_ = [], [], []
    for buf in gpb:
        if buf is None:
            np_.append(None), nr_.append(None), ar_.append(None)
            continue
        t, payload = GEO.decode(bytes(buf))
        polys = [payload] if t == GEO.GTYPE_POLYGON else payload
        area = 0.0
        rings = 0
        for p in polys:
            rings += len(p)
            area += abs(K.signed_area(p[0]))
            for hole in p[1:]:
                area -= abs(K.signed_area(hole))
        np_.append(len(polys)), nr_.append(rings), ar_.append(round(area, 6))
    return pd.DataFrame({"n_polys": np_, "n_rings": nr_, "area": ar_})


def _null(dtype: str):
    return F.lit(None).cast(dtype)


def q_relation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10-R15: full multipolygon relation assembly through the grouped Arrow
    kernels (endpoint-hash linemerge, consecutive-role grouping, hole
    subtraction, ring-orientation repair). One relation per nation row: two
    open 'outer' way chains that stitch into a w x h rectangle, plus a 1x1
    'inner' hole way for even keys. Oracle = the closed-form ground truth."""
    nat = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").cast("long").alias("n"))
    n = F.col("n")
    x0 = (n % 5).cast("double") * F.lit(20.0)
    y0 = F.floor(n / 5).cast("double") * F.lit(15.0)
    wd = (n % 7 + 4).cast("double")
    ht = (n % 5 + 3).cast("double")

    def corner(c, lon, lat):
        return F.struct(F.lit(c).alias("c"), lon.alias("lon"), lat.alias("lat"))

    corners = F.array(
        corner(0, x0, y0),
        corner(1, x0 + wd, y0),
        corner(2, x0 + wd, y0 + ht),
        corner(3, x0, y0 + ht),
        corner(4, x0 + 1.0, y0 + 1.0),
        corner(5, x0 + 2.0, y0 + 1.0),
        corner(6, x0 + 2.0, y0 + 2.0),
        corner(7, x0 + 1.0, y0 + 2.0),
    )
    meta = [
        _null("array<struct<k:string,v:string>>").alias("tags"),
        _null("string").alias("timestamp"),
        _null("long").alias("version"),
        _null("long").alias("changeset"),
        _null("string").alias("user"),
        _null("long").alias("uid"),
    ]
    nodes = nat.select(n, F.explode(corners).alias("p")).select(
        F.lit("d").alias("doc_id"),
        (n * 100 + F.col("p.c")).alias("seq"),
        (n * 100 + F.col("p.c")).alias("id"),
        F.col("p.lon").alias("lon"),
        F.col("p.lat").alias("lat"),
        *meta,
    )

    def way(widx, *cs):
        return F.struct(
            (n * 10 + widx).alias("id"),
            F.array(*[n * 100 + c for c in cs]).alias("nds"),
        )

    ways_arr = F.when(
        n % 2 == 0,
        F.array(way(1, 0, 1, 2), way(2, 2, 3, 0), way(3, 4, 5, 6, 7, 4)),
    ).otherwise(F.array(way(1, 0, 1, 2), way(2, 2, 3, 0)))
    ways = nat.select(n, F.explode(ways_arr).alias("w")).select(
        F.lit("d").alias("doc_id"),
        F.col("w.id").alias("seq"),
        F.col("w.id").alias("id"),
        F.col("w.nds").alias("nodes"),
        _null("array<struct<lon:double,lat:double>>").alias("geometry"),
        _null("struct<lon:double,lat:double>").alias("center"),
        _null("struct<minlat:double,minlon:double,maxlat:double,maxlon:double>").alias(
            "bounds"
        ),
        *meta,
    )

    def member(pos, widx, role):
        return F.struct(
            F.lit(pos).alias("pos"),
            F.lit("way").alias("mtype"),
            (n * 10 + widx).alias("ref"),
            F.lit(role).alias("role"),
            _null("array<struct<lon:double,lat:double>>").alias("geometry"),
            _null("double").alias("lon"),
            _null("double").alias("lat"),
        )

    members = F.when(
        n % 2 == 0,
        F.array(member(0, 1, "outer"), member(1, 2, "outer"), member(2, 3, "inner")),
    ).otherwise(F.array(member(0, 1, "outer"), member(1, 2, "outer")))
    rels = nat.select(
        F.lit("d").alias("doc_id"),
        n.alias("seq"),
        n.alias("id"),
        members.alias("members"),
        _null("struct<lon:double,lat:double>").alias("center"),
        _null("struct<minlat:double,minlon:double,maxlat:double,maxlon:double>").alias(
            "bounds"
        ),
        F.array(
            F.struct(F.lit("type").alias("k"), F.lit("multipolygon").alias("v"))
        ).alias("tags"),
        _null("string").alias("timestamp"),
        _null("long").alias("version"),
        _null("long").alias("changeset"),
        _null("string").alias("user"),
        _null("long").alias("uid"),
    )

    frames = ElementFrames(
        nodes,
        ways,
        rels,
        spark.createDataFrame([], OTHERS_SCHEMA),
        0,
    )
    # resolved ways feed three consumers inside assemble_relations; cut the
    # recompute (same role as build_features' materialize step)
    resolved = resolve_ways(frames).localCheckpoint(eager=False)
    rels_flagged = rels.withColumn(
        "is_poly", polygon_flag_column(F.col("tags"), _null("boolean"))
    )
    shapes = assemble_relations(frames, resolved, rels_flagged)
    return shapes.select(
        F.col("rel_id"), _mp_stats_udf(F.col("gpb")).alias("s")
    ).select("rel_id", "s.n_polys", "s.n_rings", "s.area")


_RELATION_ASSEMBLY_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS rel_id,
       1 AS n_polys,
       CASE WHEN n_nationkey % 2 = 0 THEN 2 ELSE 1 END AS n_rings,
       CAST((4 + n_nationkey % 7) * (3 + n_nationkey % 5)
            - CASE WHEN n_nationkey % 2 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS area
FROM nation
"""


# --------------------------------------------------------------------------
# spatial layer (E1-E5)


def q_cell_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    lon, lat = _lon("c_custkey"), _lat("c_custkey")
    return cust.select(
        "c_custkey",
        cells.cell_id(lon, lat, 9).alias("cell9"),
        cells.cell_id(lon, lat, 7).alias("cell7"),
        cells.parent_cell(cells.cell_id(lon, lat, 12), 12, 7).alias("parent7"),
    )


_CELL_ENCODE_SQL = f"""
SELECT c_custkey,
  {cells.cell_id_sql(SYN.lon_sql('c_custkey'), SYN.lat_sql('c_custkey'), 9)} AS cell9,
  {cells.cell_id_sql(SYN.lon_sql('c_custkey'), SYN.lat_sql('c_custkey'), 7)} AS cell7,
  {cells.cell_id_sql(SYN.lon_sql('c_custkey'), SYN.lat_sql('c_custkey'), 7)} AS parent7
FROM customer
"""


def q_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(cells.cell_id(_lon("c_custkey"), _lat("c_custkey"), 5).alias("cell5"))
        .groupBy("cell5")
        .agg(F.count("*").alias("n"))
    )


_CELL_HISTOGRAM_SQL = f"""
SELECT {cells.cell_id_sql(SYN.lon_sql('c_custkey'), SYN.lat_sql('c_custkey'), 5)} AS cell5,
       count(*) AS n
FROM customer GROUP BY 1
"""


def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Space-filling-curve sort keys for write-time clustering (the
    lakehouse Z-ORDER analogue): Morton interleave (pure column math) and
    Hilbert distance (vectorized Arrow kernel) per distinct res-5 customer
    cell. At 100 TB these order `repartitionByRange` + sortWithinPartitions
    on ingest so neighbouring cells land in neighbouring Parquet row
    groups and bbox queries prune files. The DuckDB twin re-derives Morton
    with pure //,% arithmetic and Hilbert via a per-level unrolled CTE
    chain (cells.hilbert_cte_sql) — both bit-exact integer math."""
    res = 5
    cell_col = cells.cell_id(_lon("c_custkey"), _lat("c_custkey"), res)
    cdf = (
        _t(spark, sf_dir, "customer")
        .select(cell_col.alias("cell_id"))
        .distinct()
    )
    return cdf.select(
        "cell_id",
        cells.morton_key(F.col("cell_id"), res).alias("morton"),
        cells.hilbert_key(F.col("cell_id"), res).alias("hilbert"),
    ).orderBy("cell_id")


def _hilbert_layout_sql() -> str:
    res = 5
    cell = cells.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), res)
    src = f"""
SELECT DISTINCT {cell} AS cell_id,
       ({cell} % {1 << 58}) // {1 << 29} AS x0,
       ({cell} % {1 << 29}) AS y0
FROM customer
"""
    body = cells.hilbert_cte_sql(src, res, cols="cell_id")
    morton = cells.morton_key_sql("cell_id", res)
    return f"""
WITH hil AS ({body})
SELECT cell_id, {morton} AS morton, hilbert
FROM hil ORDER BY cell_id
"""


def q_sphere_cell_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical cube-face cell rollup (operators/cells_sphere.py): the
    polar-distortion-free S2-style index, encode + histogram entirely in
    column math; oracle twin evaluates the identical projection in DuckDB."""
    from osm2geojson_spark.operators import cells_sphere as SPH

    cust = _t(spark, sf_dir, "customer")
    return (
        cust.select(
            SPH.sphere_cell_id(_lon("c_custkey"), _lat("c_custkey"), 4).alias("scell")
        )
        .groupBy("scell")
        .agg(F.count("*").alias("n"))
    )


def _sphere_cell_histogram_sql() -> str:
    from osm2geojson_spark.operators import cells_sphere as SPH

    return f"""
SELECT {SPH.sphere_cell_id_sql(SYN.lon_sql('c_custkey'), SYN.lat_sql('c_custkey'), 4)} AS scell,
       count(*) AS n
FROM customer GROUP BY 1
"""


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: cell-sharded point-in-polygon join (ray-cast kernel) of customer
    points against nation rectangles."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    return point_in_polygon_join(cust, polys, res=4).select("c_custkey", "poly_id")


_PIP_JOIN_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {SYN.lon_sql('c_custkey')} AS lon, {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), boxes AS ({_NATION_BOX_SQL})
SELECT c_custkey, poly_id
FROM pts JOIN boxes
  ON lon >= x0 AND lon < x1 AND lat >= y0 AND lat < y1
"""
# half-open box semantics: the +x ray cast counts a point on the left/bottom
# edge as inside and on the right/top edge as outside (partition property)


def q_pip_join_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 on the spherical cube-face grid (grid="sphere"): points keyed by
    sphere_cell_id, polygons sharded by the conservative hierarchical
    sphere coverer (cells_sphere.sphere_covering_cells_py) with the same
    interior/boundary split. The oracle is the identical box-containment
    SQL — the operator contract is exact PIP equality regardless of grid."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    return point_in_polygon_join(cust, polys, res=4, grid="sphere").select(
        "c_custkey", "poly_id"
    )


def q_spatial_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship composition, driver-checked: points -> cell-sharded PIP
    join -> res-6 tile rollup (the exact shape bench.py's
    spatial_join_tiles measures at 2M rows). One broadcast join + one
    combiner-friendly groupBy shuffle on (poly_id, tile)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    joined = point_in_polygon_join(cust, polys, res=4)
    return (
        joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), 6))
        .groupBy("poly_id", "tile")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SPATIAL_ROLLUP_SQL = f"""
WITH pts AS (
  SELECT c_custkey, {SYN.lon_sql('c_custkey')} AS lon, {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), boxes AS ({_NATION_BOX_SQL})
SELECT poly_id, {cells.cell_id_sql('lon', 'lat', 6)} AS tile,
       count(*) AS n
FROM pts JOIN boxes
  ON lon >= x0 AND lon < x1 AND lat >= y0 AND lat < y1
GROUP BY 1, 2
"""


def q_within_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial range (radius) join: all (supplier, customer) pairs within
    400 km by haversine. The operator explodes each supplier's disk-bbox
    covering cells (provable superset — spatial_join.disk_bbox), equi-joins
    on the single customer cell, and refines with JVM-side haversine; the
    oracle brute-forces the cross join. Only the integer pair keys are
    output: the inclusion threshold is the sole trig-dependent decision and
    pairs land ~meters from the 400 km cut, far beyond cross-engine libm
    ulp differences."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), _lon("s_suppkey").alias("lon"), _lat("s_suppkey").alias("lat")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    return within_distance_join(
        sup, cust, 400_000.0, res=6, lid="s_suppkey", rid="c_custkey"
    ).select("s_suppkey", "c_custkey")


_WITHIN_DISTANCE_SQL = f"""
WITH s AS (
  SELECT s_suppkey, {SYN.lon_sql('s_suppkey')} AS slon, {SYN.lat_sql('s_suppkey')} AS slat
  FROM supplier
), c AS (
  SELECT c_custkey, {SYN.lon_sql('c_custkey')} AS clon, {SYN.lat_sql('c_custkey')} AS clat
  FROM customer
)
SELECT s_suppkey, c_custkey
FROM s CROSS JOIN c
WHERE {KNN.haversine_sql('slon', 'slat', 'clon', 'clat')} <= 400000.0
"""


def q_within_distance_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same radius join on the cube-face sphere grid (polar-robust
    candidate generation). The result set is grid-independent — candidate
    cells are a superset on either grid and the haversine refine decides —
    so the flat-grid brute-force oracle doubles as the sphere-grid oracle,
    proving grid-independence of the join semantics."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), _lon("s_suppkey").alias("lon"), _lat("s_suppkey").alias("lat")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    return within_distance_join(
        sup, cust, 400_000.0, res=5, lid="s_suppkey", rid="c_custkey", grid="sphere"
    ).select("s_suppkey", "c_custkey")


def q_sampled_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLED spatial range join (the Random-Sampling-over-Spatial-Range-
    Joins problem, ICDE 2025): a 20% uniform sample of the 400 km radius
    join, taken by a deterministic pair-key hash gate pushed BELOW the
    exact haversine refine — the gate is geometry-independent, so
    sample(join) == join-then-sample exactly, while the refine (the
    dominant cost at corpus scale) only touches gated candidates. The
    oracle brute-forces the join and applies the identical md5 gate."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey"), _lon("s_suppkey").alias("lon"), _lat("s_suppkey").alias("lat")
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    from osm2geojson_spark.operators.spatial_join import within_distance_join

    return within_distance_join(
        sup, cust, 400_000.0, res=6, lid="s_suppkey", rid="c_custkey",
        pair_sample_rate=0.2,
    ).select("s_suppkey", "c_custkey")


_SAMPLED_RANGE_SQL = f"""
WITH s AS (
  SELECT s_suppkey, {SYN.lon_sql('s_suppkey')} AS slon, {SYN.lat_sql('s_suppkey')} AS slat
  FROM supplier
), c AS (
  SELECT c_custkey, {SYN.lon_sql('c_custkey')} AS clon, {SYN.lat_sql('c_custkey')} AS clat
  FROM customer
)
SELECT s_suppkey, c_custkey
FROM s CROSS JOIN c
WHERE {KNN.haversine_sql('slon', 'slat', 'clon', 'clat')} <= 400000.0
  AND {TXT.md5_long_sql("CAST(s_suppkey AS VARCHAR) || '_' || CAST(c_custkey AS VARCHAR)")}
      % 1000003 < {int(0.2 * 1_000_003)}
"""


_SIMP_NF, _SIMP_NV = 200, 64  # features x vertices of the synthetic polylines


def q_simplify_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 driver check: Douglas-Peucker simplification (eps=0, the
    redundant-vertex elimination setting) through the full GPB Arrow pass
    (operators/geometry.simplify_geometries), over deterministic integer
    staircase polylines built identically in both engines.

    Why the oracle is EXACT: kernels.dp_simplify measures perpendicular
    distance to the infinite chord LINE and keeps a vertex iff d > eps. At
    eps=0 the retained set is provably {endpoints} union {v not collinear
    with its immediate neighbours}: (<=) a vertex strictly between two
    line-mates has d <= max of theirs against any chord, is never the
    unique argmax (np.argmax ties resolve to the earlier index), and ends
    in a span whose chord contains it; (=>) a dropped vertex's FINAL span
    has every interior vertex at d == 0, so its immediate neighbours lie
    on that same line. With unit x spacing collinearity is `dy2 == dy1`,
    one lag/lead window in SQL. Integer coordinates (|x| <= 64, y in 0..6)
    keep every float64 cross product exact, so there is no epsilon issue.
    Pinned independently by tests/test_spatial.py property tests."""
    nf, nv = _SIMP_NF, _SIMP_NV
    base = spark.range(nf * nv).select(
        F.floor(F.col("id") / nv).cast("long").alias("f"),
        (F.col("id") % nv).alias("i"),
    )
    base = base.withColumn(
        "y",
        ((F.col("f") * 7919 + F.floor(F.col("i") / 4) * 104729) % 97) % 7,
    )
    pts = base.groupBy("f").agg(
        F.sort_array(F.collect_list(F.struct("i", "y"))).alias("vs")
    )

    def pack(it):
        for pdf in it:
            rows = [
                (int(f), GEO.linestring([[float(v["i"]), float(v["y"])] for v in vs]))
                for f, vs in zip(pdf["f"], pdf["vs"])
            ]
            yield pd.DataFrame(rows, columns=["feature_id", "gpb"])

    packed = pts.mapInPandas(pack, schema="feature_id long, gpb binary")
    from osm2geojson_spark.operators.geometry import simplify_geometries

    simp = simplify_geometries(packed, 0.0)

    def unpack(it):
        for pdf in it:
            rows = []
            for fid, buf in zip(pdf["feature_id"], pdf["gpb"]):
                c = GEO.to_geojson_geometry(bytes(buf))["coordinates"]
                rows.append(
                    (
                        int(fid),
                        len(c),
                        int(sum(p[0] for p in c)),
                        int(sum(p[1] for p in c)),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["feature_id", "n_vertices", "sum_x", "sum_y"]
            )

    return simp.mapInPandas(
        unpack,
        schema="feature_id long, n_vertices long, sum_x long, sum_y long",
    ).orderBy("feature_id")


_SIMPLIFY_SQL = f"""
WITH v AS (
  SELECT (r // {_SIMP_NV}) AS f, (r % {_SIMP_NV}) AS i,
         (((r // {_SIMP_NV}) * 7919 + ((r % {_SIMP_NV}) // 4) * 104729) % 97) % 7 AS y
  FROM range({_SIMP_NF} * {_SIMP_NV}) t(r)
), d AS (
  SELECT f, i, y,
         y - lag(y)  OVER w AS dy1,
         lead(y) OVER w - y AS dy2
  FROM v WINDOW w AS (PARTITION BY f ORDER BY i)
)
SELECT f AS feature_id, CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(sum(i) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y
FROM d
WHERE dy1 IS NULL OR dy2 IS NULL OR dy1 != dy2
GROUP BY f ORDER BY f
"""


def q_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise polygon union (operators/geometry.dissolve — the same
    noding + face-extraction kernel as relation assembly, run as a
    distributed ST_Union aggregate).  Each group gets two equal rectangles
    with dyadic coordinates: for g % 3 < 2 the second overlaps by exactly
    (w/2, h/2) -> one part of area 2wh - wh/4; otherwise it is disjoint ->
    two parts of total area 2wh.  Every coordinate, intersection point and
    shoelace term is a dyadic rational, so the kernel's float64 area equals
    the closed form BIT-exactly and the oracle is pure arithmetic."""
    from osm2geojson_spark.functions import geom as GEO
    from osm2geojson_spark.operators.geometry import dissolve

    base = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 80)
        .select(
            F.col("p_partkey").alias("g"),
            (F.lit(2.0) + (F.col("p_partkey") % 4).cast("double") * 0.25).alias("w"),
            (F.lit(2.0) + (F.col("p_partkey") % 5).cast("double") * 0.25).alias("h"),
        )
    )

    def pack(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            gs, blobs = [], []
            for g, w, h in zip(pdf["g"], pdf["w"], pdf["h"]):
                x0, y0 = float(g % 10) * 16.0, float(g // 10) * 16.0
                dx, dy = (w / 2, h / 2) if g % 3 < 2 else (w + 0.5, 0.0)
                for ox, oy in ((0.0, 0.0), (dx, dy)):
                    ring = np.array(
                        [
                            [x0 + ox, y0 + oy],
                            [x0 + ox + w, y0 + oy],
                            [x0 + ox + w, y0 + oy + h],
                            [x0 + ox, y0 + oy + h],
                            [x0 + ox, y0 + oy],
                        ]
                    )
                    gs.append(g)
                    blobs.append(GEO.polygon([ring]))
            yield pd.DataFrame({"g": gs, "gpb": blobs})

    rects = base.mapInPandas(pack, schema="g long, gpb binary")
    return dissolve(rects, "g", "gpb").select("g", "n_parts", "area")


_DISSOLVE_SQL = """
WITH p AS (
  SELECT p_partkey AS g,
         2 + (p_partkey % 4) * 0.25 AS w,
         2 + (p_partkey % 5) * 0.25 AS h
  FROM part WHERE p_partkey < 80
)
SELECT g,
       CAST(CASE WHEN g % 3 < 2 THEN 1 ELSE 2 END AS INTEGER) AS n_parts,
       CASE WHEN g % 3 < 2 THEN 2 * w * h - (w / 2) * (h / 2)
            ELSE 2 * w * h END AS area
FROM p
"""


def q_clip_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ST_Intersection (operators/geometry.overlay_groups over the
    classified-edge overlay engine): subject rectangle A clipped by window B
    = A shifted by (w/4, h/4) -> intersection (3w/4) x (3h/4); for
    g % 3 == 2 the window is disjoint -> empty MultiPolygon, n_parts = 0,
    area 0.  All coordinates dyadic, so kernel areas equal the closed-form
    oracle bit-exactly."""
    from osm2geojson_spark.functions import geom as GEO
    from osm2geojson_spark.operators.geometry import overlay_groups

    base = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 80)
        .select(
            F.col("p_partkey").alias("g"),
            (F.lit(2.0) + (F.col("p_partkey") % 4).cast("double") * 0.25).alias("w"),
            (F.lit(2.0) + (F.col("p_partkey") % 5).cast("double") * 0.25).alias("h"),
        )
    )

    def pack(side: int):
        def fn(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                gs, blobs = [], []
                for g, w, h in zip(pdf["g"], pdf["w"], pdf["h"]):
                    x0, y0 = float(g % 10) * 16.0, float(g // 10) * 16.0
                    if side == 1:
                        if g % 3 == 2:
                            x0 += w + 0.5
                        else:
                            x0, y0 = x0 + w / 4, y0 + h / 4
                    ring = np.array(
                        [
                            [x0, y0],
                            [x0 + w, y0],
                            [x0 + w, y0 + h],
                            [x0, y0 + h],
                            [x0, y0],
                        ]
                    )
                    gs.append(g)
                    blobs.append(GEO.polygon([ring]))
                yield pd.DataFrame({"g": gs, "gpb": blobs})

        return fn

    a = base.mapInPandas(pack(0), schema="g long, gpb binary")
    b = base.mapInPandas(pack(1), schema="g long, gpb binary")
    return overlay_groups(a, b, "intersection").select("g", "n_parts", "area")


_CLIP_SQL = """
WITH p AS (
  SELECT p_partkey AS g,
         2 + (p_partkey % 4) * 0.25 AS w,
         2 + (p_partkey % 5) * 0.25 AS h
  FROM part WHERE p_partkey < 80
)
SELECT g,
       CAST(CASE WHEN g % 3 = 2 THEN 0 ELSE 1 END AS INTEGER) AS n_parts,
       CASE WHEN g % 3 = 2 THEN 0.0
            ELSE (w - w / 4) * (h - h / 4) END AS area
FROM p
"""


_HAUS_NF, _HAUS_NV = 120, 48  # pairs x vertices per line


def q_hausdorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete symmetric Hausdorff distance per matched geometry pair
    (operators/geometry.hausdorff_distance) over integer staircase
    polylines — shape similarity for trajectory dedup. The SQUARED
    distance is an exact integer, and the oracle brute-forces the same
    max-min over exploded vertices in SQL (min per vertex, max per side,
    greatest of the two directed values) — no geometric closed form
    needed, both engines reduce the identical integer set."""
    from osm2geojson_spark.operators.geometry import hausdorff_distance

    nf, nv = _HAUS_NF, _HAUS_NV
    base = spark.range(nf * nv).select(
        (F.col("id") / nv).cast("long").alias("f"),
        (F.col("id") % nv).alias("i"),
    )
    base = base.select(
        "f",
        "i",
        (((F.col("f") * 7919 + (F.col("i") / 4).cast("long") * 104729) % 97) % 7).alias("ya"),
        (F.col("i") + (F.col("f") % 9) - 4).alias("xb"),
        (((F.col("f") * 104729 + (F.col("i") / 3).cast("long") * 7919) % 89) % 11).alias("yb"),
    )
    packed = base.groupBy("f").agg(
        F.sort_array(F.collect_list(F.struct("i", "ya", "xb", "yb"))).alias("vs")
    )

    def pack(it):
        for pdf in it:
            rows = []
            for f, vs in zip(pdf["f"], pdf["vs"]):
                a = [[float(v["i"]), float(v["ya"])] for v in vs]
                b = [[float(v["xb"]), float(v["yb"])] for v in vs]
                rows.append((int(f), GEO.linestring(a), GEO.linestring(b)))
            yield pd.DataFrame(rows, columns=["pair_id", "gpb_a", "gpb_b"])

    pairs = packed.mapInPandas(
        pack, schema="pair_id long, gpb_a binary, gpb_b binary"
    )
    return hausdorff_distance(pairs).select(
        "pair_id", F.col("hausdorff_sq").cast("long").alias("hausdorff_sq")
    )


_HAUSDORFF_SQL = f"""
WITH v AS (
  SELECT (r // {_HAUS_NV}) AS f, (r % {_HAUS_NV}) AS i,
         (((r // {_HAUS_NV}) * 7919 + ((r % {_HAUS_NV}) // 4) * 104729) % 97) % 7 AS ya,
         (r % {_HAUS_NV}) + ((r // {_HAUS_NV}) % 9) - 4 AS xb,
         (((r // {_HAUS_NV}) * 104729 + ((r % {_HAUS_NV}) // 3) * 7919) % 89) % 11 AS yb
  FROM range({_HAUS_NF} * {_HAUS_NV}) t(r)
), dab AS (
  SELECT a.f, a.i,
         min((a.i - b.xb) * (a.i - b.xb) + (a.ya - b.yb) * (a.ya - b.yb)) AS m
  FROM v a JOIN v b ON a.f = b.f GROUP BY a.f, a.i
), dba AS (
  SELECT b.f, b.i,
         min((b.xb - a.i) * (b.xb - a.i) + (b.yb - a.ya) * (b.yb - a.ya)) AS m
  FROM v b JOIN v a ON a.f = b.f GROUP BY b.f, b.i
), hab AS (SELECT f, max(m) AS h FROM dab GROUP BY f),
   hba AS (SELECT f, max(m) AS h FROM dba GROUP BY f)
SELECT hab.f AS pair_id,
       CAST(greatest(hab.h, hba.h) AS BIGINT) AS hausdorff_sq
FROM hab JOIN hba ON hab.f = hba.f
"""


def q_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grouped ST_ConvexHull (operators/geometry.convex_hull):
    per-partition partial hulls (hull is an associative idempotent
    reduction) collapse each group's cloud to O(h) points before the single
    shuffle; the final chain walk runs per Arrow batch of whole groups.

    Why the oracle is EXACT: integer coordinates in [0, 1000) keep every
    cross product exact in float64 (|cross| < 2^21), so the kernel's
    minimal-vertex hull equals the SQL's directed-edge characterization —
    (a,b) is a hull edge iff every other point is strictly right of a->b
    or collinear AND between a and b (which excludes collinear boundary
    points from the vertex set exactly like the chain's non-strict pop).
    The shoelace area over those edges is an integer sum / 2 — exact on
    both engines. The kernel is independently pinned against the same
    O(n^3) oracle by tests/test_spatial.py property tests."""
    from osm2geojson_spark.operators.geometry import convex_hull

    pts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 800)
        .select(
            (F.col("p_partkey") % 8).alias("g"),
            ((F.col("p_partkey") * 7919) % 1000).cast("double").alias("x"),
            ((F.col("p_partkey") * 104729) % 1000).cast("double").alias("y"),
        )
    )
    return convex_hull(pts).select("g", "n_hull", "area")


def q_min_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X179 (geometry.oriented_envelope): minimum oriented bounding
    rectangle (ST_OrientedEnvelope, rotating calipers over the hull
    edges) per modular point group — integer-exact projection extents,
    IEEE-pinned area, canonical-edge deterministic tie-break. Same
    associative partial-hull shape as convex_hull; the twin replays the
    directed-edge hull characterization + projections in SQL."""
    from osm2geojson_spark.operators.geometry import oriented_envelope

    pts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 800)
        .select(
            (F.col("p_partkey") % 8).alias("g"),
            ((F.col("p_partkey") * 7919) % 1000).cast("double").alias("x"),
            ((F.col("p_partkey") * 104729) % 1000).cast("double").alias("y"),
        )
    )
    return oriented_envelope(pts)


def _min_bbox_sql() -> str:
    from osm2geojson_spark.operators.geometry import oriented_envelope_sql

    pts = (
        "SELECT p_partkey % 8 AS g, (p_partkey * 7919) % 1000 AS x,"
        " (p_partkey * 104729) % 1000 AS y FROM part WHERE p_partkey < 800"
    )
    return oriented_envelope_sql(pts)


_CONVEX_HULL_SQL = """
WITH pts AS (
  SELECT DISTINCT p_partkey % 8 AS g,
         (p_partkey * 7919) % 1000 AS x,
         (p_partkey * 104729) % 1000 AS y
  FROM part WHERE p_partkey < 800
),
e AS (
  SELECT a.g, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by2
  FROM pts a JOIN pts b ON a.g = b.g AND NOT (a.x = b.x AND a.y = b.y)
  WHERE NOT EXISTS (
    SELECT 1 FROM pts c
    WHERE c.g = a.g
      AND NOT (c.x = a.x AND c.y = a.y)
      AND NOT (c.x = b.x AND c.y = b.y)
      AND ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) > 0
           OR ((b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0
               AND NOT (c.x BETWEEN least(a.x, b.x) AND greatest(a.x, b.x)
                        AND c.y BETWEEN least(a.y, b.y) AND greatest(a.y, b.y))))
  )
)
SELECT g, CAST(count(*) AS INTEGER) AS n_hull,
       CAST(abs(sum(ax * by2 - bx * ay)) AS DOUBLE) / 2 AS area
FROM e GROUP BY g
"""


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation of customer-point counts
    over the occupied-cell rook lattice at res 4
    (operators/spatial_stats.morans_i). The scaled-integer formulation
    (c_i = n*x_i - S) makes num/den/W/n exact int64 on both engines in
    any summation order; the scalar I is two identically-ordered float
    ops. Neighbor weights are pure cell-id arithmetic — rook adjacency
    with antimeridian x-wrap — so the oracle replays the whole statistic
    in integer SQL."""
    from osm2geojson_spark.operators.spatial_stats import morans_i

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    from osm2geojson_spark.operators import cells as CEL

    hist = pts.groupBy(
        CEL.cell_id(F.col("lon"), F.col("lat"), 4).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return morans_i(hist, res=4)


def _morans_i_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    xs, rs = 1 << 29, 1 << 58
    return f"""
WITH hist AS (
  SELECT {cell} AS cell_id, count(*) AS x FROM customer GROUP BY 1
), tot AS (SELECT count(*) AS n, sum(x) AS s FROM hist),
h AS (
  SELECT cell_id, tot.n * x - tot.s AS c, tot.n AS n,
         (cell_id % {rs}) // {xs} AS cx, cell_id % {xs} AS cy
  FROM hist, tot
), pr AS (
  SELECT a.c AS ca, b.c AS cb, a.n
  FROM h a JOIN h b
    ON b.cell_id = 4 * {rs}::BIGINT + ((a.cx + 1) % 16) * {xs} + a.cy
  UNION ALL
  SELECT a.c, b.c, a.n
  FROM h a JOIN h b
    ON b.cell_id = 4 * {rs}::BIGINT + a.cx * {xs} + (a.cy + 1)
), edge AS (
  SELECT any_value(n) AS n, 2 * count(*) AS w_sum, 2 * sum(ca * cb) AS num FROM pr
), dn AS (SELECT sum(c * c) AS den FROM h)
SELECT CAST(edge.n AS BIGINT) AS n_cells, CAST(w_sum AS BIGINT) AS w_sum,
       CAST(num AS BIGINT) AS num, CAST(dn.den AS BIGINT) AS den,
       round((CAST(edge.n AS DOUBLE) * CAST(num AS DOUBLE))
             / (CAST(w_sum AS DOUBLE) * CAST(dn.den AS DOUBLE)), 6) AS moran
FROM edge, dn
"""


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based spatial clustering (spatial_stats.dbscan_cluster, the
    ST_ClusterDBSCAN analogue): 400 customer points, eps 400 km, min_pts 3
    — cores, min-id clusters over core-core proximity, borders attached to
    their smallest-id cluster, noise NULL. The oracle brute-forces the
    eps-graph and floods core components with a recursive CTE. The nearest
    pair distance to the 400 km cut is 530 m (sf0.01) / 12.3 km (sf0.001)
    — far beyond cross-engine libm ulp differences, and core status is a
    count over those same safely-decided pairs."""
    from osm2geojson_spark.operators.spatial_stats import dbscan_cluster

    pts = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 400)
        .select(
            F.col("c_custkey").alias("id"),
            _lon("c_custkey").alias("lon"),
            _lat("c_custkey").alias("lat"),
        )
    )
    return dbscan_cluster(pts, 400_000.0, 3, id_col="id", res=6).select(
        "id", "is_core", "cluster_id"
    )


def _dbscan_sql() -> str:
    hav = KNN.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS k, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer WHERE c_custkey < 400
), pairs AS (
  SELECT a.k AS ida, b.k AS idb FROM p a JOIN p b
  ON a.k <> b.k AND {hav} <= 400000.0
), cnt AS (SELECT ida, count(*) AS c FROM pairs GROUP BY ida),
core AS (
  SELECT k FROM p LEFT JOIN cnt ON p.k = cnt.ida
  WHERE coalesce(c, 0) + 1 >= 3
), ce AS (
  SELECT ida, idb FROM pairs
  WHERE ida IN (SELECT k FROM core) AND idb IN (SELECT k FROM core)
), lbl(v, l) AS (
  SELECT k, k FROM core
  UNION
  SELECT ce.idb, lbl.l FROM lbl JOIN ce ON ce.ida = lbl.v
), ml AS (SELECT v, min(l) AS cluster_id FROM lbl GROUP BY v),
bl AS (
  SELECT ida AS v, min(ml.cluster_id) AS cluster_id
  FROM pairs JOIN ml ON pairs.idb = ml.v
  WHERE ida NOT IN (SELECT k FROM core)
  GROUP BY ida
), mem AS (
  SELECT v, cluster_id, TRUE AS is_core FROM ml
  UNION ALL
  SELECT v, cluster_id, FALSE AS is_core FROM bl
)
SELECT p.k AS id, coalesce(mem.is_core, FALSE) AS is_core, mem.cluster_id
FROM p LEFT JOIN mem ON p.k = mem.v
"""


def q_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78 (spatial_stats.emerging_hotspots): space-time-cube trend — the
    drifting trajectory pings binned into a (res-3 cell, 5-day bin) cube
    over January 2024, each cell's count series scored with the exact
    int64 Mann-Kendall S and classified emerging/cooling/stable. Two
    combiner-friendly rollups + JVM array math, no windows; the oracle
    replays the floor-div binning, the zero-filled cube, and the pairwise
    sign sum verbatim."""
    from osm2geojson_spark.operators.spatial_stats import emerging_hotspots

    return emerging_hotspots(
        _traj_pings(spark, sf_dir),
        res=3,
        n_bins=6,
        t0_s=1_704_067_200,  # 2024-01-01 UTC: the events table's month
        bin_s=5 * 86400,
    )


def _emerging_hotspots_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    t0_us = 1_704_067_200 * 1_000_000
    bin_us = 5 * 86400 * 1_000_000
    cell = CEL.cell_id_sql("lon", "lat", 3)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), e AS (
  SELECT {cell} AS cell_id, (epoch_us(ts) - {t0_us}) // {bin_us} AS bin
  FROM pings
), cnt AS (
  SELECT cell_id, bin, count(*) AS c FROM e
  WHERE bin >= 0 AND bin < 6 GROUP BY 1, 2
), grid AS (
  SELECT cell_id, unnest(range(0, 6)) AS bin
  FROM (SELECT DISTINCT cell_id FROM cnt)
), filled AS (
  SELECT g.cell_id, g.bin, coalesce(cnt.c, 0) AS c
  FROM grid g LEFT JOIN cnt ON cnt.cell_id = g.cell_id AND cnt.bin = g.bin
), s AS (
  SELECT a.cell_id,
         sum(CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1 ELSE 0 END)
           AS s_stat
  FROM filled a JOIN filled b ON a.cell_id = b.cell_id AND b.bin > a.bin
  GROUP BY 1
), tot AS (SELECT cell_id, sum(c) AS total FROM cnt GROUP BY 1)
SELECT t.cell_id, CAST(6 AS INTEGER) AS n_bins,
       CAST(t.total AS BIGINT) AS total, CAST(s.s_stat AS BIGINT) AS s_stat,
       CASE WHEN s.s_stat >= 1 THEN 'emerging'
            WHEN s.s_stat <= -1 THEN 'cooling'
            ELSE 'stable' END AS trend
FROM tot t JOIN s ON s.cell_id = t.cell_id
"""


def q_decluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X187 (geostat.decluster_weights): GSLIB cell-declustering weights
    over the customer world points at res 4 — w = n/(c·n_cells) as an
    exact integer rational (Σw = n exactly), one combinable rollup + a
    broadcast join back. The preferential-sampling bias correction that
    precedes any declustered mean/variogram."""
    from osm2geojson_spark.operators.geostat import decluster_weights

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    return decluster_weights(pts, res=4)


def _decluster_sql() -> str:
    from osm2geojson_spark.operators.geostat import decluster_weights_sql

    pts = (
        f"SELECT c_custkey AS pid, {SYN.lon_sql('c_custkey')} AS lon,"
        f" {SYN.lat_sql('c_custkey')} AS lat FROM customer"
    )
    return decluster_weights_sql(pts, res=4)


def q_sd_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X175 (spatial_stats.sd_ellipse): standard deviational ellipse
    (ArcGIS directional distribution) per res-3 cell over the customer
    world points — exact int64 sufficient statistics on 11 m-quantized
    cell-anchored offsets, pinned-order IEEE double assembly for the
    axes, orientation as the exact tan(2θ) pair. One combinable groupBy;
    scan-shaped."""
    from osm2geojson_spark.operators.spatial_stats import sd_ellipse

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    return sd_ellipse(pts, res=3)


def _sd_ellipse_sql() -> str:
    from osm2geojson_spark.operators.spatial_stats import sd_ellipse_sql

    pts = (
        f"SELECT {SYN.lon_sql('c_custkey')} AS lon,"
        f" {SYN.lat_sql('c_custkey')} AS lat FROM customer"
    )
    return sd_ellipse_sql(pts, res=3)


def q_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot detection over the customer point-density
    grid (spatial_stats.getis_ord_gi_star): per occupied cell the
    queen-neighborhood z-score. The scaled-integer core (n*T - S*W and
    both radicands) is exact int64 on both engines; the z-score is two
    sqrts + multiply + divide in a fixed order, replayed verbatim in
    SQL."""
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import getis_ord_gi_star

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    hist = pts.groupBy(
        CEL.cell_id(F.col("lon"), F.col("lat"), 4).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return getis_ord_gi_star(hist, res=4)


def _hotspots_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    xs, rs = 1 << 29, 1 << 58
    offs = ", ".join(f"({dx}, {dy})" for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
WITH hist AS (
  SELECT {cell} AS cell_id, count(*) AS x FROM customer GROUP BY 1
), tot AS (
  SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS q FROM hist
), h AS (
  SELECT cell_id, x, (cell_id % {rs}) // {xs} AS cx, cell_id % {xs} AS cy FROM hist
), probes AS (
  SELECT h.cell_id,
         4 * {rs}::BIGINT + ((h.cx + o.dx + 16) % 16) * {xs} + (h.cy + o.dy) AS nb_id
  FROM h, (VALUES {offs}) o(dx, dy)
), agg AS (
  SELECT p.cell_id, count(*) AS w_i, sum(nb.x) AS t_i
  FROM probes p JOIN h nb ON nb.cell_id = p.nb_id
  GROUP BY p.cell_id
)
SELECT h.cell_id, h.x, CAST(agg.w_i AS BIGINT) AS w_i,
       CAST(tot.n * agg.t_i - tot.s * agg.w_i AS BIGINT) AS num,
       CAST(tot.n * tot.q - tot.s * tot.s AS BIGINT) AS rad_a,
       CAST(tot.n * agg.w_i - agg.w_i * agg.w_i AS BIGINT) AS rad_b,
       CASE WHEN tot.n * tot.q - tot.s * tot.s != 0
             AND tot.n * agg.w_i - agg.w_i * agg.w_i != 0 THEN
         round(CAST(tot.n * agg.t_i - tot.s * agg.w_i AS DOUBLE)
               / (sqrt(CAST(tot.n * tot.q - tot.s * tot.s AS DOUBLE))
                  * sqrt(CAST(tot.n * agg.w_i - agg.w_i * agg.w_i AS DOUBLE)
                         / CAST(tot.n - 1 AS DOUBLE))), 6)
       END AS gi_star
FROM h JOIN agg ON agg.cell_id = h.cell_id, tot
"""


def q_subdivide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Subdivide (geometry.subdivide_polygons): nation boxes clipped to
    their res-3 covering cells — one piece per non-empty (polygon, cell)
    intersection, the join-balance tool that bounds per-row vertex count
    and area. Dyadic cell edges (45 x 22.5 deg) and integer box corners
    make every piece area exact; the oracle enumerates the same grid with
    closed-form box algebra."""
    from osm2geojson_spark.operators.geometry import subdivide_polygons

    src = polygons_to_df(
        spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)]
    )
    return subdivide_polygons(src, res=3).select("poly_id", "cell_id", "piece_area")


_SUBDIVIDE_SQL = f"""
WITH src AS (
  SELECT CAST(n_nationkey AS BIGINT) AS poly_id,
         CAST(-180 + (n_nationkey % 5) * 72.0 AS DOUBLE) AS sx0,
         CAST(-90 + (n_nationkey // 5) * 36.0 AS DOUBLE) AS sy0,
         CAST(-180 + (n_nationkey % 5) * 72.0 + 36 AS DOUBLE) AS sx1,
         CAST(-90 + (n_nationkey // 5) * 36.0 + 18 AS DOUBLE) AS sy1
  FROM nation
), grid AS (
  SELECT cx, cy,
         CAST(-180.0 + cx * 45.0 AS DOUBLE) AS bx0,
         CAST(-90.0 + cy * 22.5 AS DOUBLE) AS by0
  FROM (SELECT unnest(range(0, 8)) AS cx), (SELECT unnest(range(0, 8)) AS cy)
), pieces AS (
  SELECT poly_id, 3 * {1 << 58}::BIGINT + cx * {1 << 29} + cy AS cell_id,
         greatest(0, least(sx1, bx0 + 45.0) - greatest(sx0, bx0))
           * greatest(0, least(sy1, by0 + 22.5) - greatest(sy0, by0)) AS piece_area
  FROM src, grid
)
SELECT poly_id, cell_id, piece_area FROM pieces WHERE piece_area > 0
"""


def q_lisa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Moran's I / LISA cluster-outlier detection over the customer
    density grid (spatial_stats.local_morans_i) — completes the
    autocorrelation trio with global Moran's I and Gi*. Scaled-integer
    num/den exact in any order; quadrant labels from integer signs."""
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import local_morans_i

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    hist = pts.groupBy(
        CEL.cell_id(F.col("lon"), F.col("lat"), 4).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return local_morans_i(hist, res=4)


def _lisa_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    xs, rs = 1 << 29, 1 << 58
    return f"""
WITH hist AS (
  SELECT {cell} AS cell_id, count(*) AS x FROM customer GROUP BY 1
), tot AS (
  SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS q FROM hist
), h AS (
  SELECT cell_id, x, tot.n * x - tot.s AS c, tot.n AS n, tot.s AS s, tot.q AS q,
         (cell_id % {rs}) // {xs} AS cx, cell_id % {xs} AS cy
  FROM hist, tot
), probes AS (
  SELECT h.cell_id,
         4 * {rs}::BIGINT + ((h.cx + o.dx + 16) % 16) * {xs} + (h.cy + o.dy) AS nb_id
  FROM h, (VALUES (1, 0), (-1, 0), (0, 1), (0, -1)) o(dx, dy)
), lag AS (
  SELECT p.cell_id, count(*) AS w_i, sum(nb.c) AS lag
  FROM probes p JOIN h nb ON nb.cell_id = p.nb_id GROUP BY p.cell_id
)
SELECT h.cell_id, h.x, CAST(lag.w_i AS BIGINT) AS w_i,
       CAST(h.c * lag.lag AS BIGINT) AS num,
       CAST(lag.w_i * (h.n * h.q - h.s * h.s) AS BIGINT) AS den,
       CASE WHEN lag.w_i * (h.n * h.q - h.s * h.s) != 0 THEN
         round(CAST(h.c * lag.lag AS DOUBLE)
               / CAST(lag.w_i * (h.n * h.q - h.s * h.s) AS DOUBLE), 6)
       END AS lisa,
       CASE WHEN h.c > 0 AND lag.lag > 0 THEN 'HH'
            WHEN h.c < 0 AND lag.lag < 0 THEN 'LL'
            WHEN h.c > 0 AND lag.lag < 0 THEN 'HL'
            WHEN h.c < 0 AND lag.lag > 0 THEN 'LH'
            ELSE '0' END AS quad
FROM h JOIN lag ON lag.cell_id = h.cell_id
"""


def q_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Focal (3x3 binomial) smoothing over the customer density grid
    (spatial_stats.focal_stats — raster map algebra on the cell lattice).
    Integer weights make wsum/wcnt exact in any order; the oracle replays
    the probe-explode with a VALUES weight table."""
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import focal_stats

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    hist = pts.groupBy(
        CEL.cell_id(F.col("lon"), F.col("lat"), 4).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return focal_stats(hist, res=4)


def _focal_stats_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    xs, rs = 1 << 29, 1 << 58
    offs = ", ".join(
        f"({dx}, {dy}, {(2 - abs(dx)) * (2 - abs(dy))})"
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    )
    return f"""
WITH hist AS (
  SELECT {cell} AS cell_id, count(*) AS x FROM customer GROUP BY 1
), h AS (
  SELECT cell_id, x, (cell_id % {rs}) // {xs} AS cx, cell_id % {xs} AS cy FROM hist
), probes AS (
  SELECT h.cell_id, h.x, o.w,
         4 * {rs}::BIGINT + ((h.cx + o.dx + 16) % 16) * {xs} + (h.cy + o.dy) AS nb_id
  FROM h, (VALUES {offs}) o(dx, dy, w)
)
SELECT p.cell_id, CAST(any_value(p.x) AS BIGINT) AS x,
       CAST(sum(p.w * nb.x) AS BIGINT) AS wsum,
       CAST(sum(p.w) AS BIGINT) AS wcnt
FROM probes p JOIN h nb ON nb.cell_id = p.nb_id
GROUP BY p.cell_id
"""


def q_areal_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (operators/spatial_stats.areal_interpolate):
    re-aggregate a per-nation value onto a different 60-degree zone
    lattice by intersection-area weights — the GIS change-of-support
    estimator. Per-pair output keeps the oracle exact: integer-coordinate
    boxes make every shoelace/intersection area an exact float, and
    weight/contribution are single division/multiplication chains in the
    same order on both engines (no cross-row float sums)."""
    from osm2geojson_spark.operators.spatial_stats import areal_interpolate

    src = polygons_to_df(
        spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)]
    )
    dst_rows = []
    for r in _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 18).collect():
        k = r["p_partkey"]
        x0, y0 = -180.0 + (k % 6) * 60.0, -90.0 + (k // 6) * 60.0
        ring = [[x0, y0], [x0 + 60, y0], [x0 + 60, y0 + 60], [x0, y0 + 60], [x0, y0]]
        dst_rows.append((k, GEO.polygon([ring])))
    dst = polygons_to_df(spark, dst_rows)
    values = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("src_id"),
        (F.col("n_nationkey") * 7 + 3).cast("double").alias("value"),
    )
    return areal_interpolate(src, dst, values, res=3)


_AREAL_SQL = """
WITH src AS (
  SELECT CAST(n_nationkey AS BIGINT) AS s,
         CAST(n_nationkey * 7 + 3 AS DOUBLE) AS v,
         CAST(-180 + (n_nationkey % 5) * 72.0 AS DOUBLE) AS sx0,
         CAST(-90 + (n_nationkey // 5) * 36.0 AS DOUBLE) AS sy0,
         CAST(-180 + (n_nationkey % 5) * 72.0 + 36 AS DOUBLE) AS sx1,
         CAST(-90 + (n_nationkey // 5) * 36.0 + 18 AS DOUBLE) AS sy1
  FROM nation
), dst AS (
  SELECT CAST(p_partkey AS BIGINT) AS d,
         CAST(-180 + (p_partkey % 6) * 60.0 AS DOUBLE) AS dx0,
         CAST(-90 + (p_partkey // 6) * 60.0 AS DOUBLE) AS dy0,
         CAST(-180 + (p_partkey % 6) * 60.0 + 60 AS DOUBLE) AS dx1,
         CAST(-90 + (p_partkey // 6) * 60.0 + 60 AS DOUBLE) AS dy1
  FROM part WHERE p_partkey < 18
), pr AS (
  SELECT d, s, v,
    greatest(0, least(sx1, dx1) - greatest(sx0, dx0))
      * greatest(0, least(sy1, dy1) - greatest(sy0, dy0)) AS inter,
    (sx1 - sx0) * (sy1 - sy0) AS sarea
  FROM src JOIN dst
    ON sx0 <= dx1 AND sx1 >= dx0 AND sy0 <= dy1 AND sy1 >= dy0
)
SELECT d AS dst_id, s AS src_id, inter AS inter_area, sarea AS src_area,
       inter / sarea AS weight, v * (inter / sarea) AS contribution
FROM pr WHERE inter > 0
"""


def q_geohash_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash write-clustering keys (cells.geohash_key — the standard
    public base-32 scheme, pure column arithmetic): per customer point
    the precision-6 geohash plus its precision-3 prefix (the shard key an
    Elasticsearch/Redis-style store would cluster on). The oracle replays
    the identical quantization and bit arithmetic digit for digit;
    correctness against the textbook interval-halving encoder is pinned
    separately in tests/test_layout.py."""
    from osm2geojson_spark.operators.cells import geohash_key

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    gh = geohash_key(F.col("lon"), F.col("lat"), 6)
    return pts.select(
        "c_custkey", gh.alias("gh6"), F.substring(gh, 1, 3).alias("gh3")
    )


def _geohash_layout_sql() -> str:
    from osm2geojson_spark.operators.cells import geohash_key_sql

    gh = geohash_key_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 6)
    return f"""
SELECT c_custkey, {gh} AS gh6, substr({gh}, 1, 3) AS gh3 FROM customer
"""


def q_quadkey_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81 (cells.quadkey_key): quadkey tile-address strings — per customer
    point the 6-digit base-4 quadkey plus the res-3 PARENT's key, which by
    the scheme's defining property is its prefix (prefix scan = spatial
    containment, the lexicographic-store sharding key). Pure column
    arithmetic; the oracle rebuilds every digit with // and %."""
    from osm2geojson_spark.operators.cells import cell_id, quadkey_key

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    return pts.select(
        "c_custkey",
        quadkey_key(cell_id(F.col("lon"), F.col("lat"), 6), 6).alias("qk6"),
        quadkey_key(cell_id(F.col("lon"), F.col("lat"), 3), 3).alias("qk3"),
    )


def _quadkey_layout_sql() -> str:
    from osm2geojson_spark.operators.cells import cell_id_sql, quadkey_key_sql

    q6 = quadkey_key_sql(
        cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 6), 6
    )
    q3 = quadkey_key_sql(
        cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 3), 3
    )
    return f"""
SELECT c_custkey, {q6} AS qk6, {q3} AS qk3 FROM customer
"""


def q_voronoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 (geostat.voronoi_assign): discrete Voronoi partition — every
    occupied res-5 customer cell labeled with its nearest of 12 supplier
    seed cells under the exact int64 equirect metric (x wraps at the
    antimeridian, ties to the smallest seed id). Seeds broadcast; scan ->
    broadcast join -> min-struct rollup; the oracle replays the metric and
    the tie rule with a row_number argmin."""
    from osm2geojson_spark.operators.cells import cell_id
    from osm2geojson_spark.operators.geostat import voronoi_assign

    occ = (
        _t(spark, sf_dir, "customer")
        .select(cell_id(_lon("c_custkey"), _lat("c_custkey"), 5).alias("cell_id"))
        .distinct()
    )
    seeds = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 12).select(
        F.col("s_suppkey").alias("seed_id"),
        cell_id(_lon("s_suppkey"), _lat("s_suppkey"), 5).alias("seed_cell"),
    )
    return voronoi_assign(occ, seeds, res=5)


def _voronoi_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    ccell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 5)
    scell = CEL.cell_id_sql(SYN.lon_sql("s_suppkey"), SYN.lat_sql("s_suppkey"), 5)
    xs, rs, n = 1 << 29, 1 << 58, 1 << 5
    return f"""
WITH occ AS (
  SELECT DISTINCT {ccell} AS cell_id FROM customer
), seeds AS (
  SELECT s_suppkey AS sid, {scell} AS scell FROM supplier WHERE s_suppkey < 12
), sc AS (
  SELECT cell_id, sid,
         4 * least(abs((cell_id % {rs}) // {xs} - (scell % {rs}) // {xs}),
                   {n} - abs((cell_id % {rs}) // {xs} - (scell % {rs}) // {xs}))
           * least(abs((cell_id % {rs}) // {xs} - (scell % {rs}) // {xs}),
                   {n} - abs((cell_id % {rs}) // {xs} - (scell % {rs}) // {xs}))
         + (cell_id % {xs} - scell % {xs}) * (cell_id % {xs} - scell % {xs})
           AS d2
  FROM occ CROSS JOIN seeds
), ranked AS (
  SELECT cell_id, sid, d2,
         row_number() OVER (PARTITION BY cell_id ORDER BY d2, sid) AS rn
  FROM sc
)
SELECT cell_id, CAST(sid AS BIGINT) AS seed_id, CAST(d2 AS BIGINT) AS d2
FROM ranked WHERE rn = 1
"""


_LOC_NF, _LOC_NS = 150, 24  # features x axis-aligned segments


def q_line_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing (operators/geometry.line_locate_points =
    ST_Length + ST_LineInterpolatePoint) over deterministic staircase
    polylines: segment k of feature f runs east (k even) or north (k odd)
    for integer length 1 + ((f*31 + k*17) % 5).

    Why the oracle is EXACT: integer segment lengths make every cumulative
    length an exact integer regardless of summation order; the fraction
    (1 + f % 7)/8 is dyadic, so the target distance t = frac * total and
    the interpolation a + ((t - cum_prev) * delta) / L (delta = 0 or ±L)
    are exact dyadic rationals in BOTH engines — the SQL replays the same
    op order and both pick the FIRST segment with cum >= t."""
    from osm2geojson_spark.operators.geometry import line_locate_points

    nf, ns = _LOC_NF, _LOC_NS
    base = spark.range(nf * ns).select(
        (F.col("id") / ns).cast("long").alias("f"),
        (F.col("id") % ns).alias("k"),
    )
    base = base.withColumn(
        "L", (F.lit(1) + (F.col("f") * 31 + F.col("k") * 17) % 5).cast("long")
    )
    segs = base.groupBy("f").agg(
        F.sort_array(F.collect_list(F.struct("k", "L"))).alias("segs")
    )

    def pack(it):
        import numpy as np

        for pdf in it:
            rows = []
            for f, segs_ in zip(pdf["f"], pdf["segs"]):
                x, y = 0, 0
                coords = [[0.0, 0.0]]
                for s in segs_:
                    if int(s["k"]) % 2 == 0:
                        x += int(s["L"])
                    else:
                        y += int(s["L"])
                    coords.append([float(x), float(y)])
                rows.append((int(f), GEO.linestring(coords)))
            yield pd.DataFrame(rows, columns=["feature_id", "gpb"])

    packed = segs.mapInPandas(pack, schema="feature_id long, gpb binary")
    packed = packed.withColumn(
        "frac", (F.lit(1) + F.col("feature_id") % 7) / F.lit(8.0)
    )
    return line_locate_points(packed).select("feature_id", "length", "px", "py")


_LINE_INTERPOLATE_SQL = f"""
WITH seg AS (
  SELECT (r // {_LOC_NS}) AS f, (r % {_LOC_NS}) AS k,
         1 + (((r // {_LOC_NS}) * 31 + (r % {_LOC_NS}) * 17) % 5) AS L
  FROM range({_LOC_NF} * {_LOC_NS}) t(r)
), acc AS (
  SELECT f, k, L,
    CASE WHEN k % 2 = 0 THEN L ELSE 0 END AS dx,
    CASE WHEN k % 2 = 1 THEN L ELSE 0 END AS dy,
    sum(L) OVER w AS cuml,
    sum(CASE WHEN k % 2 = 0 THEN L ELSE 0 END) OVER w AS cumx,
    sum(CASE WHEN k % 2 = 1 THEN L ELSE 0 END) OVER w AS cumy
  FROM seg WINDOW w AS (PARTITION BY f ORDER BY k ROWS UNBOUNDED PRECEDING)
), tgt AS (
  SELECT f, max(cuml) AS total, max(cuml) * ((1 + f % 7) / 8.0) AS t
  FROM acc GROUP BY f
), hit AS (
  SELECT a.f, a.t, a.total,
         (a.cumx - a.dx) + ((a.t - (a.cuml - a.L)) * a.dx) / a.L AS px,
         (a.cumy - a.dy) + ((a.t - (a.cuml - a.L)) * a.dy) / a.L AS py,
         row_number() OVER (PARTITION BY a.f ORDER BY a.k) AS rn
  FROM (SELECT acc.*, tgt.t, tgt.total FROM acc JOIN tgt USING (f)
        WHERE acc.cuml >= tgt.t) a
)
SELECT f AS feature_id, CAST(total AS DOUBLE) AS length,
       CAST(px AS DOUBLE) AS px, CAST(py AS DOUBLE) AS py
FROM hit WHERE rn = 1
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: heavy-hitter salted cell join. Customer points cell-keyed at a
    coarse resolution (few cells -> guaranteed heavy hitters at the 200-row
    threshold); the salted join must equal the plain equi-join, which is the
    SQL oracle."""
    from osm2geojson_spark.plans.skew import salted_cell_join

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        cells.cell_id(_lon("c_custkey"), _lat("c_custkey"), 2).alias("cell_id"),
    )
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"),
        cells.cell_id(_lon("n_nationkey"), _lat("n_nationkey"), 2).alias("cell_id"),
    )
    out = salted_cell_join(
        cust, nat, cell_col="cell_id", threshold=200, n_salts=8, salt_src="c_custkey"
    )
    return out.select("c_custkey", "n_nationkey", "cell_id")


_SKEW_JOIN_SQL = f"""
WITH c AS (
  SELECT c_custkey,
    {cells.cell_id_sql(SYN.lon_sql('c_custkey'), SYN.lat_sql('c_custkey'), 2)} AS cell_id
  FROM customer
), n AS (
  SELECT n_nationkey,
    {cells.cell_id_sql(SYN.lon_sql('n_nationkey'), SYN.lat_sql('n_nationkey'), 2)} AS cell_id
  FROM nation
)
SELECT c_custkey, n_nationkey, c.cell_id AS cell_id
FROM c JOIN n ON c.cell_id = n.cell_id
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN GRAPH (knn.knn_graph): every one of 200 customer points paired
    with its 3 nearest other customers — the all-pairs building block of
    kNN-graph dedup / densification. Self kNN at k+1, self edge dropped,
    ranks recomputed over the same (dist, id) deterministic order the knn
    queries already pin cross-engine."""
    pts = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.col("c_custkey").alias("id"),
            _lon("c_custkey").alias("lon"),
            _lat("c_custkey").alias("lat"),
        )
    )
    return KNN.knn_graph(pts, k=3, id_col="id", res=6).select(
        "id", "nbr_id", "rank"
    )


def _knn_graph_sql() -> str:
    hav = KNN.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH p AS (
  SELECT c_custkey AS k, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer WHERE c_custkey < 200
), d AS (
  SELECT a.k AS id, b.k AS nbr_id, {hav} AS dist
  FROM p a JOIN p b ON a.k <> b.k
), r AS (
  SELECT id, nbr_id,
         row_number() OVER (PARTITION BY id ORDER BY dist ASC, nbr_id ASC)
           AS rank
  FROM d
)
SELECT id, nbr_id, rank FROM r WHERE rank <= 3
"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3: k-ring kNN — 25 nation query points, 3 nearest customers each."""
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qid"),
        _lon("n_nationkey").alias("lon"),
        _lat("n_nationkey").alias("lat"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("tid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    res = KNN.knn_join(nat, cust, k=3, res=7, qid="qid", tid="tid")
    return res.select("qid", "rank", "tid")


_KNN_SQL = f"""
WITH q AS (
  SELECT n_nationkey AS qid, {SYN.lon_sql('n_nationkey')} AS qlon, {SYN.lat_sql('n_nationkey')} AS qlat
  FROM nation
), t AS (
  SELECT c_custkey AS tid, {SYN.lon_sql('c_custkey')} AS tlon, {SYN.lat_sql('c_custkey')} AS tlat
  FROM customer
), d AS (
  SELECT qid, tid, {KNN.haversine_sql('qlon', 'qlat', 'tlon', 'tlat')} AS dist,
         row_number() OVER (PARTITION BY qid ORDER BY {KNN.haversine_sql('qlon', 'qlat', 'tlon', 'tlat')} ASC, tid ASC) AS rank
  FROM q CROSS JOIN t
)
SELECT qid, rank, tid FROM d WHERE rank <= 3
"""


def q_knn_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 on the spherical cube-face grid (grid="sphere"): the ring
    guarantee is latitude-independent, so polar queries resolve via ring
    rounds. The oracle is the same brute-force SQL as the flat-grid kNN —
    the operator's contract is exact-kNN equality regardless of grid."""
    nat = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("qid"),
        _lon("n_nationkey").alias("lon"),
        _lat("n_nationkey").alias("lat"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("tid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    res = KNN.knn_join(nat, cust, k=3, res=7, qid="qid", tid="tid", grid="sphere")
    return res.select("qid", "rank", "tid")


def q_tile_vector_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: raster-tile <-> vector join. Image tiles derived from part rows
    (phash encodes the part's deterministic point), footprints sized w x h
    at 0.01 deg/px, joined against nation rectangles."""
    part = _t(spark, sf_dir, "part")
    lon, lat = _lon("p_partkey"), _lat("p_partkey")
    w = (F.lit(16) * (F.lit(1) + F.col("p_partkey") % 3)).cast("int")
    imgs = part.select(
        F.format_string("img%012d", F.col("p_partkey")).alias("image_id"),
        w.alias("w"),
        w.alias("h"),
        SYN.phash_encode(lon, lat).alias("phash"),
    )
    fp = tile_footprints(imgs, deg_per_px=0.01)
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    return raster_vector_join(fp, polys, res=4)


_TILE_JOIN_SQL = f"""
WITH img AS (
  SELECT printf('img%012d', p_partkey) AS image_id,
         CAST(16 * (1 + p_partkey % 3) AS BIGINT) AS w,
         {SYN.phash_encode_sql(SYN.lon_sql('p_partkey'), SYN.lat_sql('p_partkey'))} AS phash
  FROM part
), fp AS (
  SELECT image_id,
    {SYN.phash_lon_sql('phash')} - w * 0.005 AS fx0,
    {SYN.phash_lat_sql('phash')} - w * 0.005 AS fy0,
    {SYN.phash_lon_sql('phash')} + w * 0.005 AS fx1,
    {SYN.phash_lat_sql('phash')} + w * 0.005 AS fy1
  FROM img
), boxes AS ({_NATION_BOX_SQL})
SELECT DISTINCT image_id, poly_id
FROM fp JOIN boxes
  ON fx0 <= x1 AND fx1 >= x0 AND fy0 <= y1 AND fy1 >= y0
"""


def q_tile_vector_join_sphere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 on the spherical cube-face grid: footprints explode through the
    Arrow-batched sphere coverer (single-face vectorized fast path for tiny
    tiles, hierarchical descent for polar/face-straddling ones). Same bbox
    oracle as the flat-grid join."""
    part = _t(spark, sf_dir, "part")
    lon, lat = _lon("p_partkey"), _lat("p_partkey")
    w = (F.lit(16) * (F.lit(1) + F.col("p_partkey") % 3)).cast("int")
    imgs = part.select(
        F.format_string("img%012d", F.col("p_partkey")).alias("image_id"),
        w.alias("w"),
        w.alias("h"),
        SYN.phash_encode(lon, lat).alias("phash"),
    )
    fp = tile_footprints(imgs, deg_per_px=0.01)
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    return raster_vector_join(fp, polys, res=4, grid="sphere")


# --------------------------------------------------------------------------
# training-data ops: dedup / similarity / text (documents, embeddings)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.exact_dedup(_t(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = f"""
SELECT {TXT.fingerprint_sql('text')} AS fingerprint,
       min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""


def _docs_with_mutants(spark: SparkSession, sf_dir: str, limit: int) -> DataFrame:
    """Base docs plus a planted 80%-prefix near-duplicate of each (id+100000)
    — the dedup operators must recover exactly these pairs. The mutation is
    closed-form string arithmetic, so the oracle reproduces it byte-for-byte
    (integer division via ``div``/``//`` on both engines)."""
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < limit)
        .select("doc_id", "text")
    )
    mut = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, (length(text) * 4) div 5)").alias("text"),
    )
    return base.unionByName(mut)


def _docs_mutant_cte(limit: int) -> str:
    return f"""
  SELECT doc_id, text FROM documents WHERE doc_id < {limit}
  UNION ALL
  SELECT doc_id + 100000, substr(text, 1, (length(text) * 4) // 5)
  FROM documents WHERE doc_id < {limit}
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.ngram_jaccard_pairs(_docs_with_mutants(spark, sf_dir, 60), tau=0.5)


def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination signal (Lee et al. 2022, arXiv:2107.06499):
    per document, the fraction of 5-token window positions whose window
    occurs in >= 2 distinct docs.  The planted 80%-prefix mutants make each
    base/mutant pair share its prefix windows, so dup_frac is high exactly
    on the planted rows.  Oracle rebuilds the position-indexed windows with
    list_slice + the same 60-bit md5 window hash."""
    return DD.repeated_ngram_stats(_docs_with_mutants(spark, sf_dir, 200), n=5, min_df=2)


def _repeated_ngrams_sql() -> str:
    win = TXT.md5_long_sql("array_to_string(list_slice(t, p + 1, p + 5), ' ')")
    return f"""
WITH docs AS ({_docs_mutant_cte(200)}),
toks AS (SELECT doc_id, {H.tokens_sql('text')} AS t FROM docs),
wins AS (
  SELECT doc_id, p, {win} AS wh
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 4, 0))) AS p FROM toks)
), rep AS (
  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id,
       count(*) AS n_windows,
       CAST(sum(CASE WHEN r.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_repeated,
       round(CAST(sum(CASE WHEN r.wh IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*), 6) AS dup_frac
FROM wins w LEFT JOIN rep r ON w.wh = r.wh
GROUP BY w.doc_id
"""


def q_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrub accounting (dedup.scrub_repeated_spans — the
    REMOVAL step of Lee et al. span dedup, where repeated_ngrams is the
    detection step): per doc, the union size of all 5-token spans whose
    window occurs in >= 2 distinct docs. The planted 80%-prefix mutants
    give every base/mutant pair a long shared prefix, so removed_tokens
    tracks the prefix length exactly; the oracle replays the identical
    least(n, pos - lag(pos)) running-union algebra in SQL."""
    return DD.scrub_repeated_spans(
        _docs_with_mutants(spark, sf_dir, 200), n=5, min_df=2
    )


def q_scrub_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring scrub APPLIED (dedup.scrub_spans_text): the
    scrubbed document text itself — tokens covered by any >=2-doc 5-token
    span dropped, survivors rejoined with single spaces. Companion to
    `scrub_spans` (the accounting view of the same removal); the oracle
    rebuilds the identical token-index filter with nested list lambdas."""
    return DD.scrub_spans_text(
        _docs_with_mutants(spark, sf_dir, 200), n=5, min_df=2
    )


def _scrub_apply_sql() -> str:
    win = TXT.md5_long_sql("array_to_string(list_slice(t, p + 1, p + 5), ' ')")
    return f"""
WITH docs AS ({_docs_mutant_cte(200)}),
toks AS (SELECT doc_id, {H.tokens_sql('text')} AS t FROM docs),
wins AS (
  SELECT doc_id, p, {win} AS wh
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 4, 0))) AS p FROM toks)
), rep AS (
  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT w.doc_id, w.p FROM wins w JOIN rep r ON w.wh = r.wh
), hp AS (
  SELECT doc_id, list(p ORDER BY p) AS ps FROM hits GROUP BY doc_id
)
SELECT t.doc_id,
       -- DuckDB array_to_string([]) is NULL; Spark concat_ws is '' — align
       coalesce(array_to_string(
         list_transform(
           list_filter(range(0, len(t.t)),
             i -> len(list_filter(coalesce(h.ps, []),
                                  p -> p <= i AND i < p + 5)) = 0),
           i -> t.t[i + 1]),
         ' '), '') AS scrubbed_text
FROM toks t LEFT JOIN hp h USING (doc_id)
"""


def _scrub_spans_sql() -> str:
    win = TXT.md5_long_sql("array_to_string(list_slice(t, p + 1, p + 5), ' ')")
    return f"""
WITH docs AS ({_docs_mutant_cte(200)}),
toks AS (SELECT doc_id, {H.tokens_sql('text')} AS t FROM docs),
wins AS (
  SELECT doc_id, p, {win} AS wh
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 4, 0))) AS p FROM toks)
), rep AS (
  SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= 2
), hits AS (
  SELECT w.doc_id, w.p FROM wins w JOIN rep r ON w.wh = r.wh
), inc AS (
  SELECT doc_id,
         coalesce(least(5, p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)), 5) AS inc
  FROM hits
), rem AS (
  SELECT doc_id, CAST(sum(inc) AS BIGINT) AS removed_tokens FROM inc GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
       coalesce(r.removed_tokens, 0) AS removed_tokens,
       CAST(len(t.t) AS BIGINT) - coalesce(r.removed_tokens, 0) AS kept_tokens
FROM toks t LEFT JOIN rem r USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py::decontaminate): the
    synthetic "benchmark" is the middle 50% character slice of every 7th
    training doc (closed-form integer arithmetic, so the oracle rebuilds it
    byte-for-byte), planting guaranteed 8-token-window overlap on exactly
    the sliced source docs plus any true cross-doc duplicates.  Benchmark
    windows broadcast; one id-keyed rollup shuffle on the train side."""
    train = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )
    bench = train.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.expr(
            "substring(text, length(text) div 4 + 1, length(text) div 2)"
        ).alias("text"),
    )
    return DD.decontaminate(train, bench, n=8, min_hits=1)


def _decontaminate_sql() -> str:
    win = TXT.md5_long_sql("array_to_string(list_slice(t, p + 1, p + 8), ' ')")
    return f"""
WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
bench AS (
  SELECT substr(text, length(text) // 4 + 1, length(text) // 2) AS text
  FROM train WHERE doc_id % 7 = 0
),
btoks AS (SELECT {H.tokens_sql('text')} AS t FROM bench),
bwins AS (
  SELECT DISTINCT {win} AS wh
  FROM (SELECT t, unnest(range(0, greatest(len(t) - 7, 0))) AS p FROM btoks)
),
ttoks AS (SELECT doc_id, {H.tokens_sql('text')} AS t FROM train),
wins AS (
  SELECT doc_id, {win} AS wh
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 7, 0))) AS p FROM ttoks)
)
SELECT t.doc_id,
       count(w.wh) AS n_windows,
       CAST(sum(CASE WHEN b.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(CASE WHEN b.wh IS NULL THEN 0 ELSE 1 END) AS BIGINT) >= 1
         AS contaminated
FROM train t
LEFT JOIN wins w ON t.doc_id = w.doc_id
LEFT JOIN bwins b ON w.wh = b.wh
GROUP BY t.doc_id
"""


_BM25_TERMS = ["spark", "window", "merge"]


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 (operators/retrieval.py::bm25_topk): fixed-query
    corpus scoring with per-term tf as codegen array filters — no inverted
    index, no explode, one 1-row stats broadcast, TakeOrderedAndProject
    top-k.  The oracle twin folds the identical float64 constants."""
    from osm2geojson_spark.operators import retrieval as RET

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return RET.bm25_topk(docs, _BM25_TERMS, k=10)


def _bm25_sql() -> str:
    from osm2geojson_spark.operators.retrieval import bm25_topk_sql

    return bm25_topk_sql("documents", H.tokens_sql("text"), _BM25_TERMS, k=10)


def _jaccard_sql(docs_select: str, tau: float) -> str:
    return f"""
WITH docs AS ({docs_select}),
ex AS (
  SELECT doc_id, unnest({H.shingles_sql('text')}) AS sh FROM docs
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {tau}
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return DD.minhash_lsh_pairs(_docs_with_mutants(spark, sf_dir, 60), tau=0.5)


def _minhash_lsh_sql(docs_select: str, tau: float) -> str:
    bands = ", ".join(H.band_hash_sql())
    return f"""
WITH docs AS ({docs_select}),
sig AS ({H.minhash_signature_sql('docs', 'doc_id', 'text')}),
banded AS (SELECT doc_id, {bands} FROM sig),
melted AS (
  {' UNION ALL '.join(f"SELECT doc_id, {b} AS band_idx, band{b} AS band_key FROM banded" for b in range(H.N_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM melted a JOIN melted b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
), jac AS ({_jaccard_sql(docs_select, 0.0)})
SELECT c.id_a, c.id_b, j.jaccard
FROM cand c JOIN jac j ON j.id_a = c.id_a AND j.id_b = c.id_b
WHERE j.jaccard >= {tau}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return DD.simhash_pairs(docs, max_hamming=3)


def _simhash_sql(doc_filter: str, max_hamming: int) -> str:
    # the 4-block pigeonhole guarantees completeness for hamming <= 3, so the
    # oracle can simply test all pairs
    return f"""
WITH docs AS (SELECT doc_id, text FROM documents WHERE {doc_filter}),
sh AS ({H.simhash_sql('docs', 'doc_id', 'text')})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.cosine_topk_bruteforce(queries, emb, k=5)
    return res.select("qid", "rank", "vec_id")


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X184 (similarity.silhouette_scores): silhouette clustering
    quality of the labeled embedding sample (vec_id < 150) — quantized
    exact pairwise squared-L2 sums, pinned IEEE mean/ratio assembly,
    deterministic (mean, label) min-by. Quadratic by definition, so it
    runs on a sample; within the sample one broadcast self-join + a
    combinable rollup."""
    from osm2geojson_spark.operators.similarity import silhouette_scores

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150).select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    return silhouette_scores(emb)


def _silhouette_sql() -> str:
    from osm2geojson_spark.operators.similarity import silhouette_scores_sql

    return silhouette_scores_sql(
        "SELECT vec_id, label, embedding::DOUBLE[] AS vec FROM embeddings"
        " WHERE vec_id < 150",
        dim=64,
    )


def q_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X180 (retrieval.mmr_rerank): maximal marginal relevance
    re-ranking — the diversity-aware post-ANN selection. Queries are
    vec_id < 3, candidates the vec_id % 3 == qid slice of vec_id in
    [3, 120); relevance and redundancy are quantized integer dots
    (floor(a·b·1e6 + 0.5) per term), so the 5-step greedy trace is
    engine-exact and the twin unrolls it as chained CTEs. Per-query
    Arrow-batch greedy; nothing global shuffles."""
    from osm2geojson_spark.operators.retrieval import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
    )
    c = emb.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 120)).select(
        (F.col("vec_id") % 3).alias("qid"),
        F.col("vec_id").alias("doc_id"),
        F.col("v").alias("vec"),
    )
    return mmr_rerank(q, c, k=5)


def _mmr_sql() -> str:
    from osm2geojson_spark.operators.retrieval import mmr_rerank_sql

    return mmr_rerank_sql(
        "SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings"
        " WHERE vec_id < 3",
        "SELECT vec_id % 3 AS qid, vec_id AS doc_id,"
        " embedding::DOUBLE[] AS v FROM embeddings"
        " WHERE vec_id >= 3 AND vec_id < 120",
        k=5,
        dim=64,
    )


_ANN_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
d AS (
  SELECT qid, vec_id,
    list_dot_product(qv, v) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
  FROM q CROSS JOIN e
), r AS (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM d
)
SELECT qid, rank, vec_id FROM r WHERE rank <= 5
"""


def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.cosine_topk_lsh(queries, emb, k=5)
    return res.select("qid", "rank", "vec_id")


_EMB_DIM = 64  # embeddings.parquet vector length (all SFs)


def _rh_keys_select(n_bands: int) -> str:
    """k0..k{n-1} column exprs mirroring similarity.rh_band_keys at dim 64."""
    return ", ".join(
        f"{SIM.rh_band_key_sql('v', b, _EMB_DIM)} AS k{b}" for b in range(n_bands)
    )


def _rh_melt(src: str, n_bands: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_idx, k{b} AS key FROM {src}" for b in range(n_bands)
    )


def _ann_lsh_sql() -> str:
    nb = SIM.ANN_BANDS
    probe_rows = " UNION ALL ".join(
        f"SELECT qid, {b} AS band_idx, unnest([k{b}, "
        + ", ".join(f"xor(k{b}, {1 << i})" for i in range(SIM.RH_BITS))
        + "]) AS key FROM q"
        for b in range(nb)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ek AS (SELECT vec_id, v, {_rh_keys_select(nb)} FROM e),
ce AS ({_rh_melt('ek', nb)}),
q AS (SELECT vec_id AS qid, {', '.join(f'k{b}' for b in range(nb))} FROM ek WHERE vec_id < 3),
qp AS ({probe_rows}),
cand AS (
  SELECT DISTINCT qp.qid, ce.vec_id
  FROM qp JOIN ce ON ce.band_idx = qp.band_idx AND ce.key = qp.key
), d AS (
  SELECT c.qid, c.vec_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.vec_id
), r AS (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM d
)
SELECT qid, rank, vec_id FROM r WHERE rank <= 5
"""


def q_ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (operators/similarity.cosine_topk_ivf): corpus bucketed by
    nearest seeded centroid (JVM argmax over literal codebook), queries
    probe their IVF_PROBE best cells, exact cosine inside candidates. The
    oracle twin inlines the identical codebook: dot products fold
    sequentially on both engines, so cells match bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.cosine_topk_ivf(queries, emb, k=5, dim=_EMB_DIM)
    return res.select("qid", "rank", "vec_id")


def _ann_ivf_sql() -> str:
    import numpy as np

    cents = SIM.ivf_centroid_matrix(_EMB_DIM)
    norms = np.sqrt((cents**2).sum(axis=0))
    nc = cents.shape[1]
    scores = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in cents[:, c])
        + f"]) / {float(norms[c])!r}"
        for c in range(nc)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ek AS (SELECT vec_id, v, [{scores}] AS sc FROM e),
cell AS (SELECT vec_id, v, list_position(sc, list_max(sc)) - 1 AS cell FROM ek),
q AS (SELECT vec_id AS qid, sc AS qsc FROM ek WHERE vec_id < 3),
qs AS (
  SELECT qid, CAST(c AS INTEGER) AS c,
         row_number() OVER (PARTITION BY qid ORDER BY qsc[CAST(c AS INTEGER) + 1] DESC, c ASC) AS pr
  FROM q, unnest(range({nc})) AS t(c)
),
qp AS (SELECT qid, c AS cell FROM qs WHERE pr <= {SIM.IVF_PROBE}),
cand AS (
  SELECT DISTINCT qp.qid, cell.vec_id
  FROM qp JOIN cell ON cell.cell = qp.cell
), d AS (
  SELECT c.qid, c.vec_id,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.vec_id
), r AS (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
  FROM d
)
SELECT qid, rank, vec_id FROM r WHERE rank <= 5
"""


def q_embedding_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset sampling: assign every embedding to its IVF
    cell (JVM argmax over the literal codebook — the proven ann_cosine_ivf
    twin), then keep the 5 deterministic hash-rank survivors per cell
    (cap_per_group, the proven domain_cap twin). The diversity-preserving
    subsample a training pipeline runs before expensive labeling: uniform
    sampling keeps dense clusters dense; per-cell capping flattens them.
    One shuffle (the per-cell window)."""
    from osm2geojson_spark.operators import sampling as SMP

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    cells = emb.select(
        "vec_id", SIM.ivf_cell_col(F.col("embedding"), _EMB_DIM).cast("int").alias("cell")
    )
    return SMP.cap_per_group(cells, "cell", k=5, key_col="vec_id").select("vec_id", "cell")


def _embedding_coreset_sql() -> str:
    import numpy as np

    from osm2geojson_spark.operators import sampling as SMP

    cents = SIM.ivf_centroid_matrix(_EMB_DIM)
    norms = np.sqrt((cents**2).sum(axis=0))
    scores = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in cents[:, c])
        + f"]) / {float(norms[c])!r}"
        for c in range(cents.shape[1])
    )
    cell_src = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
ek AS (SELECT vec_id, [{scores}] AS sc FROM e)
SELECT vec_id, CAST(list_position(sc, list_max(sc)) - 1 AS INTEGER) AS cell FROM ek
"""
    return SMP.cap_per_group_sql(cell_src, "cell", 5, "vec_id", "vec_id, cell")


def q_ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC scan (similarity.pq_adc_topk): the corpus
    collapses to m=4 4-bit codes per vector (a 128x compression of a
    float32 dim-64 embedding), 3 broadcast queries rank the whole corpus
    by LUT lookups + adds — all JVM. The oracle inlines the identical
    rational codebook and computes the same reduced scores
    (centdot - 2*dot) in the same operation order, so codes, LUT values
    and the ADC sums are bit-identical cross-engine."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.pq_adc_topk(queries, emb, k=5, dim=_EMB_DIM)
    return res.select("qid", "rank", "vec_id")


def q_ann_pq_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ query split into its production shape (round-3 verdict ask
    #4): codes are written at INGEST (similarity.pq_codes_col over the
    corpus — here materialized inline because the synthetic tables carry
    raw embeddings), and the registered operator under test is
    ``pq_adc_scan`` — the steady-state LUT scan over precomputed codes.
    Same deterministic codebook, same results, same oracle as
    ann_cosine_pq; bench.py times the scan with the encode hoisted out."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    codes = emb.select(
        "vec_id", SIM.pq_codes_col(F.col("embedding"), _EMB_DIM).alias("pq_codes")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.pq_adc_scan(queries, codes, k=5, dim=_EMB_DIM)
    return res.select("qid", "rank", "vec_id")


def _ann_pq_sql() -> str:
    import numpy as np

    cb = SIM.pq_codebook(_EMB_DIM)
    m, kc, dsub = cb.shape
    dlists = []
    for mi in range(m):
        lo, hi = mi * dsub + 1, (mi + 1) * dsub
        terms = []
        for ci in range(kc):
            cent = cb[mi, ci]
            centdot = float(np.dot(cent, cent))
            lits = ", ".join(repr(float(x)) for x in cent)
            terms.append(
                f"{centdot!r} - 2.0 * list_dot_product(v[{lo}:{hi}], [{lits}])"
            )
        dlists.append(f"[{', '.join(terms)}] AS d{mi}")
    code_cols = ", ".join(
        f"list_position(d{mi}, list_aggregate(d{mi}, 'min')) - 1 AS c{mi}"
        for mi in range(m)
    )
    adist = " + ".join(f"q.d{mi}[codes.c{mi} + 1]" for mi in range(m))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, {', '.join(dlists)} FROM e),
codes AS (SELECT vec_id, {code_cols} FROM sc),
q AS (SELECT vec_id AS qid, {', '.join(f'd{mi}' for mi in range(m))} FROM sc WHERE vec_id < 3),
a AS (
  SELECT q.qid, codes.vec_id, {adist} AS adist
  FROM q CROSS JOIN codes
), r AS (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rank
  FROM a
)
SELECT qid, rank, vec_id FROM r WHERE rank <= 5
"""


def q_ann_cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x PQ composed (similarity.cosine_topk_ivfpq): IVF cells route
    the 3 queries to their probe cells, PQ ADC ranks inside the candidate
    set — corpus state at query time is (cell, 2-byte codes) only. The
    oracle composes the two proven twins: identical centroid scores pick
    the cells, identical reduced PQ scores rank."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.cosine_topk_ivfpq(queries, emb, k=5, dim=_EMB_DIM)
    return res.select("qid", "rank", "vec_id")


def _ann_ivfpq_sql() -> str:
    import numpy as np

    cents = SIM.ivf_centroid_matrix(_EMB_DIM)
    norms = np.sqrt((cents**2).sum(axis=0))
    nc = cents.shape[1]
    cell_scores = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in cents[:, c])
        + f"]) / {float(norms[c])!r}"
        for c in range(nc)
    )
    cb = SIM.pq_codebook(_EMB_DIM)
    m, kc, dsub = cb.shape
    dlists = []
    for mi in range(m):
        lo, hi = mi * dsub + 1, (mi + 1) * dsub
        terms = []
        for ci in range(kc):
            cent = cb[mi, ci]
            centdot = float(np.dot(cent, cent))
            lits = ", ".join(repr(float(x)) for x in cent)
            terms.append(
                f"{centdot!r} - 2.0 * list_dot_product(v[{lo}:{hi}], [{lits}])"
            )
        dlists.append(f"[{', '.join(terms)}] AS d{mi}")
    code_cols = ", ".join(
        f"list_position(d{mi}, list_aggregate(d{mi}, 'min')) - 1 AS c{mi}"
        for mi in range(m)
    )
    adist = " + ".join(f"q.d{mi}[t.c{mi} + 1]" for mi in range(m))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, v, [{cell_scores}] AS csc, {', '.join(dlists)} FROM e),
t AS (SELECT vec_id, list_position(csc, list_max(csc)) - 1 AS cell, {code_cols} FROM sc),
q0 AS (SELECT vec_id AS qid, csc AS qcsc, {', '.join(f'd{mi}' for mi in range(m))} FROM sc WHERE vec_id < 3),
qs AS (
  SELECT qid, CAST(c AS INTEGER) AS c,
         row_number() OVER (PARTITION BY qid ORDER BY qcsc[CAST(c AS INTEGER) + 1] DESC, c ASC) AS pr
  FROM q0, unnest(range({nc})) AS g(c)
),
q AS (SELECT q0.qid, qs.c AS cell, {', '.join(f'q0.d{mi}' for mi in range(m))}
      FROM q0 JOIN qs ON qs.qid = q0.qid AND qs.pr <= {SIM.IVF_PROBE}),
a AS (
  SELECT q.qid, t.vec_id, {adist} AS adist
  FROM q JOIN t ON t.cell = q.cell
), r AS (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rank
  FROM a
)
SELECT qid, rank, vec_id FROM r WHERE rank <= 5
"""


def q_ann_cosine_ivfpq_res(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF x RESIDUAL-PQ (similarity.cosine_topk_ivfpq_residual): vectors
    quantize their residual against their IVF cell centroid; queries build
    a LUT per probed cell. The residual algebra folds into per-(cell,
    subspace, centroid) float64 constants (pq_residual_consts), so the
    oracle inlines those exact literals and the same dot products — scores
    stay bit-identical cross-engine."""
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    res = SIM.cosine_topk_ivfpq_residual(queries, emb, k=5, dim=_EMB_DIM)
    return res.select("qid", "rank", "vec_id")


def _ann_ivfpq_res_sql() -> str:
    import numpy as np

    cents = SIM.ivf_centroid_matrix(_EMB_DIM)
    norms = np.sqrt((cents**2).sum(axis=0))
    nc = cents.shape[1]
    cell_scores = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in cents[:, c])
        + f"]) / {float(norms[c])!r}"
        for c in range(nc)
    )
    cb = SIM.pq_codebook(_EMB_DIM)
    consts = SIM.pq_residual_consts(cents, cb)
    m, kc, dsub = cb.shape

    def dlists(cell_expr: str) -> list[str]:
        out = []
        for mi in range(m):
            lo, hi = mi * dsub + 1, (mi + 1) * dsub
            terms = []
            for ci in range(kc):
                clist = ", ".join(repr(float(x)) for x in consts[:, mi, ci])
                lits = ", ".join(repr(float(x)) for x in cb[mi, ci])
                terms.append(
                    f"[{clist}][{cell_expr} + 1]"
                    f" - 2.0 * list_dot_product(v[{lo}:{hi}], [{lits}])"
                )
            out.append(f"[{', '.join(terms)}] AS d{mi}")
        return out

    code_cols = ", ".join(
        f"list_position(d{mi}, list_aggregate(d{mi}, 'min')) - 1 AS c{mi}"
        for mi in range(m)
    )
    adist = " + ".join(f"q.d{mi}[t.c{mi} + 1]" for mi in range(m))
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT vec_id, v, [{cell_scores}] AS csc FROM e),
cellt AS (SELECT vec_id, v, list_position(csc, list_max(csc)) - 1 AS cell, csc FROM sc),
td AS (SELECT vec_id, cell, {', '.join(dlists('cell'))} FROM cellt),
t AS (SELECT vec_id, cell, {code_cols} FROM td),
q0 AS (SELECT vec_id AS qid, v, csc AS qcsc FROM cellt WHERE vec_id < 3),
qs AS (
  SELECT qid, CAST(c AS INTEGER) AS c,
         row_number() OVER (PARTITION BY qid ORDER BY qcsc[CAST(c AS INTEGER) + 1] DESC, c ASC) AS pr
  FROM q0, unnest(range({nc})) AS g(c)
),
q AS (
  SELECT q0.qid, qs.c AS cell, {', '.join(dlists('qs.c'))}
  FROM q0 JOIN qs ON qs.qid = q0.qid AND qs.pr <= {SIM.IVF_PROBE}
),
a AS (
  SELECT q.qid, t.vec_id, {adist} AS adist
  FROM q JOIN t ON t.cell = q.cell
), r AS (
  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rank
  FROM a
)
SELECT qid, rank, vec_id FROM r WHERE rank <= 5
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gate stratified sampling (operators/sampling.py):
    keep 60% of 'en' docs, 15% of 'other', gated by a congruential hash of
    doc_id — reproducible across engines, retries and resumes (no RNG
    state), a pure scan+filter at 100 TB. The oracle replays the identical
    integer gate in DuckDB; per-stratum counts and id-sums must match
    exactly."""
    from osm2geojson_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # stage the stopword stack once (text_features' CollapseProject trick):
    # lang referenced by the gate CASE and the rollup key would otherwise
    # re-inline ~12 splits/regexes per reference (the 6x slowdown the
    # round-3 bench spread exposed)
    staged = (
        docs.select("doc_id", F.col("text").alias("_t"))
        .withColumn("_padded", TXT.padded_norm_col(F.col("_t")))
        .select(
            "doc_id",
            TXT.ws_token_count(F.col("_t")).alias("_ntok"),
            TXT.stopword_hits_from_padded(F.col("_padded")).alias("_stop"),
        )
    )
    stop, ntok = F.col("_stop").cast("double"), F.col("_ntok").cast("double")
    lang = F.when(
        (stop >= 2) | (stop / F.greatest(ntok, F.lit(1.0)) >= 0.05), F.lit("en")
    ).otherwise(F.lit("other"))
    labeled = staged.select("doc_id", lang.alias("lang"))
    samp = SMP.stratified_sample(
        labeled, "lang", {"en": 0.6, "other": 0.15}, "doc_id", barrier=True
    )
    return (
        samp.groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("lang")
    )


def _stratified_sample_sql() -> str:
    from osm2geojson_spark.operators import sampling as SMP

    gate = SMP.stratified_sample_sql(
        "lang", {"en": 0.6, "other": 0.15}, "doc_id"
    )
    return f"""
WITH d AS (
  SELECT doc_id, {TXT.lang_id_sql('text')} AS lang FROM documents
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM d WHERE {gate}
GROUP BY lang ORDER BY lang
"""


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed character-window document chunking with overlap (200/40 —
    the RAG / context-window prep stage): one explode per row, zero
    shuffles until the verification rollup. Compared by per-chunk-index
    doc counts, total chunk bytes, and an order-insensitive bit_xor of
    the 60-bit chunk-text hash — so the oracle pins the exact substring
    BYTES of every chunk, not just the window arithmetic."""
    from osm2geojson_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ch = SMP.chunk_documents(docs, chunk_chars=200, overlap=40)
    return (
        ch.withColumn("h", TXT.md5_long(F.col("chunk_text")))
        .groupBy("chunk_idx")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("chunk_len").alias("total_chars"),
            F.expr("bit_xor(h)").alias("xor_hash"),
        )
        .orderBy("chunk_idx")
    )


def _doc_chunking_sql() -> str:
    from osm2geojson_spark.operators import sampling as SMP

    inner = SMP.chunk_documents_sql("documents", 200, 40)
    return f"""
WITH ch AS ({inner})
SELECT chunk_idx, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(chunk_len) AS BIGINT) AS total_chars,
       bit_xor({TXT.md5_long_sql('chunk_text')}) AS xor_hash
FROM ch GROUP BY chunk_idx ORDER BY chunk_idx
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (C4/RefinedWeb-style): at most 5 docs per
    synthetic domain (doc_id % 37), survivors picked by deterministic
    hash rank with a total tiebreak — the survivor SET is unique, so the
    oracle compares full rows."""
    from osm2geojson_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 37).alias("domain")
    )
    return (
        SMP.cap_per_group(docs, "domain", 5, "doc_id")
        .select("domain", "doc_id")
        .orderBy("domain", "doc_id")
    )


def _domain_cap_sql() -> str:
    from osm2geojson_spark.operators import sampling as SMP

    src = "SELECT doc_id, doc_id % 37 AS domain FROM documents"
    return (
        SMP.cap_per_group_sql(src, "domain", 5, "doc_id", "domain, doc_id")
        + " ORDER BY domain, doc_id"
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing (pretraining sample packing):
    8 shards (doc_id % 8) walked in doc_id order with a 512-token budget
    over the BPE-ish token count. Inherently sequential per shard — Spark
    runs it as one Arrow pass per shard; the oracle replays the identical
    walk with a recursive CTE (one step per in-shard position). Bin
    membership is pinned exactly: per (shard, bin) doc counts, token
    totals, id range AND bit_xor of doc_id."""
    from osm2geojson_spark.operators import sampling as SMP

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        TXT.bpe_token_count(F.col("text")).alias("tokens"),
    )
    packed = SMP.pack_sequences(docs, budget=512)
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.expr("bit_xor(doc_id)").alias("xor_doc"),
        )
        .orderBy("shard", "bin")
    )


def _pack_sequences_sql() -> str:
    from osm2geojson_spark.operators import sampling as SMP

    src = (
        "SELECT doc_id, doc_id % 8 AS shard, "
        f"CAST({TXT.bpe_token_count_sql('text')} AS BIGINT) AS tokens "
        "FROM documents"
    )
    inner = SMP.pack_sequences_sql(src, budget=512)
    return f"""
WITH p AS ({inner})
SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       bit_xor(doc_id) AS xor_doc
FROM p GROUP BY shard, bin ORDER BY shard, bin
"""


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged single-pass plan: the normalized text / token count / stopword
    hits are each evaluated once per row (see TXT.text_features)."""
    return TXT.text_features(_t(spark, sf_dir, "documents"))


_TEXT_SQL = f"""
SELECT doc_id,
  {TXT.ws_token_count_sql('text')} AS ws_tokens,
  {TXT.bpe_token_count_sql('text')} AS bpe_tokens,
  {TXT.quality_score_sql('text')} AS quality,
  {TXT.lang_id_sql('text')} AS lang_pred,
  {TXT.fingerprint_sql('text')} AS fingerprint
FROM documents
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative min-label propagation (connected components) over the
    minhash-LSH near-dup pairs: each doc resolves to its cluster's smallest
    id — the canonical survivor. The oracle's one-hop min is exact here
    because every component in this corpus is a single planted pair
    (diameter 1); the Spark operator itself handles arbitrary chains
    (pinned by tests/test_dedup.py)."""
    docs = _docs_with_mutants(spark, sf_dir, 60)
    pairs = DD.minhash_lsh_pairs(docs, tau=0.5)
    return DD.duplicate_clusters(docs.select("doc_id"), pairs)


def _dedup_clusters_sql() -> str:
    return f"""
WITH pairs AS ({_minhash_lsh_sql(_docs_mutant_cte(60), 0.5)}),
d AS (
  SELECT doc_id FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 100000 FROM documents WHERE doc_id < 60
)
SELECT d.doc_id,
       least(d.doc_id, coalesce(min(least(p.id_a, p.id_b)), d.doc_id)) AS cluster_id
FROM d LEFT JOIN pairs p ON p.id_a = d.doc_id OR p.id_b = d.doc_id
GROUP BY d.doc_id
"""


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection (banded random-hyperplane LSH
    candidates): each base vector gets a planted positive-rescaled copy
    (id+100000) with cosine ~0.987; the oracle mirrors the band buckets
    exactly (same seeded hyperplanes as literal SQL vectors)."""
    base = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    )
    mut = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + (i % 3).cast("double") * F.lit(0.25)),
        ).alias("embedding"),
    )
    return DD.embedding_cosine_dups(base.unionByName(mut), tau=0.9)


def _dedup_embedding_sql() -> str:
    nb = SIM.DEDUP_BANDS
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100
), alle AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(len(v)), i -> v[i + 1] * (1.0 + (i % 3) * 0.25))
  FROM base
), ek AS (SELECT vec_id, v, {_rh_keys_select(nb)} FROM alle),
m AS ({_rh_melt('ek', nb)}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM m a JOIN m b ON a.band_idx = b.band_idx AND a.key = b.key AND a.vec_id < b.vec_id
), pairs AS (
  SELECT c.id_a, c.id_b,
    list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM cand c JOIN alle a ON a.vec_id = c.id_a JOIN alle b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cos, 6) AS cos FROM pairs WHERE cos >= 0.9
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (dedup.semantic_dedup): cluster-then-dedup over the same
    planted-mutant corpus as dedup_embedding — k-means cells route, the
    intra-cluster quadratic verifies, lowest id per semantic group
    survives. Output: surviving vec_ids. The oracle mirrors the cell
    assignment (identical literal centroid scores, first-max argmax) and
    the lower-id-clustermate drop rule exactly."""
    base = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 100)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
    )
    mut = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (F.lit(1.0) + (i % 3).cast("double") * F.lit(0.25)),
        ).alias("embedding"),
    )
    return DD.semantic_dedup(
        base.unionByName(mut), dim=_EMB_DIM, tau=0.9
    ).select("vec_id")


def _dedup_semantic_sql() -> str:
    import numpy as np

    cents = SIM.ivf_centroid_matrix(_EMB_DIM)
    norms = np.sqrt((cents**2).sum(axis=0))
    scores = ", ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in cents[:, c])
        + f"]) / {float(norms[c])!r}"
        for c in range(cents.shape[1])
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 100
), alle AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT vec_id + 100000,
         list_transform(range(len(v)), i -> v[i + 1] * (1.0 + (i % 3) * 0.25))
  FROM base
), ek AS (SELECT vec_id, v, [{scores}] AS sc FROM alle),
cell AS (SELECT vec_id, v, list_position(sc, list_max(sc)) - 1 AS cell FROM ek),
dropped AS (
  SELECT DISTINCT a.vec_id
  FROM cell a JOIN cell b ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= 0.9
)
SELECT vec_id FROM alle WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
"""


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data dedup stage in the canonical order:
    exact dedup (hash-groupBy) FIRST — which also removes the
    exact-duplicate floods that would otherwise make minhash band keys
    heavy — then MinHash-LSH near-dup pairing over the survivors, then
    cluster resolution. Output: every input doc mapped to its final
    canonical id (exact keeper -> near-dup cluster minimum)."""
    base = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    mut = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, 1, (length(text) * 4) div 5)").alias("text"),
    )
    copies = base.select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    corpus = base.unionByName(mut).unionByName(copies)

    fp = corpus.select(
        "doc_id", "text", TXT.fingerprint_col(F.col("text")).alias("fp")
    )
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    doc2keep = fp.join(keep, "fp").select("doc_id", "keep_id")
    survivors = corpus.join(
        keep.select(F.col("keep_id").alias("doc_id")), "doc_id", "leftsemi"
    )
    pairs = DD.minhash_lsh_pairs(survivors, tau=0.5)
    clusters = DD.duplicate_clusters(survivors.select("doc_id"), pairs).select(
        F.col("doc_id").alias("keep_id"), F.col("cluster_id").alias("final_id")
    )
    return doc2keep.join(clusters, "keep_id").select("doc_id", "final_id")


def _dedup_pipeline_sql() -> str:
    corpus = f"""
  SELECT doc_id, text FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 100000, substr(text, 1, (length(text) * 4) // 5)
  FROM documents WHERE doc_id < 60
  UNION ALL
  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 60
"""
    surv = f"""
  SELECT c.doc_id, c.text FROM ({corpus}) c
  WHERE c.doc_id IN (
    SELECT min(doc_id) FROM (
      SELECT doc_id, {TXT.fingerprint_sql('text')} AS fp FROM ({corpus})
    ) GROUP BY fp
  )
"""
    # planted components are single pairs (diameter 1), so the one-hop min
    # is the exact cluster resolution here (the Spark operator handles
    # arbitrary chains; pinned by tests/test_dedup.py)
    return f"""
WITH fp AS (
  SELECT doc_id, {TXT.fingerprint_sql('text')} AS fp FROM ({corpus})
), keep AS (
  SELECT fp, min(doc_id) AS keep_id FROM fp GROUP BY fp
), d2k AS (
  SELECT f.doc_id, k.keep_id FROM fp f JOIN keep k USING (fp)
), pairs AS ({_minhash_lsh_sql(surv, 0.5)}),
surv_ids AS (SELECT keep_id AS doc_id FROM keep GROUP BY keep_id),
clus AS (
  SELECT s.doc_id AS keep_id,
         least(s.doc_id, coalesce(min(least(p.id_a, p.id_b)), s.doc_id)) AS final_id
  FROM surv_ids s LEFT JOIN pairs p ON p.id_a = s.doc_id OR p.id_b = s.doc_id
  GROUP BY s.doc_id
)
SELECT d.doc_id, c.final_id FROM d2k d JOIN clus c ON c.keep_id = d.keep_id
"""


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal payload path: binary image column -> Arrow-batched decode
    (mapInPandas) -> exact per-image pixel stats. The oracle recomputes the
    deterministic pixel formula (x*3 + y*7 + i*13) % 251 in pure SQL, so the
    zlib codec round-trip is verified end-to-end."""
    imgs = _synth_images(spark, sf_dir, 300)
    return MM.decode_stats(imgs).select(
        "image_id", "w", "h", "px_sum", "px_min", "px_max", "decode_ok"
    )


_MULTIMODAL_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), v AS (
  SELECT i, w, ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v FROM px
)
SELECT printf('img%012d', i) AS image_id,
       CAST(w AS INTEGER) AS w, CAST(w AS INTEGER) AS h,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max,
       true AS decode_ok
FROM v GROUP BY i, w
"""


def _synth_images(spark: SparkSession, sf_dir: str, limit: int, step: int = 1):
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_partkey") < limit) & (F.col("p_partkey") % step == 0)
    )
    w = (F.lit(8) * (F.lit(1) + F.col("p_partkey") % 3)).cast("int")
    return part.select(
        F.format_string("img%012d", F.col("p_partkey")).alias("image_id"),
        F.col("p_partkey").alias("_i"),
        w.alias("w"),
        w.alias("h"),
        # mixed wire formats: every 7th image is real PNG (stdlib codec) —
        # the oracle checks pixel values, which are format-independent, so
        # a codec bug in either container breaks the hash match
        F.when(F.col("p_partkey") % 7 == 0, F.lit("png"))
        .otherwise(F.lit("rawz"))
        .alias("fmt"),
    ).withColumn(
        "bytes",
        SYN._encode_image_fmt_udf(F.col("_i"), F.col("w"), F.col("h"), F.col("fmt")),
    )


def q_hough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X176 (multimodal.hough_lines): Hough line detection over 300
    mixed rawz/png images — edge pixels vote in the quantized
    (theta, rho) accumulator (fixed-point trig table inlined into both
    plans, power-of-two rho bins so the twin's floor division is exact),
    top-3 cells per image with >= 8 votes. Voting is in-batch NumPy;
    only the tiny accumulator rows shuffle for the per-image window."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.hough_lines(imgs, edge_thresh=200, min_votes=8, k=3)


def _hough_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    px = """
SELECT printf('img%012d', i) AS image_id, (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 300)
)
"""
    return MM2.hough_lines_sql(px, edge_thresh=200, min_votes=8, k=3)


def q_canny(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X188 (multimodal.canny_nms_stats): Canny-style non-maximum
    suppression + double threshold over the Sobel gradient on 300 mixed
    rawz/png images — integer tan(22.5°) sector gates (no atan), ties
    keep, exact int64 counts; the twin recomputes gradients and sector
    neighbors via coordinate self-joins. Scan-shaped Arrow pass."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.canny_nms_stats(imgs, lo=192, hi=512)


def _canny_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    px = """
SELECT printf('img%012d', i) AS image_id, w, w AS h,
       (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 300)
)
"""
    return MM2.canny_nms_stats_sql(px, lo=192, hi=512)


def q_gaussian_blur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X178 (multimodal.gaussian_blur_stats): 5x5 binomial blur over 300
    mixed rawz/png images as integer-exact per-image statistics — the
    separable [1,4,6,4,1]⊗[1,4,6,4,1] kernel applied in two in-batch
    NumPy passes; the twin recomputes all 25 neighbor terms from the
    pixel formula via a shifted self-join. Scan-shaped, pixels never
    shuffle."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.gaussian_blur_stats(imgs, edge_thresh=200)


def _gaussian_blur_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    px = """
SELECT printf('img%012d', i) AS image_id, w, w AS h,
       (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 300)
)
"""
    return MM2.gaussian_blur_stats_sql(px, edge_thresh=200)


def q_patch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 (multimodal.extract_patches): ViT-style patchification — 300
    mixed rawz/png images cut into non-overlapping 8x8 patches, one row
    per patch with exact-int stats pinning every pixel's routing. One
    mapInPandas, vectorized reshape, no shuffle; the oracle replays the
    deterministic pixel formula with x//8, y//8 patch indexing in pure
    SQL (image widths are multiples of 8 so no ragged edge exists
    here; raggedness is pytest-pinned)."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.extract_patches(imgs, 8, with_bytes=False)


_PATCH_EXTRACT_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), v AS (
  SELECT i, w, (p % w) AS x, (p // w) AS y,
         ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
  FROM px
)
SELECT printf('img%012d', i) AS image_id,
       CAST(x // 8 AS INTEGER) AS px_x, CAST(y // 8 AS INTEGER) AS px_y,
       CAST(8 AS INTEGER) AS patch_w, CAST(8 AS INTEGER) AS patch_h,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max,
       CAST((w // 8) * (w // 8) AS BIGINT) AS n_patches
FROM v GROUP BY i, w, x // 8, y // 8
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched nearest-neighbor resize to 8x8 then exact pixel stats;
    the oracle recomputes the resize index map (sy = ty*H//8) and the
    deterministic pixel formula in pure SQL — the whole decode -> resize ->
    re-encode -> decode chain is value-verified end to end."""
    imgs = _synth_images(spark, sf_dir, 150)
    resized = MM.resize_images(imgs, 8, 8)
    return MM.decode_stats(resized).select("image_id", "px_sum", "px_min", "px_max")


_MULTIMODAL_RESIZE_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS hh
  FROM part WHERE p_partkey < 150
), cell AS (
  SELECT i, hh, unnest(range(0, 64)) AS c FROM img
), v AS (
  SELECT i,
    ((((c % 8) * hh) // 8) * 3 + (((c // 8) * hh) // 8) * 7 + i * 13) % 251 AS v
  FROM cell
)
SELECT printf('img%012d', i) AS image_id,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
FROM v GROUP BY i
"""


def q_sobel_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79 (multimodal.sobel_stats): integer-exact Sobel gradient energy +
    edge density per image over 300 mixed rawz/png images — the
    texture/edge quality gate. One scan-shaped mapInPandas (NumPy stencil,
    pixels never shuffle); the oracle recomputes every 3x3 neighborhood
    from the deterministic pixel formula in pure SQL, so a single
    misrouted pixel in either codec breaks the hash."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.sobel_stats(imgs, threshold=256)


def _sobel_edges_sql() -> str:
    def v(dx: int, dy: int) -> str:
        return f"((x + {dx}) * 3 + (y + {dy}) * 7 + i * 13) % 251"

    gx = (
        f"({v(1, -1)}) + 2 * ({v(1, 0)}) + ({v(1, 1)})"
        f" - ({v(-1, -1)}) - 2 * ({v(-1, 0)}) - ({v(-1, 1)})"
    )
    gy = (
        f"({v(-1, 1)}) + 2 * ({v(0, 1)}) + ({v(1, 1)})"
        f" - ({v(-1, -1)}) - 2 * ({v(0, -1)}) - ({v(1, -1)})"
    )
    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), inner_px AS (
  SELECT i, w, (p % w) AS x, (p // w) AS y FROM px
  WHERE (p % w) >= 1 AND (p % w) <= w - 2
    AND (p // w) >= 1 AND (p // w) <= w - 2
), g AS (
  SELECT i, w, abs({gx}) + abs({gy}) AS g FROM inner_px
)
SELECT printf('img%012d', i) AS image_id,
       CAST(sum(g) AS BIGINT) AS grad_l1,
       CAST(sum(CASE WHEN g >= 256 THEN 1 ELSE 0 END) AS BIGINT)
         AS edge_count,
       CAST((w - 2) * (w - 2) AS BIGINT) AS interior_count
FROM g GROUP BY i, w
"""


def q_multimodal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin intensity histogram features (the encoder-input stage).
    8x8 images only, so every normalized share k/64 is an exact 6-decimal
    rational — no cross-engine rounding ambiguity. Exploded to
    (image_id, bin, share) rows for the value comparison."""
    imgs = _synth_images(spark, sf_dir, 300, step=3)  # w == h == 8
    hist = MM.histogram_features(imgs, bins=16)
    return hist.select(
        "image_id", F.posexplode("hist").alias("bin", "share")
    )


_MULTIMODAL_HIST_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 300 AND p_partkey % 3 = 0
), px AS (
  SELECT i, unnest(range(0, 64)) AS p FROM img
), v AS (
  SELECT i, (((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251) // 16 AS b FROM px
), bins AS (
  SELECT i, unnest(range(0, 16)) AS bin FROM img
), cnt AS (
  SELECT i, b, count(*) AS n FROM v GROUP BY i, b
)
SELECT printf('img%012d', bins.i) AS image_id,
       CAST(bins.bin AS INTEGER) AS bin,
       round(coalesce(cnt.n, 0) / 64.0, 6) AS share
FROM bins LEFT JOIN cnt ON cnt.i = bins.i AND cnt.b = bins.bin
"""


def q_multimodal_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmentation chain (training-set expansion): hflip -> center-crop to
    4x4 -> exact pixel stats. Both augment steps are pure pixel remaps, so
    the oracle recomputes the composed position map in SQL: output pixel
    (x, y) = source pixel (7 - (x + 2), y + 2) of the deterministic
    formula. Position-DEPENDENT stats (the crop breaks the permutation
    invariance a flip alone would leave) verify the remap end to end."""
    imgs = _synth_images(spark, sf_dir, 450, step=3)  # all 8x8
    aug = MM.augment_images(MM.augment_images(imgs, "hflip"), "crop_cc")
    return MM.decode_stats(aug).select(
        "image_id", "w", "h", "px_sum", "px_min", "px_max"
    )


_MULTIMODAL_AUGMENT_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 450 AND p_partkey % 3 = 0
), px AS (
  SELECT i, unnest(range(0, 16)) AS c FROM img
), v AS (
  SELECT i, ((7 - ((c % 4) + 2)) * 3 + ((c // 4) + 2) * 7 + i * 13) % 251 AS v
  FROM px
)
SELECT printf('img%012d', i) AS image_id, 4 AS w, 4 AS h,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max
FROM v GROUP BY i
"""


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster tile-pyramid rollup (geospatial x image): 8x8 image tiles
    keyed to a 16x16 res-4 cell grid, one rollup level -> res-3 parent
    tiles (stitch <=4 children by cell quadrant, 2x2 average-pool,
    re-encode). The driver-checked columns are the exact ones: n_children
    and px_sum = (integer child pixel total)/4, a dyadic rational both
    engines represent bit-for-bit; tile BYTES are pinned against a NumPy
    reference in tests/test_payload.py (stitch placement + uint8
    rounding), which SQL cannot express."""
    imgs = _synth_images(spark, sf_dir, 768, step=3)  # all 8x8
    idx = F.expr("_i div 3")
    tiles = imgs.select(
        cells.pack_cell(4, idx % 16, F.expr("(_i div 3) div 16")).alias("cell_id"),
        "w", "h", "fmt", "bytes",
    )
    return MM.tile_pyramid_level(tiles, 4).select(
        "cell_id", "n_children", "px_sum"
    )


_TILE_PYRAMID_SQL = """
WITH img AS (
  SELECT p_partkey AS i, p_partkey // 3 AS idx
  FROM part WHERE p_partkey < 768 AND p_partkey % 3 = 0
), px AS (
  SELECT idx, i, unnest(range(0, 64)) AS p FROM img
), s AS (
  SELECT idx, CAST(sum(((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251) AS DOUBLE) AS child_sum
  FROM px GROUP BY idx, i
)
SELECT (3::BIGINT << 58) + (((idx % 16) // 2)::BIGINT << 29) + ((idx // 16) // 2)::BIGINT AS cell_id,
       CAST(count(*) AS INTEGER) AS n_children,
       sum(child_sum) / 4.0 AS px_sum
FROM s GROUP BY 1
"""


def q_tile_pyramid2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO pyramid levels (res 4 -> 2): level 2 consumes the uint8-rounded
    re-encodes of level 1, so the oracle must replicate the full lossy
    chain in SQL — each level-1 pixel is round-half-even((a+b+c+d)/4) of
    four formula pixels from exactly one res-4 child (a 2x2 pool never
    straddles children: pooled cols {2tx, 2tx+1} share one quadrant since
    2tx is even), then level-2 px_sum is the dyadic (level-1 int total)/4.
    Half-even rounding is exact here: pool sums are integers, so fractions
    are k/4 and the .5 case is decided by parity in both engines."""
    imgs = _synth_images(spark, sf_dir, 768, step=3)  # all 8x8
    idx = F.expr("_i div 3")
    tiles = imgs.select(
        cells.pack_cell(4, idx % 16, F.expr("(_i div 3) div 16")).alias("cell_id"),
        "w", "h", "fmt", "bytes",
    )
    return MM.tile_pyramid(tiles, 4, levels=2).select(
        "cell_id", "n_children", "px_sum"
    )


_TILE_PYRAMID2_SQL = """
WITH img AS (
  SELECT p_partkey AS i, p_partkey // 3 AS idx
  FROM part WHERE p_partkey < 768 AND p_partkey % 3 = 0
), t1px AS (  -- level-1 tile (X3, Y3), pooled pixel (tx, ty): one child each
  SELECT (g.c // 64) % 8 AS x3, (g.c // 64) // 8 AS y3,
         (g.c % 8) AS tx, (g.c % 64) // 8 AS ty,
         2 * ((g.c // 64) % 8) + (2 * (g.c % 8)) // 8 AS x4,
         2 * ((g.c // 64) // 8) + 1 - (2 * ((g.c % 64) // 8)) // 8 AS y4,
         (2 * (g.c % 8)) % 8 AS cx, (2 * ((g.c % 64) // 8)) % 8 AS cy
  FROM (SELECT unnest(range(0, 64 * 64)) AS c) g
), joined AS (
  SELECT p.x3, p.y3, p.tx, p.ty,
         CASE WHEN img.i IS NULL THEN NULL ELSE
           ((p.cx) * 3 + (p.cy) * 7 + img.i * 13) % 251
         + ((p.cx + 1) * 3 + (p.cy) * 7 + img.i * 13) % 251
         + ((p.cx) * 3 + (p.cy + 1) * 7 + img.i * 13) % 251
         + ((p.cx + 1) * 3 + (p.cy + 1) * 7 + img.i * 13) % 251
         END AS s
  FROM t1px p LEFT JOIN img ON img.idx = 16 * p.y4 + p.x4
), v1 AS (  -- round-half-even((s)/4); missing child contributes 0
  SELECT x3, y3,
    CASE WHEN s IS NULL THEN 0
         WHEN s % 4 = 2 THEN s // 4 + (s // 4) % 2
         ELSE CAST(round(s / 4.0) AS BIGINT) END AS v,
    s IS NOT NULL AS present
  FROM joined
), t1 AS (
  SELECT x3, y3, sum(v) AS tile_sum, max(CASE WHEN present THEN 1 ELSE 0 END) AS has_any
  FROM v1 GROUP BY x3, y3
)
SELECT (2::BIGINT << 58) + ((x3 // 2)::BIGINT << 29) + (y3 // 2)::BIGINT AS cell_id,
       CAST(count(*) AS INTEGER) AS n_children,
       sum(tile_sum) / 4.0 AS px_sum
FROM t1 WHERE has_any = 1 GROUP BY 1
"""


def q_image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: decode -> 9x8 gradient-sign dHash -> group by
    hash. Groups collapse both exact duplicates AND near-duplicates whose
    gradient structure matches (every 8x8 image with no mod-251 wrap in its
    sampled grid shares the all-ones-rows hash). One hash-groupBy shuffle
    of 8-byte keys; pixel data never shuffles. The oracle recomputes the
    sampling map (sx = tx*w//9), the deterministic pixel formula and the
    row-major bit pack in pure SQL (HUGEINT two's complement for bit 63)."""
    imgs = _synth_images(spark, sf_dir, 800)
    dh = MM.dhash_features(imgs)
    sizes = (
        dh.groupBy("dhash")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") > 1)
    )
    # duplicate-group table is tiny relative to the corpus -> broadcast back
    return (
        dh.join(F.broadcast(sizes), "dhash")
        .select("image_id", "dhash", "group_size")
    )


_IMAGE_DHASH_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 800
), bit AS (
  SELECT i, (c % 8) AS tx, (c // 8) AS ty, c AS k,
    ((((c % 8) + 1) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251
      > (((c % 8) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251 AS b
  FROM (SELECT i, w, unnest(range(0, 64)) AS c FROM img)
), h AS (
  SELECT i,
    CAST(sum(CASE WHEN b THEN (1::HUGEINT << k) ELSE 0 END)
         - CASE WHEN max(CASE WHEN b AND k = 63 THEN 1 ELSE 0 END) = 1
                THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT) AS dhash
  FROM bit GROUP BY i
), g AS (
  SELECT dhash, count(*) AS group_size FROM h GROUP BY dhash HAVING count(*) > 1
)
SELECT printf('img%012d', h.i) AS image_id, h.dhash,
       CAST(g.group_size AS BIGINT) AS group_size
FROM h JOIN g USING (dhash)
"""


def q_image_dhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-duplicate pairs: one representative per exact dHash group
    (the scale-correct composition — identical hashes would explode
    quadratically inside their pigeonhole bucket), then a hamming<=6 block
    join over the distinct hashes (8 blocks of 8 bits: complete for
    hamming<=7). The oracle brute-forces hamming over the same distinct
    hashes with DuckDB's two's-complement bit_count(xor)."""
    imgs = _synth_images(spark, sf_dir, 800)
    dh = MM.dhash_features(imgs)
    reps = dh.groupBy("dhash").agg(F.min("image_id").alias("image_id"))
    return DD.hamming_pairs(
        reps, id_col="image_id", hash_col="dhash", bits=64, n_blocks=8, max_hamming=6
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


_IMAGE_DHASH_NEAR_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 800
), bit AS (
  SELECT i, c AS k,
    ((((c % 8) + 1) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251
      > (((c % 8) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251 AS b
  FROM (SELECT i, w, unnest(range(0, 64)) AS c FROM img)
), h AS (
  SELECT i,
    CAST(sum(CASE WHEN b THEN (1::HUGEINT << k) ELSE 0 END)
         - CASE WHEN max(CASE WHEN b AND k = 63 THEN 1 ELSE 0 END) = 1
                THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT) AS dhash
  FROM bit GROUP BY i
), reps AS (
  SELECT dhash, min(printf('img%012d', i)) AS image_id FROM h GROUP BY dhash
)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
FROM reps a JOIN reps b ON a.image_id < b.image_id
WHERE bit_count(xor(a.dhash, b.dhash)) BETWEEN 1 AND 6
"""


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZONAL STATISTICS (operators/multimodal.zonal_stats) — the
    geospatial x image fusion op: per-zone aggregates over the decoded
    PIXELS of every tile whose footprint intersects the zone, pixel
    centers tested against the zone. Zones are the nation boxes, so
    ``mode="bbox"`` is exact zonal stats; tiles are mixed rawz/PNG images
    at 0.05 deg/px centered on phash points.

    The oracle replays the whole chain in SQL: phash decode -> footprint
    (w * 0.025 half-size, the same double ops) -> bbox-intersect pairs ->
    per-pixel center coords fx0 + (x+0.5)*0.05 (identical IEEE op order,
    so the boundary comparisons agree bit-for-bit) -> the deterministic
    pixel formula -> integer rollup per zone."""
    from osm2geojson_spark.operators.multimodal import zonal_stats

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    lon, lat = _lon("p_partkey"), _lat("p_partkey")
    w = (F.lit(8) * (F.lit(1) + F.col("p_partkey") % 3)).cast("int")
    imgs = part.select(
        F.format_string("img%012d", F.col("p_partkey")).alias("image_id"),
        F.col("p_partkey").alias("_i"),
        w.alias("w"),
        w.alias("h"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit("png"))
        .otherwise(F.lit("rawz"))
        .alias("fmt"),
        SYN.phash_encode(lon, lat).alias("phash"),
    ).withColumn(
        "bytes",
        SYN._encode_image_fmt_udf(F.col("_i"), F.col("w"), F.col("h"), F.col("fmt")),
    )
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    return zonal_stats(imgs, polys, deg_per_px=0.05, res=4, mode="bbox").select(
        "poly_id", "n_tiles", "px_cnt", "px_sum", "px_min", "px_max"
    )


_ZONAL_STATS_SQL = f"""
WITH img AS (
  SELECT p_partkey AS i, printf('img%012d', p_partkey) AS image_id,
         CAST(8 * (1 + p_partkey % 3) AS BIGINT) AS w,
         {SYN.phash_encode_sql(SYN.lon_sql('p_partkey'), SYN.lat_sql('p_partkey'))} AS phash
  FROM part WHERE p_partkey < 400
), fp AS (
  SELECT i, image_id, w,
    {SYN.phash_lon_sql('phash')} - w * 0.025 AS fx0,
    {SYN.phash_lat_sql('phash')} - w * 0.025 AS fy0,
    {SYN.phash_lon_sql('phash')} + w * 0.025 AS fx1,
    {SYN.phash_lat_sql('phash')} + w * 0.025 AS fy1
  FROM img
), boxes AS ({_NATION_BOX_SQL}
), pairs AS (
  SELECT f.*, b.poly_id, b.x0, b.y0, b.x1, b.y1
  FROM fp f JOIN boxes b
    ON f.fx0 <= b.x1 AND f.fx1 >= b.x0 AND f.fy0 <= b.y1 AND f.fy1 >= b.y0
), px AS (
  SELECT poly_id, image_id,
         ((c % w) * 3 + (c // w) * 7 + i * 13) % 251 AS v
  FROM pairs, unnest(range(w * w)) t(c)
  WHERE fx0 + ((c % w) + 0.5) * 0.05 >= x0
    AND fx0 + ((c % w) + 0.5) * 0.05 <= x1
    AND fy0 + ((c // w) + 0.5) * 0.05 >= y0
    AND fy0 + ((c // w) + 0.5) * 0.05 <= y1
)
SELECT poly_id,
       CAST(count(DISTINCT image_id) AS BIGINT) AS n_tiles,
       CAST(count(*) AS BIGINT) AS px_cnt,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min,
       CAST(max(v) AS BIGINT) AS px_max
FROM px GROUP BY poly_id
"""


def q_vectorize_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RASTER -> VECTOR polygonization (multimodal.vectorize_images over
    kernels.vectorize_mask): threshold each 8x8 tile at 128 and trace the
    mask into polygons; output per-image topology integers (n_parts,
    n_holes, area_px, perimeter_px).

    The oracle shares NO tracing logic: it floods hot components with a
    recursive CTE over 4-adjacency (= n_parts), floods PADDED cold
    components over 8-adjacency and counts those not touching the border
    (= n_holes, the raster duality the kernel's left-turn rule
    guarantees), counts hot pixels (= area_px, which the kernel computes
    as a shoelace sum over shells minus holes), and derives the perimeter
    as 4*hot - 2*adjacent_hot_pairs."""
    from osm2geojson_spark.operators.multimodal import vectorize_images

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return vectorize_images(imgs, threshold=128).select(
        "image_id", "n_parts", "n_holes", "area_px", "perimeter_px"
    )


_VECTORIZE_SQL = """
WITH RECURSIVE img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0
), cell AS (
  SELECT i, p, p % 8 AS x, p // 8 AS y,
         ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 >= 128 AS hot
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img)
), hedge AS (
  SELECT a.i, a.p AS src, b.p AS dst
  FROM cell a JOIN cell b ON a.i = b.i AND a.hot AND b.hot
    AND ((abs(a.x - b.x) = 1 AND a.y = b.y) OR (a.x = b.x AND abs(a.y - b.y) = 1))
), hlbl(i, p, l) AS (
  SELECT i, p, p FROM cell WHERE hot
  UNION
  SELECT e.i, e.dst, hlbl.l FROM hlbl JOIN hedge e ON e.i = hlbl.i AND e.src = hlbl.p
), hcomp AS (
  SELECT i, p, min(l) AS l FROM hlbl GROUP BY i, p
), parts AS (
  SELECT i, count(DISTINCT l) AS n_parts FROM hcomp GROUP BY i
), pad AS (
  SELECT i, q AS p, q % 10 AS x, q // 10 AS y,
    CASE WHEN q % 10 IN (0, 9) OR q // 10 IN (0, 9) THEN TRUE
         ELSE NOT ((((q % 10) - 1) * 3 + ((q // 10) - 1) * 7 + i * 13) % 251 >= 128)
    END AS cold
  FROM (SELECT i, unnest(range(0, 100)) AS q FROM img)
), cedge AS (
  SELECT a.i, a.p AS src, b.p AS dst
  FROM pad a JOIN pad b ON a.i = b.i AND a.cold AND b.cold
    AND abs(a.x - b.x) <= 1 AND abs(a.y - b.y) <= 1 AND a.p != b.p
), clbl(i, p, l) AS (
  SELECT i, p, p FROM pad WHERE cold
  UNION
  SELECT e.i, e.dst, clbl.l FROM clbl JOIN cedge e ON e.i = clbl.i AND e.src = clbl.p
), ccomp AS (
  SELECT i, p, min(l) AS l FROM clbl GROUP BY i, p
), cinfo AS (
  SELECT c.i, c.l,
         max(CASE WHEN pad.x IN (0, 9) OR pad.y IN (0, 9) THEN 1 ELSE 0 END) AS brd
  FROM ccomp c JOIN pad ON pad.i = c.i AND pad.p = c.p
  GROUP BY c.i, c.l
), holes AS (
  SELECT i, sum(CASE WHEN brd = 0 THEN 1 ELSE 0 END) AS n_holes FROM cinfo GROUP BY i
), area AS (
  SELECT i, count(*) AS area_px FROM cell WHERE hot GROUP BY i
), adj AS (
  SELECT a.i, count(*) AS npairs
  FROM cell a JOIN cell b ON a.i = b.i AND a.hot AND b.hot
    AND ((b.x = a.x + 1 AND b.y = a.y) OR (b.x = a.x AND b.y = a.y + 1))
  GROUP BY a.i
)
SELECT printf('img%012d', img.i) AS image_id,
       CAST(coalesce(parts.n_parts, 0) AS BIGINT) AS n_parts,
       CAST(coalesce(holes.n_holes, 0) AS BIGINT) AS n_holes,
       CAST(coalesce(area.area_px, 0) AS BIGINT) AS area_px,
       CAST(4 * coalesce(area.area_px, 0) - 2 * coalesce(adj.npairs, 0) AS BIGINT)
         AS perimeter_px
FROM img
LEFT JOIN parts ON parts.i = img.i
LEFT JOIN holes ON holes.i = img.i
LEFT JOIN area ON area.i = img.i
LEFT JOIN adj ON adj.i = img.i
"""


def q_isolines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARCHING-SQUARES ISOLINES (multimodal.isoline_images): contour the
    8x8 synthetic tiles at two iso levels; per (image, level) emit exact
    integer segment counts split by segment shape (straight = crosses
    opposite cell edges, diagonal = adjacent edges — incl. both halves of
    saddles) and the milli-pixel total length derived from them. The
    oracle re-classifies every 2x2 block with pure CASE arithmetic over
    the unnested pixel grid — no tracing logic shared."""
    from osm2geojson_spark.operators.multimodal import isoline_images

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return isoline_images(imgs, levels=(96, 160))


def _isolines_sql() -> str:
    from osm2geojson_spark.operators.multimodal import DIAG_SEG_MPX

    return f"""
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0
), px AS (
  SELECT i, p % 8 AS x, p // 8 AS y,
         ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS v
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img)
), lvl AS (
  SELECT unnest([96, 160]) AS t
), blk AS (
  SELECT a.i, l.t,
         CAST(a.v >= l.t AS INT) AS ca, CAST(b.v >= l.t AS INT) AS cb,
         CAST(c.v >= l.t AS INT) AS cc, CAST(d.v >= l.t AS INT) AS cd
  FROM px a
  JOIN px b ON b.i = a.i AND b.x = a.x + 1 AND b.y = a.y
  JOIN px c ON c.i = a.i AND c.x = a.x AND c.y = a.y + 1
  JOIN px d ON d.i = a.i AND d.x = a.x + 1 AND d.y = a.y + 1
  CROSS JOIN lvl l
), cls AS (
  SELECT i, t, ca + cb + cc + cd AS h,
         CASE WHEN (ca = 1 AND cd = 1 AND cb = 0 AND cc = 0)
                OR (cb = 1 AND cc = 1 AND ca = 0 AND cd = 0)
              THEN 1 ELSE 0 END AS saddle
  FROM blk
), agg AS (
  SELECT i, t,
         sum(CASE WHEN h = 2 AND saddle = 0 THEN 1 ELSE 0 END) AS n_straight,
         sum(CASE WHEN h IN (1, 3) THEN 1 ELSE 0 END) + 2 * sum(saddle)
           AS n_diag
  FROM cls GROUP BY i, t
)
SELECT printf('img%012d', i) AS image_id,
       CAST(t AS BIGINT) AS level,
       CAST(n_straight + n_diag AS BIGINT) AS n_segments,
       CAST(n_straight AS BIGINT) AS n_straight,
       CAST(n_diag AS BIGINT) AS n_diag,
       CAST(n_straight * 1000
            + CAST(round(n_diag * {DIAG_SEG_MPX!r}) AS BIGINT) AS BIGINT)
         AS length_mpx
FROM agg
"""


def q_vectorize_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TILE stitched vectorization (multimodal.vectorize_stitched):
    a 6x6 mosaic of 8x8 tiles (global 48x48) whose per-tile synth_pixels
    phase i = (17*k) % 251 plants 11 hot regions, 7 of them crossing tile
    borders; the engine labels each tile locally, equi-joins boundary
    strips, resolves the region graph with min-label propagation, and
    rolls up per-region area/tiles/bbox. The oracle shares NO stitching
    logic: it floods the WHOLE mosaic as one flat 2304-pixel grid with a
    recursive CTE. Mixed rawz/png containers, like vectorize_tiles."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 36)
    k = F.col("p_partkey")
    imgs = part.select(
        (k % 6).cast("int").alias("tile_x"),
        (k / 6).cast("int").alias("tile_y"),
        ((F.lit(17) * k) % 251).cast("int").alias("_i"),
        F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias("fmt"),
    ).withColumn(
        "bytes",
        SYN._encode_image_fmt_udf(
            F.col("_i"), F.lit(8).cast("int"), F.lit(8).cast("int"), F.col("fmt")
        ),
    )
    return MM.vectorize_stitched(imgs, threshold=200)


_VECTORIZE_STITCHED_SQL = """
WITH RECURSIVE tile AS (SELECT p_partkey AS k FROM part WHERE p_partkey < 36),
cell AS (
  SELECT (k % 6) * 8 + (p % 8) AS gx, (k // 6) * 8 + (p // 8) AS gy, k,
         ((p % 8) * 3 + (p // 8) * 7 + ((17 * k) % 251) * 13) % 251 >= 200 AS hot
  FROM (SELECT k, unnest(range(0, 64)) AS p FROM tile)
), hotpx AS (SELECT gy * 4294967296 + gx AS g, gx, gy, k FROM cell WHERE hot),
edge AS (
  SELECT a.g AS src, b.g AS dst FROM hotpx a JOIN hotpx b ON
    (abs(a.gx - b.gx) = 1 AND a.gy = b.gy)
    OR (a.gx = b.gx AND abs(a.gy - b.gy) = 1)
),
lbl(g, l) AS (
  SELECT g, g FROM hotpx
  UNION
  SELECT e.dst, lbl.l FROM lbl JOIN edge e ON e.src = lbl.g
),
ml AS (SELECT g, min(l) AS region_id FROM lbl GROUP BY g)
SELECT region_id, count(*) AS area_px, count(DISTINCT h.k) AS n_tiles,
       min(h.gx) AS min_gx, min(h.gy) AS min_gy,
       max(h.gx) AS max_gx, max(h.gy) AS max_gy
FROM ml JOIN hotpx h USING (g) GROUP BY region_id
"""


def q_halo_gradient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tile focal gradient via HALO EXCHANGE
    (multimodal.halo_exchange_gradient) on the vectorize_stitched mosaic:
    each tile's central-difference stencil needs its neighbors' 1-px edge
    strips, exchanged as O(perimeter) rows — never whole tiles. Exact
    int64 gradient sums; the oracle runs the same stencil on the flat
    global grid with four self-joins."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 36)
    k = F.col("p_partkey")
    imgs = part.select(
        (k % 6).cast("int").alias("tile_x"),
        (k / 6).cast("int").alias("tile_y"),
        ((F.lit(17) * k) % 251).cast("int").alias("_i"),
        F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias("fmt"),
    ).withColumn(
        "bytes",
        SYN._encode_image_fmt_udf(
            F.col("_i"), F.lit(8).cast("int"), F.lit(8).cast("int"), F.col("fmt")
        ),
    )
    return MM.halo_exchange_gradient(imgs)


_HALO_GRADIENT_SQL = """
WITH tile AS (SELECT p_partkey AS k FROM part WHERE p_partkey < 36),
cell AS (
  SELECT k, (k % 6) * 8 + (p % 8) AS gx, (k // 6) * 8 + (p // 8) AS gy,
         ((p % 8) * 3 + (p // 8) * 7 + ((17 * k) % 251) * 13) % 251 AS v
  FROM (SELECT k, unnest(range(0, 64)) AS p FROM tile)
), g AS (
  SELECT c.k, abs(r.v - l.v) + abs(d.v - u.v) AS gr
  FROM cell c
  JOIN cell l ON l.gx = c.gx - 1 AND l.gy = c.gy
  JOIN cell r ON r.gx = c.gx + 1 AND r.gy = c.gy
  JOIN cell u ON u.gx = c.gx AND u.gy = c.gy - 1
  JOIN cell d ON d.gx = c.gx AND d.gy = c.gy + 1
)
SELECT CAST(k % 6 AS INTEGER) AS tile_x, CAST(k // 6 AS INTEGER) AS tile_y,
       sum(gr) AS grad_sum, count(*) AS n_valid
FROM g GROUP BY 1, 2
"""


def q_caption_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text alignment gate (multimodal.caption_alignment) — the
    CLIP-score curation step of a LAION-style pipeline with deterministic
    stand-in encoders (histogram towers vs token-bucket towers; swapping
    in real CLIP changes only the feature maps). Every 11th caption is
    planted word soup, exercising both sides of the keep gate.

    Exactness: 8x8 tiles make histogram shares dyadic k/64 and token
    buckets are integer counts, so dot products and squared norms agree
    bit-for-bit across engines in any summation order; sqrt/divide are
    single identically-ordered IEEE ops and the score is rounded at 6dp on
    both sides."""
    from osm2geojson_spark.operators.multimodal import caption_alignment

    imgs = _synth_images(spark, sf_dir, 240, step=3).withColumn(  # all 8x8
        "caption",
        F.when(
            F.col("_i") % 11 == 0,
            F.format_string("zz mismatch token soup %d", F.col("_i")),
        ).otherwise(
            F.format_string(
                "gradient tile image number %d band %d",
                F.col("_i"),
                F.col("_i") % 16,
            )
        ),
    )
    return caption_alignment(imgs, bins=16, tau=0.25)


def _caption_alignment_sql() -> str:
    tok = H.tokens_sql("caption")
    return f"""
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 240 AND p_partkey % 3 = 0
), cap AS (
  SELECT i, CASE WHEN i % 11 = 0 THEN printf('zz mismatch token soup %d', i)
                 ELSE printf('gradient tile image number %d band %d', i, i % 16)
            END AS caption
  FROM img
), px AS (
  SELECT i, unnest(range(0, 64)) AS p FROM img
), v AS (
  SELECT i, (((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251) // 16 AS b FROM px
), hist AS (
  SELECT i, b AS bin, round(count(*) / 64.0, 6) AS share FROM v GROUP BY i, b
), toks AS (
  SELECT i, unnest({tok}) AS t FROM cap
), txt AS (
  SELECT i, {TXT.md5_long_sql('t')} % 16 AS bin, CAST(count(*) AS DOUBLE) AS cnt
  FROM toks GROUP BY 1, 2
), dots AS (
  SELECT h.i, sum(h.share * t.cnt) AS dot
  FROM hist h JOIN txt t ON t.i = h.i AND t.bin = h.bin GROUP BY h.i
), ni AS (SELECT i, sum(share * share) AS n2i FROM hist GROUP BY i),
   nt AS (SELECT i, sum(cnt * cnt) AS n2t FROM txt GROUP BY i)
SELECT printf('img%012d', ni.i) AS image_id,
       round(coalesce(d.dot, 0.0) / (sqrt(ni.n2i) * sqrt(nt.n2t)), 6) AS score,
       coalesce(d.dot, 0.0) / (sqrt(ni.n2i) * sqrt(nt.n2t)) >= 0.25 AS keep
FROM ni JOIN nt ON nt.i = ni.i LEFT JOIN dots d ON d.i = ni.i
"""


def q_zonal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-zone pixel MEDIAN (multimodal.zonal_median): uint8 pixels
    reduce to <= 256-row value-count histograms per zone inside the Arrow
    batch, and the median is a cumulative walk over the histogram — never
    a sort of raw pixels. Same fixture chain as zonal_stats; the oracle
    recomputes the k = ceil(n/2)-th smallest pixel in SQL from the same
    per-pixel CTE. All integers, hash-exact."""
    from osm2geojson_spark.operators.multimodal import zonal_median

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    lon, lat = _lon("p_partkey"), _lat("p_partkey")
    w = (F.lit(8) * (F.lit(1) + F.col("p_partkey") % 3)).cast("int")
    imgs = part.select(
        F.format_string("img%012d", F.col("p_partkey")).alias("image_id"),
        F.col("p_partkey").alias("_i"),
        w.alias("w"),
        w.alias("h"),
        F.when(F.col("p_partkey") % 7 == 0, F.lit("png"))
        .otherwise(F.lit("rawz"))
        .alias("fmt"),
        SYN.phash_encode(lon, lat).alias("phash"),
    ).withColumn(
        "bytes",
        SYN._encode_image_fmt_udf(F.col("_i"), F.col("w"), F.col("h"), F.col("fmt")),
    )
    polys = polygons_to_df(spark, [(p, g) for p, g, *_ in _nation_boxes(spark, sf_dir)])
    return zonal_median(imgs, polys, deg_per_px=0.05, res=4)


_ZONAL_MEDIAN_SQL = f"""
WITH img AS (
  SELECT p_partkey AS i, printf('img%012d', p_partkey) AS image_id,
         CAST(8 * (1 + p_partkey % 3) AS BIGINT) AS w,
         {SYN.phash_encode_sql(SYN.lon_sql('p_partkey'), SYN.lat_sql('p_partkey'))} AS phash
  FROM part WHERE p_partkey < 400
), fp AS (
  SELECT i, image_id, w,
    {SYN.phash_lon_sql('phash')} - w * 0.025 AS fx0,
    {SYN.phash_lat_sql('phash')} - w * 0.025 AS fy0,
    {SYN.phash_lon_sql('phash')} + w * 0.025 AS fx1,
    {SYN.phash_lat_sql('phash')} + w * 0.025 AS fy1
  FROM img
), boxes AS ({_NATION_BOX_SQL}
), pairs AS (
  SELECT f.*, b.poly_id, b.x0, b.y0, b.x1, b.y1
  FROM fp f JOIN boxes b
    ON f.fx0 <= b.x1 AND f.fx1 >= b.x0 AND f.fy0 <= b.y1 AND f.fy1 >= b.y0
), px AS (
  SELECT poly_id, ((c % w) * 3 + (c // w) * 7 + i * 13) % 251 AS v
  FROM pairs, unnest(range(w * w)) t(c)
  WHERE fx0 + ((c % w) + 0.5) * 0.05 >= x0
    AND fx0 + ((c % w) + 0.5) * 0.05 <= x1
    AND fy0 + ((c // w) + 0.5) * 0.05 >= y0
    AND fy0 + ((c // w) + 0.5) * 0.05 <= y1
), ranked AS (
  SELECT poly_id, v,
         row_number() OVER (PARTITION BY poly_id ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY poly_id) AS n
  FROM px
)
SELECT poly_id, CAST(any_value(n) AS BIGINT) AS px_cnt,
       CAST(min(v) AS BIGINT) AS median_val
FROM ranked WHERE rn = (n + n % 2) // 2
GROUP BY poly_id
"""


def q_crossmodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL duplicate clustering — the multimodal curation step
    neither single-modality pass can do alone: edges are the union of
    image near-dup relations (equal 9x8 dHash over decoded pixels) and
    caption exact-dup relations (equal caption text), resolved to
    connected components by the same iterative min-label operator as
    dedup_clusters. An image-dup chain A~B joined to a caption-dup chain
    B~C lands all three in one cluster (diameter 2+ — the one-hop
    approximations used by per-modality oracles don't apply, so the SQL
    twin runs a real recursive-CTE label propagation).

    Scale shape: per-modality groups collapse to STAR edges around their
    min member (|group| - 1 edges, never the quadratic pairs), and the
    component resolution is O(diameter) shuffles."""
    imgs = _synth_images(spark, sf_dir, 400).withColumn(
        "caption", F.format_string("caption %d", F.col("_i") % 120)
    )
    dh = MM.dhash_features(imgs)
    img_star = dh.groupBy("dhash").agg(F.min("image_id").alias("id_a"))
    img_edges = (
        dh.join(F.broadcast(img_star), "dhash")
        .filter(F.col("image_id") != F.col("id_a"))
        .select("id_a", F.col("image_id").alias("id_b"))
    )
    cap_star = imgs.groupBy("caption").agg(F.min("image_id").alias("id_a"))
    cap_edges = (
        imgs.join(F.broadcast(cap_star), "caption")
        .filter(F.col("image_id") != F.col("id_a"))
        .select("id_a", F.col("image_id").alias("id_b"))
    )
    pairs = img_edges.unionByName(cap_edges)
    nodes = imgs.select(F.col("image_id").alias("doc_id"))
    return DD.duplicate_clusters(nodes, pairs, id_col="doc_id").select(
        F.col("doc_id").alias("image_id"), "cluster_id"
    )


_CROSSMODAL_DEDUP_SQL = """
WITH RECURSIVE img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 400
), bit AS (
  SELECT i, c AS k,
    ((((c % 8) + 1) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251
      > (((c % 8) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251 AS b
  FROM (SELECT i, w, unnest(range(0, 64)) AS c FROM img)
), h AS (
  SELECT i,
    CAST(sum(CASE WHEN b THEN (1::HUGEINT << k) ELSE 0 END)
         - CASE WHEN max(CASE WHEN b AND k = 63 THEN 1 ELSE 0 END) = 1
                THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT) AS dhash
  FROM bit GROUP BY i
), stars AS (
  SELECT min(i) OVER (PARTITION BY dhash) AS src, i AS dst FROM h
  UNION ALL
  SELECT min(i) OVER (PARTITION BY i % 120) AS src, i AS dst FROM h
), edges AS (
  SELECT src, dst FROM stars WHERE src != dst
  UNION ALL
  SELECT dst, src FROM stars WHERE src != dst
), lbl(id, l) AS (
  SELECT i, i FROM h
  UNION
  SELECT e.dst, lbl.l FROM lbl JOIN edges e ON e.src = lbl.id
)
SELECT printf('img%012d', id) AS image_id,
       printf('img%012d', min(l)) AS cluster_id
FROM lbl GROUP BY id
"""


def q_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image CURATION stage (the image-axis mirror of
    q_dedup_pipeline): perceptual dedup first (dHash groups collapse to
    their min image_id — one 8-byte-key shuffle), then a quality gate
    over the survivors (contrast spread px_max - px_min, integer-exact on
    both engines), then the global top-10 by (spread desc, id asc). The
    oracle recomputes dHash, the survivor set, and the spread from the
    pixel formula in pure SQL."""
    imgs = _synth_images(spark, sf_dir, 800)
    dh = MM.dhash_features(imgs)
    keep = dh.groupBy("dhash").agg(F.min("image_id").alias("image_id"))
    survivors = imgs.join(F.broadcast(keep), "image_id", "leftsemi")
    stats = MM.decode_stats(survivors).select(
        "image_id", (F.col("px_max") - F.col("px_min")).alias("spread")
    )
    wnd = Window.orderBy(F.col("spread").desc(), F.col("image_id").asc())
    return (
        stats.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= 10)
        .select("rank", "image_id", "spread")
    )


_IMAGE_PIPELINE_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 800
), bit AS (
  SELECT i, c AS k,
    ((((c % 8) + 1) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251
      > (((c % 8) * w // 9) * 3 + ((c // 8) * w // 8) * 7 + i * 13) % 251 AS b
  FROM (SELECT i, w, unnest(range(0, 64)) AS c FROM img)
), h AS (
  SELECT i,
    CAST(sum(CASE WHEN b THEN (1::HUGEINT << k) ELSE 0 END)
         - CASE WHEN max(CASE WHEN b AND k = 63 THEN 1 ELSE 0 END) = 1
                THEN (1::HUGEINT << 64) ELSE 0::HUGEINT END AS BIGINT) AS dhash
  FROM bit GROUP BY i
), keep AS (
  SELECT min(i) AS i FROM h GROUP BY dhash
), px AS (
  SELECT img.i, img.w, unnest(range(0, img.w * img.w)) AS p
  FROM img JOIN keep ON keep.i = img.i
), v AS (
  SELECT i, ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v FROM px
), s AS (
  SELECT printf('img%012d', i) AS image_id,
         CAST(max(v) - min(v) AS BIGINT) AS spread
  FROM v GROUP BY i
), r AS (
  SELECT image_id, spread,
         row_number() OVER (ORDER BY spread DESC, image_id ASC) AS rank
  FROM s
)
SELECT CAST(rank AS INTEGER) AS rank, image_id, spread FROM r WHERE rank <= 10
"""


def q_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blur gate: integer-exact Laplacian energy per image (4-neighbor
    stencil over interior pixels, sum of squares — multimodal.
    sharpness_features).  The oracle recomputes L(x, y) directly from the
    deterministic pixel formula (x*3 + y*7 + i*13) % 251 in pure SQL, so
    every int64 energy must match exactly; mixed rawz/PNG rows mean a codec
    bug in either container breaks the hash."""
    imgs = _synth_images(spark, sf_dir, 150)
    return MM.sharpness_features(imgs).select("image_id", "lap_energy", "lap_count")


_IMAGE_SHARPNESS_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 150
), pos AS (
  SELECT i, w,
         (p % (w - 2)) + 1 AS x, (p // (w - 2)) + 1 AS y
  FROM (SELECT i, w, unnest(range(0, (w - 2) * (w - 2))) AS p FROM img)
), lap AS (
  SELECT i, w,
      4 * ((x * 3 + y * 7 + i * 13) % 251)
    - (((x - 1) * 3 + y * 7 + i * 13) % 251)
    - (((x + 1) * 3 + y * 7 + i * 13) % 251)
    - ((x * 3 + (y - 1) * 7 + i * 13) % 251)
    - ((x * 3 + (y + 1) * 7 + i * 13) % 251) AS L
  FROM pos
)
SELECT printf('img%012d', i) AS image_id,
       CAST(sum(L * L) AS BIGINT) AS lap_energy,
       CAST((w - 2) * (w - 2) AS BIGINT) AS lap_count
FROM lap GROUP BY i, w
"""


def q_image_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-based image search: 16-bin histogram features -> exact cosine
    top-5 per query image. Every histogram share is k/64 (an exact dyadic
    rational), so dot products and norms are EXACT in float64 and the
    DuckDB twin reproduces the scores bit-identically. The 3 query vectors
    broadcast; candidates never shuffle (scale path: swap the brute scan
    for similarity.cosine_topk_lsh at corpus scale)."""
    imgs = _synth_images(spark, sf_dir, 240, step=3)  # all 8x8
    hist = MM.histogram_features(imgs, bins=16)
    qids = [f"img{i:012d}" for i in (0, 30, 60)]
    q = hist.filter(F.col("image_id").isin(qids)).select(
        F.col("image_id").alias("query_id"), F.col("hist").alias("qh")
    )
    cand = hist.select(F.col("image_id").alias("cand_id"), F.col("hist").alias("ch"))
    dot = F.aggregate(
        F.zip_with("qh", "ch", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    pairs = (
        cand.join(F.broadcast(q), F.col("cand_id") != F.col("query_id"))
        .withColumn("cos", dot / (norm("qh") * norm("ch")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.col("cand_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "cand_id", "rank", F.round("cos", 6).alias("cos"))
    )


_IMAGE_SIMILARITY_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 240 AND p_partkey % 3 = 0
), px AS (
  SELECT i, unnest(range(0, 64)) AS p FROM img
), v AS (
  SELECT i, (((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251) // 16 AS b FROM px
), bins AS (
  SELECT i, unnest(range(0, 16)) AS bin FROM img
), hist AS (
  SELECT bins.i, bins.bin,
         round(coalesce(cnt.n, 0) / 64.0, 6) AS share
  FROM bins LEFT JOIN (SELECT i, b, count(*) AS n FROM v GROUP BY i, b) cnt
    ON cnt.i = bins.i AND cnt.b = bins.bin
), norms AS (
  SELECT i, sqrt(sum(share * share)) AS nrm FROM hist GROUP BY i
), pairs AS (
  SELECT q.i AS qi, c.i AS ci,
         sum(q.share * c.share) / (any_value(nq.nrm) * any_value(nc.nrm)) AS cos
  FROM hist q
  JOIN hist c ON c.bin = q.bin AND c.i <> q.i
  JOIN norms nq ON nq.i = q.i
  JOIN norms nc ON nc.i = c.i
  WHERE q.i IN (0, 30, 60)
  GROUP BY q.i, c.i
), ranked AS (
  SELECT qi, ci, cos,
         row_number() OVER (PARTITION BY qi ORDER BY cos DESC, printf('img%012d', ci)) AS rank
  FROM pairs
)
SELECT printf('img%012d', qi) AS query_id, printf('img%012d', ci) AS cand_id,
       CAST(rank AS INTEGER) AS rank, round(cos, 6) AS cos
FROM ranked WHERE rank <= 5
"""


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 documents by quality score (the filter stage of a
    training-data pipeline): window arg-max over the text-analysis columns."""
    docs = _t(spark, sf_dir, "documents")
    scored = TXT.text_features(docs).select(
        "doc_id", F.col("lang_pred").alias("lang"), "quality"
    )
    wnd = Window.partitionBy("lang").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "doc_id", "quality")
    )


_QUALITY_TOPK_SQL = f"""
WITH scored AS (
  SELECT doc_id, {TXT.lang_id_sql('text')} AS lang,
         {TXT.quality_score_sql('text')} AS quality
  FROM documents
), r AS (
  SELECT lang, doc_id, quality,
         row_number() OVER (PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT lang, rank, doc_id, quality FROM r WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# relational core / events


def q_spatial_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatio-temporal rollup (streaming/ops.windowed_cell_counts, batch
    form — the streaming(availableNow) == batch equivalence is pinned in
    tests/test_streaming.py): tumbling-hour point counts per res-5 cell
    over the events stream, locations derived from user_id by the shared
    closed-form. Output uses wall-clock fields from the window start so
    the comparison is timezone-independent."""
    from osm2geojson_spark.streaming.ops import windowed_cell_counts

    ev = _t(spark, sf_dir, "events").select(
        "ts",
        ((F.col("user_id") * 37 % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("user_id") * 53 % 170) - 85 + 0.5).cast("double").alias("lat"),
    )
    out = windowed_cell_counts(ev, res=5)
    return out.select(
        F.year("win_start").alias("y"),
        F.month("win_start").alias("m"),
        F.dayofmonth("win_start").alias("d"),
        F.hour("win_start").alias("h"),
        "cell_id",
        "n",
    )


def _spatial_window_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql(
        "CAST((user_id * 37 % 360) - 180 + 0.5 AS DOUBLE)",
        "CAST((user_id * 53 % 170) - 85 + 0.5 AS DOUBLE)",
        5,
    )
    return f"""
SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
       CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h,
       {cell} AS cell_id, count(*) AS n
FROM events GROUP BY 1, 2, 3, 4, 5
"""


def _traj_pings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic movement: each user drifts 3 deg east per day at a
    fixed latitude — multi-ping same-cell runs with daily cell changes."""
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        (((F.col("user_id") * 37 + F.dayofyear("ts") * 3) % 360) - 180 + 0.5)
        .cast("double")
        .alias("lon"),
        (((F.col("user_id") * 53) % 170) - 85 + 0.5).cast("double").alias("lat"),
    )


_TRAJ_PINGS_CTE = """
  SELECT user_id, ts,
         CAST(((user_id * 37 + dayofyear(ts) * 3) % 360) - 180 + 0.5 AS DOUBLE) AS lon,
         CAST(((user_id * 53) % 170) - 85 + 0.5 AS DOUBLE) AS lat
  FROM events
"""


def q_stay_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory stay-point detection (operators/trajectory.stay_points):
    maximal same-cell ping runs per user lasting >= 1 hour — the Li-et-al
    stay walk re-expressed as the lag-mismatch run-length window so a
    10^12-ping corpus needs ONE sort per user partition. Every decision is
    integer/timestamp-exact (cell runs, epoch-second durations), so the
    oracle replays the identical lag/sum/rollup algebra."""
    from osm2geojson_spark.operators.trajectory import stay_points

    return stay_points(
        _traj_pings(spark, sf_dir), res=6, min_duration_s=3600
    ).select("user_id", "stay_seq", "cell_id", "n_pings", "dur_s")


def _stays_sql(select: str) -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql("lon", "lat", 6)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), cells_t AS (
  SELECT user_id, ts, {cell} AS cell_id FROM pings
), runs AS (
  SELECT user_id, ts, cell_id,
    CASE WHEN lag(cell_id) OVER w IS NULL OR lag(cell_id) OVER w != cell_id
         THEN 1 ELSE 0 END AS nw
  FROM cells_t WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), r2 AS (
  SELECT user_id, ts, cell_id,
    sum(nw) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run
  FROM runs
), stays AS (
  SELECT user_id, run, cell_id, CAST(count(*) AS BIGINT) AS n_pings,
         min(ts) AS t0,
         CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur_s
  FROM r2 GROUP BY 1, 2, 3
  HAVING CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) >= 3600
), seq AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY t0) AS INTEGER)
           AS stay_seq,
         cell_id, n_pings, dur_s
  FROM stays
)
{select}
"""


def q_od_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix (trajectory.od_flows): consecutive stays
    per user become directed trips, rolled up over all users — one lead()
    window over the stay sequence plus a combiner rollup."""
    from osm2geojson_spark.operators.trajectory import od_flows, stay_points

    stays = stay_points(_traj_pings(spark, sf_dir), res=6, min_duration_s=3600)
    return od_flows(stays)


def _od_flows_sql() -> str:
    return _stays_sql(
        """SELECT from_cell, to_cell, CAST(count(*) AS BIGINT) AS n_trips
FROM (
  SELECT cell_id AS from_cell,
         lead(cell_id) OVER (PARTITION BY user_id ORDER BY stay_seq) AS to_cell
  FROM seq
) WHERE to_cell IS NOT NULL GROUP BY 1, 2"""
    )


def q_mobility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mobility features over the detected stays
    (trajectory.mobility_features): visit counts, distinct cells, and
    radius of gyration in cell units — the scaled-integer gyration
    numerator is exact int64, and rog is one sqrt + one divide per user
    (identically ordered in SQL)."""
    from osm2geojson_spark.operators.trajectory import mobility_features, stay_points

    stays = stay_points(_traj_pings(spark, sf_dir), res=6, min_duration_s=3600)
    return mobility_features(stays)


def _mobility_sql() -> str:
    xs, rs = 1 << 29, 1 << 58
    return _stays_sql(
        f"""SELECT user_id, CAST(count(*) AS BIGINT) AS n_stays,
       CAST(count(DISTINCT cell_id) AS BIGINT) AS n_cells,
       CAST(count(*) * sum(x * x) - sum(x) * sum(x)
            + count(*) * sum(y * y) - sum(y) * sum(y) AS BIGINT) AS gyr_num,
       round(sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x)
                       + count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE))
             / CAST(count(*) AS DOUBLE), 6) AS rog_cells
FROM (SELECT user_id, cell_id,
             (cell_id % {rs}) // {xs} AS x, cell_id % {xs} AS y FROM seq)
GROUP BY user_id"""
    )


def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour aggregation over the events stream table (batch form of
    the streaming windowed agg; wall-clock fields so the result is
    timezone-independent)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


_EVENTS_SQL = """
SELECT CAST(year(ts) AS INTEGER) AS y, CAST(month(ts) AS INTEGER) AS m,
       CAST(day(ts) AS INTEGER) AS d, CAST(hour(ts) AS INTEGER) AS h,
       event_type, count(*) AS n,
       round(min(value), 6) AS vmin, round(max(value), 6) AS vmax
FROM events GROUP BY 1, 2, 3, 4, 5
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch form of the streaming session_window
    operator). Session boundaries as epoch seconds — timezone-independent.
    Oracle: classic lag + cumulative-sum session reconstruction."""
    from osm2geojson_spark.streaming.ops import sessionized_counts

    ev = _t(spark, sf_dir, "events")
    s = sessionized_counts(ev, gap="30 minutes")
    # ts is TIMESTAMP_NTZ; session TZ is UTC, so ntz -> tz -> long is the
    # naive-wall-clock epoch (matching DuckDB's epoch() on naive timestamps)
    return s.select(
        "user_id",
        F.col("session_start").cast("timestamp").cast("long").alias("start_epoch"),
        F.col("session_end").cast("timestamp").cast("long").alias("end_epoch"),
        "n_events",
    )


_SESSIONIZE_SQL = """
WITH e AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), s AS (
  SELECT user_id, ts,
         sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800.0
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS end_epoch,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the custom stateful streaming operator
    (streaming/ops.running_user_stats, applyInPandasWithState): per-user
    running (n, sum, max); catch-up equality with the stream form is pinned
    by tests/test_streaming.py."""
    from osm2geojson_spark.streaming.ops import running_user_stats

    ev = _t(spark, sf_dir, "events")
    out = running_user_stats(ev)
    return out.select(
        "user_id", "n", F.round("v_sum", 6).alias("v_sum"), "v_max"
    )


_USER_STATS_SQL = """
SELECT user_id, count(*) AS n, round(sum(value), 6) AS v_sum, max(value) AS v_max
FROM events GROUP BY user_id
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature join (operators/asof.py): each purchase event
    gets the latest view event of the same user with view.ts <= purchase.ts
    within 1 hour, ties broken by max event_id — the leakage-free
    trades/quotes as-of join, done as ONE union + window shuffle (never a
    range-join explosion).  The oracle is a DuckDB LATERAL top-1, a
    different algorithm computing the same contract."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    j = ASOF.asof_join(
        p,
        v,
        by="user_id",
        ts_col="ts",
        payload_cols=["event_id", "ts", "value"],
        tie_col="event_id",
        tolerance_us=3_600_000_000,
        prefix="view_",
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
        F.col("view_event_id").alias("view_id"),
        F.unix_micros(F.col("view_ts").cast("timestamp")).alias("view_us"),
        F.col("view_value").alias("view_value"),
    )


_ASOF_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       m.event_id AS view_id,
       epoch_us(m.ts) AS view_us,
       m.value AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
  SELECT v.event_id, v.ts, v.value
  FROM events v
  WHERE v.event_type = 'view'
    AND v.user_id = p.user_id
    AND v.ts <= p.ts
    AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
  ORDER BY v.ts DESC, v.event_id DESC
  LIMIT 1
) m ON TRUE
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (streaming/ops.interval_join_purchase_views, run on
    batch frames — the identical plan drains as a watermarked stream-stream
    join, pinned by tests/test_streaming.py): ALL (purchase, view) pairs of
    the same user within a 1-hour lookback.  Oracle: the literal condition
    join."""
    from osm2geojson_spark.streaming.ops import interval_join_purchase_views

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    v = ev.filter(F.col("event_type") == "view")
    return interval_join_purchase_views(p, v, lookback_s=3600)


_INTERVAL_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_us,
       v.event_id AS view_id,
       epoch_us(v.ts) AS view_us,
       v.value AS view_value
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.ts <= p.ts
 AND v.ts >= p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: JSON props column -> extracted key -> bucketed
    aggregate (get_json_object stays JVM-side, no Python)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("v_sum"))
    )


_EVENTS_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n, round(sum(value), 6) AS v_sum
FROM events GROUP BY 1
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear-interpolation definitions)."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.9)))
    return (
        ev.groupBy("event_type")
        .agg(pct.alias("p"))
        .select(
            "event_type",
            F.round(F.element_at("p", 1), 6).alias("p25"),
            F.round(F.element_at("p", 2), 6).alias("p50"),
            F.round(F.element_at("p", 3), 6).alias("p75"),
            F.round(F.element_at("p", 4), 6).alias("p90"),
        )
    )


_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
"""


def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregate (grouping sets) over orders.

    Sums are exact DECIMAL internally; the output boundary converts to DOUBLE
    (a 2-dp decimal total fits in 53 bits of mantissa, and both engines do the
    identical round-to-nearest conversion of the same exact decimal) and maps
    rollup NULL grouping cells to 'ALL', so the driver's value hasher sees
    identical primitive cells regardless of how it renders Decimal/NULL.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "n",
            F.col("_total").cast("double").alias("total"),
        )
    )


_ROLLUP_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style multi-join chain: lineitem x orders x customer x
    nation x region, region-filtered (the filter pushes down to the region
    scan; nation/region broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("decimal(38,4)").alias("revenue"),
             F.count("*").alias("n_items"))
    )


_REGIONAL_REVENUE_SQL = """
SELECT n_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
       AS DECIMAL(38,4)) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style aggregate.

    DECIMAL money math internally (exact across engines); DOUBLE at the
    output boundary so the driver's value hasher sees identical primitive
    cells (both engines round-to-nearest the same exact decimal).
    """
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.sum(price).alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sum_qty").cast("double").alias("sum_qty"),
            F.col("sum_base_price").cast("double").alias("sum_base_price"),
            F.col("sum_disc_price").cast("double").alias("sum_disc_price"),
            "count_order",
        )
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
  count(*) AS count_order
FROM lineitem GROUP BY 1, 2
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("revenue")
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    wnd = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        rev.withColumn("rank", F.row_number().over(wnd))
        .filter(F.col("rank") <= 10)
        .select("rank", "c_custkey", "c_name", "revenue")
    )


_TOP_CUSTOMERS_SQL = """
WITH rev AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS revenue
  FROM orders GROUP BY 1
), r AS (
  SELECT c.c_custkey, c.c_name, rev.revenue,
         row_number() OVER (ORDER BY rev.revenue DESC, c.c_custkey ASC) AS rank
  FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey
)
SELECT rank, c_custkey, c_name, revenue FROM r WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial-join + tile-assignment of an image table against
    OSM-assembled fixture polygons (the north-star workload, small scale).

    Assembles the golden multipolygon fixtures through the full OSM
    pipeline, synthesizes a deterministic image table over their bbox,
    decodes phash -> points, cell-shards both sides, PIP-joins and reports
    per-(polygon, tile) assignment counts.
    """
    sf_dir = "/root/testdata/sf0.001"
    import osm2geojson_spark as o2g

    polys = []
    for i, name in enumerate(["relation.json", "issue-16.json", "map.json"]):
        with open(os.path.join(_REPO, "tests", "data", name)) as f:
            shapes = o2g.json2shapes(spark, f.read())
        for gpb, props in shapes:
            if gpb[0] in (GEO.GTYPE_POLYGON, GEO.GTYPE_MULTIPOLYGON):
                polys.append((len(polys), bytes(gpb)))
    polys_df = polygons_to_df(spark, polys)

    # image side: customers (from the sf table) + synthetic phash points
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("image_key"),
        SYN.phash_encode(
            _lon("c_custkey") / 50, _lat("c_custkey") / 50
        ).alias("phash"),  # compress toward the fixture bboxes around (0,0)
    )
    pts = cust.select(
        "image_key",
        SYN.phash_lon(F.col("phash")).alias("lon"),
        SYN.phash_lat(F.col("phash")).alias("lat"),
    )
    joined = point_in_polygon_join(pts, polys_df, res=6)
    return (
        joined.withColumn("tile", cells.cell_id(F.col("lon"), F.col("lat"), 9))
        .groupBy("poly_id", "tile")
        .agg(F.count("*").alias("n_images"))
        .orderBy("poly_id", "tile")
    )


def q_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X47 (geostat.idw_interpolate): inverse-distance-weighted
    interpolation of supplier values onto customer points within 400 km,
    fixed-point int64 weights (order-independent sums — the property that
    makes the distributed answer reproducible across cluster sizes and
    hash-identical to the serial oracle). Candidates come from the
    engine's within_distance_join (cell covering + haversine refine); the
    oracle brute-forces the cross join with the identical weight algebra."""
    from osm2geojson_spark.operators import geostat as GS

    targets = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("target_id"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    samples = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sample_id"),
        _lon("s_suppkey").alias("lon"),
        _lat("s_suppkey").alias("lat"),
        (F.col("s_suppkey") % 1000).alias("value"),
    )
    return GS.idw_interpolate(targets, samples, 400_000.0, power=2, res=6)


def _idw_sql() -> str:
    from osm2geojson_spark.operators import geostat as GS

    hav = KNN.haversine_sql("tlon", "tlat", "slon", "slat")
    w = GS.idw_weight_sql("hav", 2)
    return f"""
WITH t AS (
  SELECT c_custkey, {SYN.lon_sql('c_custkey')} AS tlon, {SYN.lat_sql('c_custkey')} AS tlat
  FROM customer
), s AS (
  SELECT s_suppkey, {SYN.lon_sql('s_suppkey')} AS slon, {SYN.lat_sql('s_suppkey')} AS slat,
         s_suppkey % 1000 AS v
  FROM supplier
), pairs AS (
  SELECT c_custkey, v, {w} AS w
  FROM (SELECT c_custkey, v, {hav} AS hav FROM t CROSS JOIN s) q
  WHERE hav <= 400000.0
)
SELECT c_custkey AS target_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(w) AS BIGINT) AS w_sum,
       CAST(SUM(w * v) AS BIGINT) AS wv_sum,
       round(CAST(SUM(w * v) AS DOUBLE) / CAST(SUM(w) AS DOUBLE), 6) AS pred
FROM pairs GROUP BY 1
"""


def q_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X48 (geostat.semivariogram): empirical Matheron semivariogram of
    customer values — every unordered pair of distinct points within
    400 km binned by 50 km lag, gamma = ssd / (2 n). ssd is an exact
    int64 sum of integer squared differences (any summation order), so
    the whole table hash-matches the brute-force oracle."""
    from osm2geojson_spark.operators import geostat as GS

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
        (F.col("c_custkey") % 997).alias("value"),
    )
    return GS.semivariogram(pts, 400_000.0, 50_000.0, res=6)


def _semivariogram_sql() -> str:
    hav = KNN.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH p AS (
  SELECT c_custkey AS pid, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat, c_custkey % 997 AS v
  FROM customer
), pr AS (
  SELECT CAST(floor(hav / 50000.0) AS BIGINT) AS bin,
         (bv - av) * (bv - av) AS sq
  FROM (
    SELECT a.pid AS ia, b.pid AS ib, a.v AS av, b.v AS bv,
           {hav} AS hav
    FROM p a CROSS JOIN p b WHERE a.pid < b.pid
  ) q
  WHERE hav <= 400000.0
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(sq) AS BIGINT) AS ssd,
       round(CAST(SUM(sq) AS DOUBLE) / (2.0 * CAST(COUNT(*) AS DOUBLE)), 6) AS gamma
FROM pr GROUP BY bin
"""


def q_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X49 (matching.snap_to_segments): map matching — snap every customer
    point to the nearest supplier road segment within 1 degree (planar
    point-to-segment distance, exact argmin with deterministic tie-break).
    Candidates come from segment-bbox covering cells vs the point's single
    cell (one shuffle, no pair duplication); the oracle brute-forces the
    cross join with the identical snap arithmetic."""
    from osm2geojson_spark.operators import matching as MATCH

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    sk = F.col("s_suppkey")
    ax = _lon("s_suppkey")
    ay = _lat("s_suppkey")
    segs = _t(spark, sf_dir, "supplier").select(
        sk.alias("seg_id"),
        ax.alias("ax"),
        ay.alias("ay"),
        (ax + ((sk * 13 + 5) % 41 - 20) * F.lit(0.15)).alias("bx"),
        (ay + ((sk * 29 + 11) % 41 - 20) * F.lit(0.15)).alias("by"),
    )
    return MATCH.snap_to_segments(pts, segs, radius_deg=1.0, res=6)


def _map_match_sql() -> str:
    from osm2geojson_spark.operators import matching as MATCH

    d2 = MATCH.segment_distance_sq_sql("lon", "lat", "ax", "ay", "bx", "by")
    return f"""
WITH p AS (
  SELECT c_custkey AS pid, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), s AS (
  SELECT s_suppkey AS seg_id, ax, ay,
         (ax + (((s_suppkey * 13 + 5) % 41) - 20) * 0.15) AS bx,
         (ay + (((s_suppkey * 29 + 11) % 41) - 20) * 0.15) AS by
  FROM (
    SELECT s_suppkey, {SYN.lon_sql('s_suppkey')} AS ax,
           {SYN.lat_sql('s_suppkey')} AS ay
    FROM supplier
  ) s0
), cand AS (
  SELECT pid, seg_id, {d2} AS d2
  FROM p CROSS JOIN s
  WHERE {d2} <= 1.0
)
SELECT pid, seg_id, CAST(rn AS INTEGER) AS snap_rank, d2
FROM (
  SELECT pid, seg_id, d2,
         row_number() OVER (PARTITION BY pid ORDER BY d2, seg_id) AS rn
  FROM cand
) q
WHERE rn <= 1
"""


def _order_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic detection boxes from order keys: one image per
    customer (~10 boxes/image at every SF — detection-shaped constant
    per-image density) with integer pixel boxes (exact IoU arithmetic on
    both engines)."""
    ok = F.col("o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("image_id"),
        ok.alias("box_id"),
        ((ok * 7) % 100).alias("x0"),
        ((ok * 13) % 100).alias("y0"),
        ((ok * 7) % 100 + (ok * 3) % 30 + 5).alias("x1"),
        ((ok * 13) % 100 + (ok * 5) % 30 + 5).alias("y1"),
    )


_ORDER_BOXES_SQL = (
    "SELECT o_custkey AS image_id, o_orderkey AS box_id,"
    " (o_orderkey * 7) % 100 AS x0, (o_orderkey * 13) % 100 AS y0,"
    " (o_orderkey * 7) % 100 + (o_orderkey * 3) % 30 + 5 AS x1,"
    " (o_orderkey * 13) % 100 + (o_orderkey * 5) % 30 + 5 AS y1"
    " FROM orders"
)


def q_box_iou(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50 (boxes.box_iou_join): detection-box IoU self-join — all
    same-image box pairs with IoU >= 0.3. Image-local quadratic work
    inside an image-id equi-join (the only shuffle); the threshold gate
    is cross-multiplied exact-integer, so the pair set is float-free and
    the oracle replays it bit-for-bit."""
    from osm2geojson_spark.operators import boxes as BX

    return BX.box_iou_join(_order_boxes(spark, sf_dir), 0.3)


def _box_iou_sql() -> str:
    from osm2geojson_spark.operators import boxes as BX

    return BX.iou_join_sql(0.3, _ORDER_BOXES_SQL)


def q_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51 (rasterize.rasterize_points + heatmap_tile_stats): heatmap
    rasterization of lineitem points onto the res-3 tile grid (16 px
    tiles), rolled up to exact per-tile stats whose checksum pins every
    pixel's position and count. One map-side-combinable groupBy — the
    plan is scan-shaped; the oracle replays the identical floor/div/mod
    pixel algebra."""
    from osm2geojson_spark.operators import rasterize as RAST

    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    pts = _t(spark, sf_dir, "lineitem").select(
        _lon(key).alias("lon"), _lat(key).alias("lat")
    )
    pc = RAST.rasterize_points(pts, res=3, tile_px=16)
    return RAST.heatmap_tile_stats(pc, tile_px=16)


def _rasterize_sql() -> str:
    from osm2geojson_spark.operators import rasterize as RAST

    key = "(l_orderkey * 8 + l_linenumber)"
    gx = RAST.axis_pixel_sql(SYN.lon_sql(key), -180.0, 360.0, 128)
    gy = RAST.axis_pixel_sql(SYN.lat_sql(key), -90.0, 180.0, 128)
    return f"""
WITH gp AS (
  SELECT {gx} AS gx, {gy} AS gy FROM lineitem
), px AS (
  SELECT gx // 16 AS tile_x, gy // 16 AS tile_y,
         gx % 16 AS px, gy % 16 AS py
  FROM gp
), pc AS (
  SELECT tile_x, tile_y, px, py, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM px GROUP BY 1, 2, 3, 4
)
SELECT tile_x, tile_y,
       CAST(SUM(cnt) AS BIGINT) AS n_points,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(MAX(cnt) AS BIGINT) AS max_cnt,
       CAST(SUM((px * 16 + py + 1) * cnt) AS BIGINT) AS checksum
FROM pc GROUP BY 1, 2
"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X52 (graph.bfs_hops): bounded multi-source BFS over a deterministic
    sparse road graph on part keys (two modular out-edges per node,
    traversed undirected) from the k % 97 == 0 source set, 4 hops.
    Driver-coordinated frontier rounds, one shuffle each, early exit; the
    oracle is a DuckDB recursive CTE with min-hop semantics."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 131 + 17) % n).alias("dst"))
    )
    sources = part.filter(k % 97 == 0).select(k.alias("node"))
    return G.bfs_hops(edges, sources, max_hops=4, directed=False)


def _bfs_hops_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 131 + 17) % (SELECT COUNT(*) FROM part) AS dst FROM part"
    )
    sources = "SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0"
    return G.bfs_hops_sql(edges, sources, max_hops=4, directed=False)


def q_resample_tracks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X54 (trajectory.resample_tracks): per-user trajectory resampling
    onto the 6-hour epoch grid by exact linear interpolation — integer-
    microsecond tick indices (div, never float) and an interpolation
    fraction dividing two exact int64 deltas, so both engines run the
    identical IEEE sequence. One per-user window + an output-bounded
    explode; no joins."""
    from osm2geojson_spark.operators.trajectory import resample_tracks

    out = resample_tracks(_traj_pings(spark, sf_dir), interval_s=6 * 3600)
    return out.select("user_id", "tick", "lon", "lat")


def _resample_tracks_sql() -> str:
    dt = 6 * 3600 * 1_000_000
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), p AS (
  SELECT user_id, ts, epoch_us(ts) AS t, lon, lat FROM pings
), seg AS (
  SELECT user_id, t, lon, lat,
         lead(t) OVER w AS t1, lead(lon) OVER w AS lon1, lead(lat) OVER w AS lat1
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ticks AS (
  SELECT user_id, t, t1, lon, lat, lon1, lat1,
         unnest(range((t + {dt - 1}) // {dt}, (t1 + {dt - 1}) // {dt})) AS tick
  FROM seg WHERE t1 IS NOT NULL
)
SELECT user_id, CAST(tick AS BIGINT) AS tick,
       lon + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lon1 - lon) AS lon,
       lat + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lat1 - lat) AS lat
FROM ticks
"""


def q_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55 (trajectory.colocation_pairs): co-traveler detection — distinct
    users resampled onto the shared 6-hour tick grid, paired when they
    occupy the same res-3 cell at the same tick, counted exactly. The
    (tick, cell) equi-join bounds candidates by instantaneous cell
    occupancy; the oracle replays resample + cell + self-join verbatim."""
    from osm2geojson_spark.operators.trajectory import colocation_pairs

    return colocation_pairs(
        _traj_pings(spark, sf_dir), interval_s=6 * 3600, res=3
    )


def _colocation_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    dt = 6 * 3600 * 1_000_000
    cell = CEL.cell_id_sql("lon", "lat", 3)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), p AS (
  SELECT user_id, ts, epoch_us(ts) AS t, lon, lat FROM pings
), seg AS (
  SELECT user_id, t, lon, lat,
         lead(t) OVER w AS t1, lead(lon) OVER w AS lon1, lead(lat) OVER w AS lat1
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ticks AS (
  SELECT user_id, t, t1, lon, lat, lon1, lat1,
         unnest(range((t + {dt - 1}) // {dt}, (t1 + {dt - 1}) // {dt})) AS tick
  FROM seg WHERE t1 IS NOT NULL
), sampled AS (
  SELECT user_id, tick, {cell} AS cell_id
  FROM (
    SELECT user_id, tick,
           lon + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lon1 - lon) AS lon,
           lat + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lat1 - lat) AS lat
    FROM ticks
  ) q
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(COUNT(*) AS BIGINT) AS n_ticks
FROM sampled a JOIN sampled b
  ON a.tick = b.tick AND a.cell_id = b.cell_id AND a.user_id < b.user_id
GROUP BY 1, 2
"""


def q_convoys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 (trajectory.convoy_episodes): convoy detection — maximal runs
    of CONSECUTIVE shared-cell ticks per pair (the flock/convoy refinement
    of colocation: co-presence must be unbroken in time, cells may change
    tick to tick). Same (tick, cell) candidate bound as colocation plus one
    pair-keyed islands window; tick arithmetic is all-int64 so the oracle
    replays resample + join + gaps-and-islands verbatim."""
    from osm2geojson_spark.operators.trajectory import convoy_episodes

    return convoy_episodes(
        _traj_pings(spark, sf_dir), interval_s=6 * 3600, res=3, min_len=2
    )


def _convoys_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    dt = 6 * 3600 * 1_000_000
    cell = CEL.cell_id_sql("lon", "lat", 3)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), p AS (
  SELECT user_id, ts, epoch_us(ts) AS t, lon, lat FROM pings
), seg AS (
  SELECT user_id, t, lon, lat,
         lead(t) OVER w AS t1, lead(lon) OVER w AS lon1, lead(lat) OVER w AS lat1
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ticks AS (
  SELECT user_id, t, t1, lon, lat, lon1, lat1,
         unnest(range((t + {dt - 1}) // {dt}, (t1 + {dt - 1}) // {dt})) AS tick
  FROM seg WHERE t1 IS NOT NULL
), sampled AS (
  SELECT user_id, tick, {cell} AS cell_id
  FROM (
    SELECT user_id, tick,
           lon + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lon1 - lon) AS lon,
           lat + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lat1 - lat) AS lat
    FROM ticks
  ) q
), m AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, a.tick
  FROM sampled a JOIN sampled b
    ON a.tick = b.tick AND a.cell_id = b.cell_id AND a.user_id < b.user_id
), runs AS (
  SELECT user_a, user_b, tick,
         tick - row_number() OVER (PARTITION BY user_a, user_b ORDER BY tick)
           AS grp
  FROM m
)
SELECT user_a, user_b,
       CAST(min(tick) AS BIGINT) AS start_tick,
       CAST(max(tick) AS BIGINT) AS end_tick,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM runs GROUP BY user_a, user_b, grp
HAVING count(*) >= 2
"""


def q_location_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86 (trajectory.location_entropy): per-user Shannon entropy of the
    cell-visit distribution — the mobility-predictability feature. The
    LOF-style quantization keeps the cross-cell sum exact int64 (s_q);
    only three identically-ordered float ops assemble the nats value.
    Two combiner rollups; the oracle replays count -> quantized term ->
    integer sum -> the same float assembly."""
    from osm2geojson_spark.operators.trajectory import location_entropy

    return location_entropy(_traj_pings(spark, sf_dir), res=6)


def _location_entropy_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql("lon", "lat", 6)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), cnt AS (
  SELECT user_id, {cell} AS cell_id, count(*) AS c
  FROM pings GROUP BY 1, 2
), t AS (
  SELECT user_id, c,
         CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6)
              AS BIGINT) AS tq
  FROM cnt
), agg AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_pings,
         CAST(count(*) AS BIGINT) AS n_cells,
         CAST(sum(tq) AS BIGINT) AS s_q
  FROM t GROUP BY 1
)
SELECT user_id, n_pings, n_cells, s_q,
       round(ln(CAST(n_pings AS DOUBLE))
             - (CAST(s_q AS DOUBLE) / 1e6) / CAST(n_pings AS DOUBLE), 6)
         + 0.0 AS entropy
FROM agg
"""


def q_kanon_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X85 (cells.kanon_cells): k-anonymity spatial publishing — every
    customer point assigned the finest cell in [res 2, res 6] whose
    RESIDUAL population (points not published finer) reaches k=5, with
    sub-k residue carried up and suppressed at the top: no published
    (cell, res) group is ever smaller than k (the naive finest-count>=k
    rule leaks singletons — pinned in tests). One count shuffle + cell-
    level publish/carry recursion + broadcast decision join; the oracle
    unrolls the identical recursion as filtered window sums."""
    from osm2geojson_spark.operators.cells import kanon_cells

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    return kanon_cells(pts, k=5, res_min=2, res_max=6)


def _kanon_cells_sql() -> str:
    from osm2geojson_spark.operators.cells import kanon_cells_sql

    cte = (
        f"SELECT {SYN.lon_sql('c_custkey')} AS lon,"
        f" {SYN.lat_sql('c_custkey')} AS lat FROM customer"
    )
    return kanon_cells_sql(cte, 5, 2, 6)


def q_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X84 (trajectory.covisitation): place-association matrix — PMI-scored
    cell pairs co-visited by the same user, from the stay-point visit set
    (support >= 2, deterministic 64-cells-per-user skew cap). Counts are
    exact int64; pmi is one log over an exact integer ratio. The oracle
    replays stays -> distinct visits -> hash-rank cap -> pair/marginal
    counts -> the identical log expression."""
    from osm2geojson_spark.operators.trajectory import covisitation, stay_points

    stays = stay_points(_traj_pings(spark, sf_dir), res=6, min_duration_s=3600)
    return covisitation(stays, min_support=2, max_cells_per_user=64)


def _covisitation_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.sampling import sample_hash_sql

    cell = CEL.cell_id_sql("lon", "lat", 6)
    h = sample_hash_sql("cell_id")
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), cells_t AS (
  SELECT user_id, ts, {cell} AS cell_id FROM pings
), runs AS (
  SELECT user_id, ts, cell_id,
    CASE WHEN lag(cell_id) OVER w IS NULL OR lag(cell_id) OVER w != cell_id
         THEN 1 ELSE 0 END AS nw
  FROM cells_t WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), r2 AS (
  SELECT user_id, ts, cell_id,
    sum(nw) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run
  FROM runs
), stays AS (
  SELECT user_id, run, cell_id
  FROM r2 GROUP BY 1, 2, 3
  HAVING CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) >= 3600
), visits0 AS (
  SELECT DISTINCT user_id, cell_id FROM stays
), capped AS (
  SELECT user_id, cell_id FROM (
    SELECT user_id, cell_id,
           row_number() OVER (PARTITION BY user_id ORDER BY {h}, cell_id)
             AS rk
    FROM visits0
  ) q WHERE rk <= 64
), nu AS (SELECT count(DISTINCT user_id) AS n FROM capped
), cn AS (
  SELECT cell_id, count(*) AS n FROM capped GROUP BY 1
), pairs AS (
  SELECT a.cell_id AS cell_a, b.cell_id AS cell_b, count(*) AS n_ab
  FROM capped a JOIN capped b
    ON a.user_id = b.user_id AND a.cell_id < b.cell_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT cell_a, cell_b, CAST(n_ab AS BIGINT) AS n_ab,
       round(ln(CAST(nu.n * n_ab AS DOUBLE)
                / CAST(na.n * nb.n AS DOUBLE)), 6) + 0.0 AS pmi
FROM pairs, nu
JOIN cn na ON na.cell_id = cell_a
JOIN cn nb ON nb.cell_id = cell_b
"""


def q_decayed_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82 (rasterize.decayed_heatmap): recency-weighted cell heat — every
    January ping weighted 2^(15 - age) with 2-day half-life bins ending
    2024-02-01, summed per res-4 cell. Power-of-two weights keep the
    statistic exact int64 in any summation order; pmod floor-div ages;
    scan -> combinable rollup, no window/join. The oracle replays the
    binning, gates, and shifts verbatim."""
    from osm2geojson_spark.operators.rasterize import decayed_heatmap

    return decayed_heatmap(
        _traj_pings(spark, sf_dir),
        res=4,
        t_end_s=1_706_745_600,  # 2024-02-01 UTC
        bin_s=2 * 86400,
        max_age_bins=15,
    )


def _decayed_heatmap_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    t_end_us = 1_706_745_600 * 1_000_000
    bin_us = 2 * 86400 * 1_000_000
    cell = CEL.cell_id_sql("lon", "lat", 4)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), e AS (
  SELECT {cell} AS cell_id,
         ({t_end_us} - epoch_us(ts)) // {bin_us} AS age
  FROM pings
), g AS (
  SELECT cell_id, age FROM e WHERE age >= 0 AND age <= 15
)
SELECT cell_id,
       CAST(sum(CAST(1 AS BIGINT) << CAST(15 - age AS INTEGER)) AS BIGINT)
         AS heat,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(age) AS BIGINT) AS newest_age
FROM g GROUP BY 1
"""


def q_track_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X83 (trajectory.track_bearing): course-over-ground + turn angle per
    leg of every user trajectory — one ordered window, trig in the
    identical operation order as the SQL twin (haversine precedent), and
    CASE-guarded single-add normalizations (no fmod round-trips, which
    are not IEEE no-ops). 6-decimal rounding on both engines."""
    from osm2geojson_spark.operators.trajectory import track_bearing

    out = track_bearing(_traj_pings(spark, sf_dir))
    return out.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("t_s"),
        "bearing_deg",
        "turn_deg",
    )


def _track_bearing_sql() -> str:
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), legs AS (
  SELECT user_id, ts, lon, lat,
         lead(lon) OVER w AS lon1, lead(lat) OVER w AS lat1
  FROM pings WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), b AS (
  SELECT user_id, ts,
         degrees(atan2(
           sin(radians(lon1 - lon)) * cos(radians(lat1)),
           cos(radians(lat)) * sin(radians(lat1))
             - sin(radians(lat)) * cos(radians(lat1)) * cos(radians(lon1 - lon))
         )) AS raw
  FROM legs WHERE lon1 IS NOT NULL
), nb AS (
  SELECT user_id, ts,
         CASE WHEN raw < 0 THEN raw + 360.0 ELSE raw END AS bearing
  FROM b
), t AS (
  SELECT user_id, ts, bearing,
         bearing - lag(bearing)
           OVER (PARTITION BY user_id ORDER BY ts) AS d
  FROM nb
)
SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_s,
       round(bearing, 6) + 0.0 AS bearing_deg,
       round(CASE WHEN d > 180 THEN d - 360.0
                  WHEN d <= -180 THEN d + 360.0
                  ELSE d END, 6) + 0.0 AS turn_deg
FROM t
"""


def q_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X74 (trajectory.trips): trip chaining — one row per inter-stay trip
    with depart/arrive epochs, exact travel seconds, and the straight-line
    cell-center haversine distance; the row-level od_flows (which is its
    rollup). One lead() window over stays; the oracle replays the stay
    construction + the identical center/haversine arithmetic."""
    from osm2geojson_spark.operators.trajectory import stay_points, trips

    stays = stay_points(_traj_pings(spark, sf_dir), res=6, min_duration_s=3600)
    out = trips(stays)
    return out.select(
        "user_id",
        "trip_seq",
        "from_cell",
        "to_cell",
        F.col("depart_ts").cast("timestamp").cast("long").alias("depart_s"),
        F.col("arrive_ts").cast("timestamp").cast("long").alias("arrive_s"),
        "travel_s",
        "dist_m",
    )


def _trips_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.knn import haversine_sql

    cell = CEL.cell_id_sql("lon", "lat", 6)

    def ctr(c):
        x = f"((({c}) % {1 << 58}) // {1 << 29})"
        y = f"(({c}) % {1 << 29})"
        return (
            f"(({x} + 0.5) / 64.0) * 360.0 - 180.0",
            f"(({y} + 0.5) / 64.0) * 180.0 - 90.0",
        )

    flon, flat = ctr("from_cell")
    tlon, tlat = ctr("to_cell")
    hav = haversine_sql(f"({flon})", f"({flat})", f"({tlon})", f"({tlat})")
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), cells_t AS (
  SELECT user_id, ts, {cell} AS cell_id FROM pings
), runs AS (
  SELECT user_id, ts, cell_id,
    CASE WHEN lag(cell_id) OVER w IS NULL OR lag(cell_id) OVER w != cell_id
         THEN 1 ELSE 0 END AS nw
  FROM cells_t WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), r2 AS (
  SELECT user_id, ts, cell_id,
    sum(nw) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run
  FROM runs
), stays AS (
  SELECT user_id, run, cell_id, min(ts) AS t0, max(ts) AS t1
  FROM r2 GROUP BY 1, 2, 3
  HAVING CAST(floor(epoch(max(ts))) AS BIGINT)
           - CAST(floor(epoch(min(ts))) AS BIGINT) >= 3600
), seq AS (
  SELECT user_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY t0) AS BIGINT)
           AS stay_seq,
         cell_id, t0, t1
  FROM stays
), tr AS (
  SELECT user_id, stay_seq AS trip_seq, cell_id AS from_cell,
         lead(cell_id) OVER w2 AS to_cell,
         t1 AS depart_ts, lead(t0) OVER w2 AS arrive_ts
  FROM seq WINDOW w2 AS (PARTITION BY user_id ORDER BY stay_seq)
)
SELECT user_id, trip_seq, from_cell, to_cell,
       CAST(floor(epoch(depart_ts)) AS BIGINT) AS depart_s,
       CAST(floor(epoch(arrive_ts)) AS BIGINT) AS arrive_s,
       CAST(floor(epoch(arrive_ts)) AS BIGINT)
         - CAST(floor(epoch(depart_ts)) AS BIGINT) AS travel_s,
       {hav} AS dist_m
FROM tr WHERE to_cell IS NOT NULL
"""


def q_lof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73 (knn.lof_scores): full Local Outlier Factor (k=3) over 200
    customer points — density-ratio outlier scoring that catches points
    NEXT TO clusters. Every aggregate is integer (mm-quantized reach
    sums, fixed-point lrd), so the result is bit-identical across
    engines and partitionings; one knn_graph pass + two id-keyed joins.
    The oracle replays the identical integer pipeline over the brute
    ranked cross join."""
    from osm2geojson_spark.operators.knn import lof_scores

    pts = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.col("c_custkey").alias("id"),
            _lon("c_custkey").alias("lon"),
            _lat("c_custkey").alias("lat"),
        )
    )
    return lof_scores(pts, k=3, res=6)


def _lof_sql() -> str:
    from osm2geojson_spark.operators import knn as KNN2

    hav = KNN2.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    scale = 1000 * 3 * KNN2.LOF_SCALE
    return f"""
WITH p AS (
  SELECT c_custkey AS k, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer WHERE c_custkey < 200
), d AS (
  SELECT a.k AS id, b.k AS nbr_id, {hav} AS dist
  FROM p a JOIN p b ON a.k <> b.k
), r AS (
  SELECT id, nbr_id, dist,
         row_number() OVER (PARTITION BY id ORDER BY dist, nbr_id) AS rn
  FROM d
), g AS (
  SELECT id, nbr_id, dist FROM r WHERE rn <= 3
), kd AS (
  SELECT id AS o, max(dist) AS okd FROM g GROUP BY id
), reach AS (
  SELECT g.id, g.nbr_id,
         CAST(floor(1000 * greatest(kd.okd, g.dist)) AS BIGINT) AS reach_mm
  FROM g JOIN kd ON kd.o = g.nbr_id
), rs AS (
  SELECT id, greatest(sum(reach_mm), 1) AS rs FROM reach GROUP BY id
), lrd AS (
  SELECT id AS pp, CAST({scale} AS BIGINT) // rs AS lrd FROM rs
), snl AS (
  SELECT g.id, CAST(sum(l.lrd) AS BIGINT) AS snl
  FROM g JOIN lrd l ON l.pp = g.nbr_id GROUP BY g.id
)
SELECT s.id, l.lrd AS lrd_q,
       round(CAST(s.snl AS DOUBLE) / (3.0 * CAST(l.lrd AS DOUBLE)), 6) AS lof
FROM snl s JOIN lrd l ON l.pp = s.id
"""


def q_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 (trajectory.dtw_distances): DTW trajectory similarity for
    the 500 strongest co-location candidate pairs over 6-hour resampled
    tracks — the co-movement verification stage. Sequential O(n*m) DP per
    pair (like NMS), grouped applyInPandas, candidates pre-gated so the
    quadratic term is per-pair only. Full value oracle since round 5:
    _dtw_sql unrolls the identical anti-diagonal wavefront as a DuckDB
    recursive CTE (glibc trig on both sides → bit-equal dp); also
    pinned by brute-force pytest parity
    (tests/test_trajectory.py::test_dtw_distances_matches_brute)."""
    from osm2geojson_spark.operators.trajectory import (
        colocation_pairs,
        dtw_distances,
        resample_tracks,
    )

    pings = _traj_pings(spark, sf_dir)
    tracks = resample_tracks(pings, interval_s=6 * 3600)
    # verify the 500 STRONGEST candidates (deterministic total order) —
    # the realistic shape: DTW confirms top co-location hits, it does not
    # re-score every weak pair (57k pairs x 116-tick DP at sf0.1 otherwise)
    pairs = (
        colocation_pairs(pings, interval_s=6 * 3600, res=3, resampled=tracks)
        .orderBy(F.desc("n_ticks"), "user_a", "user_b")
        .limit(500)
    )
    return dtw_distances(tracks, pairs.select("user_a", "user_b"))


def _dtw_sql() -> str:
    """Full VALUE oracle for q_dtw (round-5: was the one rows-only
    registry entry): the anti-diagonal DTW wavefront as a DuckDB
    recursive CTE. Each rec row carries cell (i, d-i)'s dp (``cur``)
    AND cell (i, d-1-i)'s (``prv``), so diagonal d+1 needs only the
    d rows: left = cur(i), up = cur(i-1), diag = prv(i-1) — single
    recursive reference, pure equi-join via the {0,1} delta table.
    Bit-exactness: sin/cos/sqrt and DuckDB's asin are all glibc calls
    bit-identical to the kernel (which uses math.asin, not np.arcsin,
    for exactly this reason); the DP then performs the identical
    min/+ sequence, so dtw_m matches to the last bit."""
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.knn import EARTH_RADIUS_M

    dt = 6 * 3600 * 1_000_000
    cell = CEL.cell_id_sql("lon", "lat", 3)
    return f"""
WITH RECURSIVE pings AS ({_TRAJ_PINGS_CTE}
), p AS (
  SELECT user_id, ts, epoch_us(ts) AS t, lon, lat FROM pings
), seg AS (
  SELECT user_id, t, lon, lat,
         lead(t) OVER w AS t1, lead(lon) OVER w AS lon1, lead(lat) OVER w AS lat1
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), tickrows AS (
  SELECT user_id, t, t1, lon, lat, lon1, lat1,
         unnest(range((t + {dt - 1}) // {dt}, (t1 + {dt - 1}) // {dt})) AS tick
  FROM seg WHERE t1 IS NOT NULL
), trk AS MATERIALIZED (
  SELECT user_id, tick, lon, lat,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY tick)
              AS BIGINT) - 1 AS pos
  FROM (
    SELECT user_id, tick,
           lon + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lon1 - lon) AS lon,
           lat + CAST(tick * {dt} - t AS DOUBLE) / CAST(t1 - t AS DOUBLE) * (lat1 - lat) AS lat
    FROM tickrows
  ) q
), sampled AS (
  SELECT user_id, tick, {cell} AS cell_id FROM trk
), prs AS MATERIALIZED (
  SELECT a.user_id AS ua, b.user_id AS ub
  FROM sampled a JOIN sampled b
    ON a.tick = b.tick AND a.cell_id = b.cell_id AND a.user_id < b.user_id
  GROUP BY 1, 2
  ORDER BY COUNT(*) DESC, ua, ub LIMIT 500
), prlen AS (
  SELECT pr.ua, pr.ub, na.cnt AS n, nb.cnt AS m
  FROM prs pr
  JOIN (SELECT user_id, COUNT(*) AS cnt FROM trk GROUP BY 1) na
    ON na.user_id = pr.ua
  JOIN (SELECT user_id, COUNT(*) AS cnt FROM trk GROUP BY 1) nb
    ON nb.user_id = pr.ub
), cost AS MATERIALIZED (
  SELECT ua, ub, i, j, i + j AS d,
         2.0 * {EARTH_RADIUS_M} * asin(sqrt(least(1.0,
             sdlat * sdlat + (cla1 * cla2) * (sdlon * sdlon)))) AS c
  FROM (
    SELECT pr.ua, pr.ub, ta.pos AS i, tb.pos AS j,
           sin((radians(tb.lat) - radians(ta.lat)) / 2) AS sdlat,
           sin((radians(tb.lon) - radians(ta.lon)) / 2) AS sdlon,
           cos(radians(ta.lat)) AS cla1, cos(radians(tb.lat)) AS cla2
    FROM prs pr
    JOIN trk ta ON ta.user_id = pr.ua
    JOIN trk tb ON tb.user_id = pr.ub
  ) z
), dd(delta) AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)))
), rec AS (
  SELECT ua, ub, CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS i,
         c AS cur, CAST(NULL AS DOUBLE) AS prv
  FROM cost WHERE i = 0 AND j = 0
  UNION ALL
  SELECT c.ua, c.ub, c.d, c.i,
         c.c + MIN(CASE WHEN dd.delta = 0 THEN w.cur
                        ELSE least(w.cur, w.prv) END) AS cur,
         MIN(CASE WHEN dd.delta = 0 THEN w.cur END) AS prv
  FROM rec w
  CROSS JOIN dd
  JOIN cost c ON c.ua = w.ua AND c.ub = w.ub
             AND c.d = w.d + 1 AND c.i = w.i + dd.delta
  GROUP BY c.ua, c.ub, c.d, c.i, c.c
)
SELECT r.ua AS user_a, r.ub AS user_b, r.cur AS dtw_m,
       pl.n AS n_a, pl.m AS n_b
FROM rec r
JOIN prlen pl ON pl.ua = r.ua AND pl.ub = r.ub
WHERE r.i = pl.n - 1 AND r.d = pl.n + pl.m - 2
"""


def q_spatial_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 (knn.knn_outliers): k-distance spatial outlier gate — each of
    200 customer points flagged when even its 3rd-nearest neighbor is
    beyond 2000 km. k_dist is a MAX (never a float sum) so it is exact;
    candidates come from knn_graph's ring rounds. The oracle ranks the
    brute cross join with the same (dist, id) order."""
    from osm2geojson_spark.operators.knn import knn_outliers

    pts = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select(
            F.col("c_custkey").alias("id"),
            _lon("c_custkey").alias("lon"),
            _lat("c_custkey").alias("lat"),
        )
    )
    return knn_outliers(pts, k=3, threshold_m=2_000_000.0, res=6)


def _spatial_outliers_sql() -> str:
    from osm2geojson_spark.operators import knn as KNN2

    hav = KNN2.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH p AS (
  SELECT c_custkey AS k, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer WHERE c_custkey < 200
), d AS (
  SELECT a.k AS id, b.k AS nbr_id, {hav} AS dist
  FROM p a JOIN p b ON a.k <> b.k
), r AS (
  SELECT id, dist,
         row_number() OVER (PARTITION BY id ORDER BY dist, nbr_id) AS rn
  FROM d
)
SELECT id, dist AS k_dist, dist > 2000000.0 AS is_outlier
FROM r WHERE rn = 3
"""


def q_geofence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 (streaming.ops.streaming_geofence_events, batch form): the
    geofence ALERT STREAM — enter at the first inside ping, exit stamped
    with the last inside ping once an outside ping arrives; a visit still
    open at end of history has no exit (exactly a paused live stream).
    The streaming form is pytest-pinned stream == batch across micro-batch
    boundaries; this batch twin gets the full SQL oracle (visit edges +
    an exists-later-ping gate for exits)."""
    from osm2geojson_spark.streaming.ops import streaming_geofence_events

    fences = [
        (int(r["fence_id"]), r["x0"], r["y0"], r["x1"], r["y1"])
        for r in _geofences(spark, sf_dir).collect()
    ]
    out = streaming_geofence_events(_traj_pings(spark, sf_dir), fences)
    return out.select(
        "user_id",
        "fence_id",
        "event",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
    )


def _geofence_events_sql() -> str:
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), fences AS ({_GEOFENCES_CTE}
), sq AS (
  SELECT user_id, ts, lon, lat,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS seq,
         max(ts) OVER (PARTITION BY user_id) AS last_ts
  FROM pings
), inside AS (
  SELECT s.user_id, f.fence_id, s.seq, s.ts, s.last_ts
  FROM sq s JOIN fences f
    ON s.lon >= f.x0 AND s.lon <= f.x1 AND s.lat >= f.y0 AND s.lat <= f.y1
), runs AS (
  SELECT user_id, fence_id, seq, ts, last_ts,
         seq - row_number() OVER (PARTITION BY user_id, fence_id ORDER BY seq) AS grp
  FROM inside
), visits AS (
  SELECT user_id, fence_id, min(ts) AS enter_ts, max(ts) AS exit_ts,
         max(last_ts) AS last_ts
  FROM runs GROUP BY user_id, fence_id, grp
)
SELECT user_id, fence_id, 'enter' AS event,
       CAST(floor(epoch(enter_ts)) AS BIGINT) AS ts_s
FROM visits
UNION ALL
SELECT user_id, fence_id, 'exit' AS event,
       CAST(floor(epoch(exit_ts)) AS BIGINT) AS ts_s
FROM visits WHERE exit_ts < last_ts
"""


def q_cell_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 (trajectory.cell_transitions): ping-level Markov transition
    matrix at res 5 with same-cell runs collapsed — the
    next-location-model training target (od_flows is the stay-gated
    sibling). Shared per-entity sort, lag/lead projections, one
    combinable (from, to) rollup; the oracle replays the identical
    collapse + lead algebra."""
    from osm2geojson_spark.operators.trajectory import cell_transitions

    return cell_transitions(_traj_pings(spark, sf_dir), res=5)


def _cell_transitions_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql("lon", "lat", 5)
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), seq AS (
  SELECT user_id, ts, lon, lat, {cell} AS cell_id FROM pings
), marked AS (
  SELECT user_id, ts, lon, lat, cell_id,
         lag(cell_id) OVER w AS prev
  FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY ts, lon, lat)
), collapsed AS (
  SELECT user_id, ts, lon, lat, cell_id FROM marked
  WHERE prev IS NULL OR prev != cell_id
), trans AS (
  SELECT cell_id AS from_cell, lead(cell_id) OVER w2 AS to_cell
  FROM collapsed WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, lon, lat)
)
SELECT from_cell, to_cell, CAST(count(*) AS BIGINT) AS n
FROM trans WHERE to_cell IS NOT NULL GROUP BY 1, 2
"""


def q_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68 (spatial_join.smallest_containing_box): reverse geocode —
    every customer point assigned its smallest containing geofence AOI
    (area, ties by id). Broadcast covering candidates + exact gate, then
    ONE map-side-combinable min-struct rollup (no window sort). The
    oracle brute-forces containment with identical area arithmetic and
    the same (area, id) ordering."""
    from osm2geojson_spark.operators.spatial_join import smallest_containing_box

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    fences = _geofences(spark, sf_dir)
    return smallest_containing_box(
        pts, fences, res=4, box_id="fence_id"
    )


def _reverse_geocode_sql() -> str:
    return f"""
WITH p AS (
  SELECT c_custkey AS pid, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), fences AS ({_GEOFENCES_CTE}
), cand AS (
  SELECT p.pid, f.fence_id, (f.x1 - f.x0) * (f.y1 - f.y0) AS area
  FROM p JOIN fences f
    ON p.lon >= f.x0 AND p.lon <= f.x1 AND p.lat >= f.y0 AND p.lat <= f.y1
)
SELECT pid, fence_id, area FROM (
  SELECT pid, fence_id, area,
         row_number() OVER (PARTITION BY pid ORDER BY area, fence_id) AS rn
  FROM cand
) q WHERE rn = 1
"""


def q_hist_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X67 (multimodal.equalize_images): per-image histogram equalization
    over 300 mixed rawz/png images — integer transfer function
    ((cdf - cdf_min) * 255) // (n - cdf_min), so every output pixel is
    engine-exact and the per-image stats hash-match an oracle that
    replays the pixel formula + a RANGE-frame window cdf in pure SQL.
    One mapInPandas (256-bin bincount + LUT gather — never a pixel
    sort), scan-shaped."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.equalize_images(imgs, with_bytes=False)


_HIST_EQUALIZE_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), v AS (
  SELECT i, w, ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v FROM px
), cdf AS (
  SELECT i, w, v,
         count(*) OVER (PARTITION BY i ORDER BY v
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cdf,
         min(v) OVER (PARTITION BY i) AS vmin,
         CAST(w AS BIGINT) * w AS n
  FROM v
), cm AS (
  SELECT i, w, v, cdf, n,
         sum(CASE WHEN v = vmin THEN 1 ELSE 0 END) OVER (PARTITION BY i)
           AS cdf_min
  FROM cdf
), eq AS (
  SELECT i, w,
         CASE WHEN n = cdf_min THEN 0
              ELSE ((cdf - cdf_min) * 255) // (n - cdf_min) END AS e
  FROM cm
)
SELECT printf('img%012d', i) AS image_id,
       CAST(w AS INTEGER) AS w, CAST(w AS INTEGER) AS h,
       CAST(sum(e) AS BIGINT) AS px_sum,
       CAST(min(e) AS BIGINT) AS px_min, CAST(max(e) AS BIGINT) AS px_max
FROM eq GROUP BY i, w
"""


def q_isochrone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X66 (graph.isochrone_cells over graph.shortest_dists): service-area
    coverage — bounded weighted shortest paths from the k % 97 == 0
    sources over the part road graph, nodes placed at their synthetic
    coordinates, cells at res 5 tagged with the smallest cost tier
    (15/35/80) that reaches them. Cell-set isochrones are the
    scale-correct shape (polygon outlines are a downstream polygonize);
    everything is integer-exact so the recursive-CTE + min/bucket oracle
    hash-matches."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 131 + 17) % n).alias("dst"))
    ).withColumn(
        "w", (F.lit(1) + (F.col("src") * 3 + F.col("dst") * 5) % 20).cast("long")
    )
    sources = part.filter(k % 97 == 0).select(k.alias("node"))
    dists = G.shortest_dists(edges, sources, max_hops=4, directed=False)
    coords = part.select(
        k.alias("node"), _lon(k).alias("lon"), _lat(k).alias("lat")
    )
    return G.isochrone_cells(dists, coords, tiers=[15, 35, 80], res=5)


def _isochrone_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT src, dst, CAST(1 + (src * 3 + dst * 5) % 20 AS BIGINT) AS w FROM ("
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 131 + 17) % (SELECT COUNT(*) FROM part) AS dst FROM part) e"
    )
    sources = "SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0"
    dists = G.shortest_dists_sql(edges, sources, max_hops=4, directed=False)
    coords = (
        f"SELECT p_partkey AS node, {SYN.lon_sql('p_partkey')} AS lon,"
        f" {SYN.lat_sql('p_partkey')} AS lat FROM part"
    )
    return G.isochrone_cells_sql(dists, coords, tiers=[15, 35, 80], res=5)


def q_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65 (spatial_join.bbox_intersect_join): image-footprint x AOI
    rectangle-intersection join — supplier scene footprints (0.5-4 deg)
    against the 25 nation geofence AOIs, emitting each intersecting pair
    exactly once with its intersection box via the PBSM reporting-cell
    rule (pair kept only in the cell holding the intersection's min
    corner — no distinct, no second shuffle). Oracle: brute cross join
    with identical greatest/least corner arithmetic."""
    from osm2geojson_spark.operators.spatial_join import bbox_intersect_join

    sk = F.col("s_suppkey")
    x0 = ((sk * 23) % 320) - 165
    y0 = ((sk * 41) % 150) - 78
    foot = _t(spark, sf_dir, "supplier").select(
        sk.alias("fid"),
        x0.cast("double").alias("x0"),
        y0.cast("double").alias("y0"),
        (x0 + 0.5 + (sk % 8) * 0.5).cast("double").alias("x1"),
        (y0 + 0.5 + (sk % 5) * 0.75).cast("double").alias("y1"),
    )
    fences = _geofences(spark, sf_dir).select(
        F.col("fence_id"), "x0", "y0", "x1", "y1"
    )
    return bbox_intersect_join(foot, fences, res=4, lid="fid", rid="fence_id")


def _bbox_join_sql() -> str:
    return f"""
WITH foot AS (
  SELECT s_suppkey AS fid,
         CAST(((s_suppkey * 23) % 320) - 165 AS DOUBLE) AS x0,
         CAST(((s_suppkey * 41) % 150) - 78 AS DOUBLE) AS y0,
         CAST(((s_suppkey * 23) % 320) - 165
              + 0.5 + (s_suppkey % 8) * 0.5 AS DOUBLE) AS x1,
         CAST(((s_suppkey * 41) % 150) - 78
              + 0.5 + (s_suppkey % 5) * 0.75 AS DOUBLE) AS y1
  FROM supplier
), fences AS ({_GEOFENCES_CTE}
)
SELECT f.fid, z.fence_id,
       greatest(f.x0, z.x0) AS ix0, greatest(f.y0, z.y0) AS iy0,
       least(f.x1, z.x1) AS ix1, least(f.y1, z.y1) AS iy1
FROM foot f JOIN fences z
  ON greatest(f.x0, z.x0) <= least(f.x1, z.x1)
 AND greatest(f.y0, z.y0) <= least(f.y1, z.y1)
"""


def q_track_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64 (trajectory.track_speed): per-ping implied speed + GPS-glitch
    flag (inbound speed > 30 m/s) over the drifting user tracks — the
    standard teleport pre-filter. One per-entity sort (shared with the
    whole trajectory family), everything else projection; deterministic
    (ts, lon, lat) ordering so duplicate timestamps cannot flap. The
    oracle replays the identical lag/haversine/divide sequence."""
    from osm2geojson_spark.operators.trajectory import track_speed

    out = track_speed(_traj_pings(spark, sf_dir), vmax_ms=30.0)
    return out.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        "lon",
        "lat",
        "dt_us",
        "dist_m",
        "speed_ms",
        "is_glitch",
    )


def _track_speed_sql() -> str:
    from osm2geojson_spark.operators.knn import haversine_sql

    hav = haversine_sql("lon0", "lat0", "lon", "lat")
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), p AS (
  SELECT user_id, ts, epoch_us(ts) AS t, lon, lat FROM pings
), s AS (
  SELECT user_id, ts, t, lon, lat,
         lag(t) OVER w AS t0, lag(lon) OVER w AS lon0, lag(lat) OVER w AS lat0
  FROM p WINDOW w AS (PARTITION BY user_id ORDER BY t, lon, lat)
)
SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, lon, lat,
       CAST(t - t0 AS BIGINT) AS dt_us,
       CASE WHEN t0 IS NOT NULL THEN {hav} END AS dist_m,
       CASE WHEN t0 IS NOT NULL AND t - t0 > 0
            THEN {hav} / (CAST(t - t0 AS DOUBLE) / 1000000.0) END AS speed_ms,
       COALESCE(CASE WHEN t0 IS NOT NULL AND t - t0 > 0
            THEN {hav} / (CAST(t - t0 AS DOUBLE) / 1000000.0) END > 30.0,
            false) AS is_glitch
FROM s
"""


def q_adaptive_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63 (cells.adaptive_cells): quadtree-style adaptive binning of
    lineitem points (every third squeezed into an 8x4 deg hotspot; cap
    300, res 2..6) rolled up to the bin histogram
    (cell_id, res, n) — dense regions split fine, sparse stay coarse.
    Counts shuffle once at res_max, the level rollups are cell-level
    relations, points re-join once on their res_max cell; ancestors
    derive by integer shifts (never re-floored doubles), so the SQL twin
    walks the identical integers."""
    from osm2geojson_spark.operators import cells as CEL

    key = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    base = _t(spark, sf_dir, "lineitem").select(
        key.alias("k"), _lon(key).alias("lon0"), _lat(key).alias("lat0")
    )
    # skewed density: every third point squeezes into an 8x4 deg hotspot
    # so the quadtree genuinely mixes depths (uniform points all land at
    # one res and the operator degenerates to a fixed grid)
    hot = F.col("k") % 3 == 0
    pts = base.select(
        F.when(hot, F.lit(8.0) + F.col("lon0") / 45.0)
        .otherwise(F.col("lon0"))
        .alias("lon"),
        F.when(hot, F.lit(40.0) + F.col("lat0") / 45.0)
        .otherwise(F.col("lat0"))
        .alias("lat"),
    )
    out = CEL.adaptive_cells(pts, cap=300, res_min=2, res_max=6)
    return out.groupBy("cell_id", "res").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


def _adaptive_bins_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    key = "(l_orderkey * 8 + l_linenumber)"
    pts = (
        f"SELECT CASE WHEN {key} % 3 = 0 THEN 8.0 + {SYN.lon_sql(key)} / 45.0"
        f" ELSE {SYN.lon_sql(key)} END AS lon,"
        f" CASE WHEN {key} % 3 = 0 THEN 40.0 + {SYN.lat_sql(key)} / 45.0"
        f" ELSE {SYN.lat_sql(key)} END AS lat"
        f" FROM lineitem"
    )
    inner = CEL.adaptive_cells_sql(pts, cap=300, res_min=2, res_max=6)
    return (
        f"SELECT cell_id, res, CAST(count(*) AS BIGINT) AS n FROM ({inner}) q"
        f" GROUP BY cell_id, res"
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 (graph.pagerank_int): 3 rounds of fixed-point integer PageRank
    over the directed deterministic road graph on part keys — node
    importance / intersection centrality. One combinable groupBy(dst)
    shuffle per round, degree join precomputed once; truncating int64
    division makes the score bit-identical across partitionings and
    engines, so the unrolled-CTE oracle hash-matches exactly."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 131 + 17) % n).alias("dst"))
    )
    return G.pagerank_int(edges, n_iters=3)


def _pagerank_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 131 + 17) % (SELECT COUNT(*) FROM part) AS dst FROM part"
    )
    return G.pagerank_sql(edges, n_iters=3)


def _dense_graph(spark: SparkSession, sf_dir: str):
    """Deterministic dense simple graph on a FIXED 211-node universe:
    every part row contributes two modular edges whose endpoints mix two
    COPRIME residues (k mod 211 and k mod 199), so the distinct edge set
    has period 211*199 in the key and genuinely densifies with sf
    (sf0.001: ~400 edges / 211 nodes; sf0.01: ~4000) — rich in triangles
    and nontrivial k-cores at every scale."""
    part = _t(spark, sf_dir, "part").select("p_partkey")
    k = F.col("p_partkey")
    return part.select(
        (k % 211).alias("src"), (((k % 199) * 7 + 3) % 211).alias("dst")
    ).unionByName(
        part.select(
            (k % 211).alias("src"), (((k % 199) * 131 + 17) % 211).alias("dst")
        )
    )


_DENSE_GRAPH_SQL = (
    "SELECT p_partkey % 211 AS src,"
    " ((p_partkey % 199) * 7 + 3) % 211 AS dst"
    " FROM part UNION ALL SELECT p_partkey % 211 AS src,"
    " ((p_partkey % 199) * 131 + 17) % 211 AS dst FROM part"
)


def q_resize_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122 (multimodal.resize_bilinear): exact 8.8 fixed-point bilinear
    resize of 250 mixed rawz/png images (8/16/24 px -> 12 px, so both
    up- and down-scaling paths run) — the anti-aliasing encoder-input
    downscale. Integer throughout, so the oracle recomputes all four
    taps and the rounding shift per output pixel from the deterministic
    pixel formula in pure SQL."""
    imgs = _synth_images(spark, sf_dir, 250)
    return MM.resize_bilinear(imgs, 12, 12, with_bytes=False)


def _resize_bilinear_sql() -> str:
    ow = 12

    def ax(t: str, n: str):
        fp = f"greatest(((2 * {t} + 1) * {n} * 128) // {ow} - 128, 0)"
        return fp

    v = "((%s) * 3 + (%s) * 7 + i * 13) %% 251"
    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 250
), opx AS (
  SELECT i, w, unnest(range(0, {ow} * {ow})) AS p FROM img
), fpm AS (
  SELECT i, w,
         {ax(f"(p % {ow})", "w")} AS sxf,
         {ax(f"(p // {ow})", "w")} AS syf
  FROM opx
), taps AS (
  SELECT i, w,
         sxf // 256 AS x0, least(sxf // 256 + 1, w - 1) AS x1, sxf % 256 AS fx,
         syf // 256 AS y0, least(syf // 256 + 1, w - 1) AS y1, syf % 256 AS fy
  FROM fpm
), val AS (
  SELECT i,
    ((256 - fy) * ((256 - fx) * ({v % ('x0', 'y0')}) + fx * ({v % ('x1', 'y0')}))
     + fy * ((256 - fx) * ({v % ('x0', 'y1')}) + fx * ({v % ('x1', 'y1')}))
     + 32768) // 65536 AS o
  FROM taps
)
SELECT printf('img%012d', i) AS image_id,
       CAST({ow} AS INTEGER) AS w, CAST({ow} AS INTEGER) AS h,
       CAST(sum(o) AS BIGINT) AS px_sum,
       CAST(min(o) AS BIGINT) AS px_min, CAST(max(o) AS BIGINT) AS px_max
FROM val GROUP BY i
"""


def q_cusum_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121 (streaming.ops.streaming_cusum): STATEFUL streaming CUSUM —
    state = one int64 per series carried across micro-batches
    (applyInPandasWithState, NoTimeout), per-batch walk vectorized via
    the carry identity; stream == batch pinned by
    tests/test_streaming.py::test_streaming_cusum_stream_equals_batch
    with a drift straddling a batch boundary. On this batch input the
    operator delegates to the relational window form — which is exactly
    the contract the parity test asserts."""
    from osm2geojson_spark.streaming.ops import streaming_cusum

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    return streaming_cusum(ev, "user_id", "event_id", "v_cents", 5000, 30_000)


def _cusum_stream_sql() -> str:
    from osm2geojson_spark.streaming.ops import cusum_alarms_sql

    return cusum_alarms_sql(
        "SELECT user_id, event_id,"
        " CAST(round(value * 100) AS BIGINT) AS v_cents FROM events",
        "user_id",
        "event_id",
        "v_cents",
        5000,
        30_000,
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X120 (sketch.profile_table): one-pass table profiling of four
    orders columns — row/null counts, Theta-sampled distinct estimates
    (deterministic string-fold gate), min/max strings. One aggregate,
    ONE scan (plan-pinned); the ingest-gate / schema-drift monitor."""
    from osm2geojson_spark.operators import sketch as SK

    od = _t(spark, sf_dir, "orders")
    return SK.profile_table(
        od, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        tau=500_000,
    )


def _profile_sql() -> str:
    from osm2geojson_spark.operators import sketch as SK

    return SK.profile_table_sql(
        "SELECT * FROM orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
        tau=500_000,
    )


def q_snm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X116 (dedup.snm_pairs): sorted-neighborhood ER blocking over
    supplier names (window 3, lev <= 2) — the classic recall/cost dial
    of entity resolution, complementing the lev1 deletion-neighborhood
    path. Candidates are exactly window*n; verify on candidates only."""
    from osm2geojson_spark.operators import dedup as DD

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return DD.snm_pairs(sup, "s_suppkey", "s_name", window=3, max_lev=2)


def _snm_dedup_sql() -> str:
    from osm2geojson_spark.operators import dedup as DD

    return DD.snm_pairs_sql(
        "SELECT s_suppkey, s_name FROM supplier",
        "s_suppkey",
        "s_name",
        window=3,
        max_lev=2,
    )


def q_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X112 (similarity.gram_matrix): the exact quantized Gram matrix
    G = Q^T Q of the embedding corpus — the PCA/whitening/covariance
    second-moment primitive. One int64 GEMM per Arrow batch, d(d+1)/2
    partial rows out per batch, one combinable groupBy; corpus vectors
    never shuffle and partials merge by addition (pinned by the
    partition-invariance test)."""
    from osm2geojson_spark.operators.similarity import gram_matrix

    emb = _t(spark, sf_dir, "embeddings")
    return gram_matrix(emb, "embedding", dim=_EMB_DIM)


def _gram_matrix_sql() -> str:
    from osm2geojson_spark.operators.similarity import gram_matrix_sql

    return gram_matrix_sql("SELECT vec_id, embedding FROM embeddings")


def q_cms_join_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X109 (sketch.cms_join_cardinality): join-size estimation from two
    count-min sketches — the broadcast-vs-shuffle planner primitive.
    est(|lineitem join orders on orderkey|) = min over depth of the
    sketch-row inner product; an upper bound that is exact when the
    width separates the keys. Neither input shuffles: each side is one
    combinable groupBy down to <= 4*1024 rows."""
    from osm2geojson_spark.operators import sketch as SK

    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    od = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return SK.cms_join_cardinality(
        SK.cms_build(li, "k", 4, 1024), SK.cms_build(od, "k", 4, 1024)
    )


def _cms_join_card_sql() -> str:
    from osm2geojson_spark.operators import sketch as SK

    return SK.cms_join_cardinality_sql(
        "SELECT l_orderkey AS k FROM lineitem",
        "SELECT o_orderkey AS k FROM orders",
        "k",
        4,
        1024,
    )


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X110 (dedup.lev1_join): Levenshtein<=1 fuzzy self-join via FastSS
    deletion-neighborhood blocking (complete candidate generator, exact
    verify on candidates only — never a cross join). Universe: the
    distinct part names (id = min part key of the name) plus
    deterministic one-character-deleted corruptions of every third
    part's name — so insert/delete/substitute matches all occur. Oracle:
    the brute-force cross join, a deliberately different algorithm."""
    from osm2geojson_spark.operators import dedup as DD

    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").alias("id")
    ).select("id", F.col("p_name").alias("s"))
    variants = part.filter(F.col("p_partkey") % 3 == 0).select(
        (F.col("p_partkey") + F.lit(1_000_000)).alias("id"),
        F.concat(
            F.expr("substring(p_name, 1, CAST(p_partkey % 8 AS INT))"),
            F.expr("substring(p_name, CAST(p_partkey % 8 AS INT) + 2)"),
        ).alias("s"),
    )
    uni = names.unionByName(variants)
    return DD.lev1_join(uni, "id", "s")


def _fuzzy_join_sql() -> str:
    from osm2geojson_spark.operators import dedup as DD

    uni = (
        "SELECT min(p_partkey) AS id, p_name AS s FROM part GROUP BY p_name"
        " UNION ALL SELECT p_partkey + 1000000 AS id,"
        " substring(p_name, 1, CAST(p_partkey % 8 AS INTEGER))"
        " || substring(p_name, CAST(p_partkey % 8 AS INTEGER) + 2) AS s"
        " FROM part WHERE p_partkey % 3 = 0"
    )
    return DD.lev1_join_sql(uni, "id", "s")


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X107 (sketch.bloom_build/bloom_probe): Bloom-filter semi-join
    pruning — THE shuffle-avoidance primitive: build a 4-word (192-bit)
    filter over a filtered dim (customers with key % 13 == 0), probe the
    fact side's keys broadcast-only. Deliberately undersized so false
    positives occur and the word-level parity (not just membership) is
    what the oracle verifies. No false negatives by construction."""
    from osm2geojson_spark.operators import sketch as SK

    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 13 == 0
    ).select(F.col("c_custkey").alias("k"))
    probe = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 800)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bloom = SK.bloom_build(cust, "k", n_words=4, n_hashes=3)
    return SK.bloom_probe(bloom, probe, "k", n_words=4, n_hashes=3)


def _bloom_semijoin_sql() -> str:
    from osm2geojson_spark.operators import sketch as SK

    return SK.bloom_probe_sql(
        "SELECT c_custkey AS k FROM customer WHERE c_custkey % 13 = 0",
        "SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey < 800",
        "k",
        n_words=4,
        n_hashes=3,
    )


_WARP_COEFFS = (247, -66, 1280, 66, 247, -512)  # ~15-degree rotation


def q_warp_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108 (multimodal.warp_affine): integer fixed-point nearest-
    neighbor affine warp (~15-degree rotation with negative intermediate
    sums) over 250 mixed rawz/png images — the geometric-augmentation /
    registration stage. The position map is pure integer floor
    arithmetic (arithmetic shift in the kernel, explicit floor in the
    twin), so canvas stats + in-bounds counts hash-match a pure-SQL
    recomputation of every pixel's source."""
    imgs = _synth_images(spark, sf_dir, 250)
    return MM.warp_affine(imgs, _WARP_COEFFS)


def _warp_affine_sql() -> str:
    a, b, c, d, e, f = _WARP_COEFFS
    sx = f"CAST(floor(({a} * x + {b} * y + {c}) / 256.0) AS BIGINT)"
    sy = f"CAST(floor(({d} * x + {e} * y + {f}) / 256.0) AS BIGINT)"
    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 250
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), src AS (
  SELECT i, w, {sx} AS sx, {sy} AS sy
  FROM (SELECT i, w, (p % w) AS x, (p // w) AS y FROM px) xy
), val AS (
  SELECT i, w,
         CASE WHEN sx >= 0 AND sx < w AND sy >= 0 AND sy < w
              THEN (sx * 3 + sy * 7 + i * 13) % 251 ELSE 0 END AS v,
         CASE WHEN sx >= 0 AND sx < w AND sy >= 0 AND sy < w
              THEN 1 ELSE 0 END AS inb
  FROM src
)
SELECT printf('img%012d', i) AS image_id,
       CAST(w AS INTEGER) AS w, CAST(w AS INTEGER) AS h,
       CAST(sum(v) AS BIGINT) AS px_sum,
       CAST(min(v) AS BIGINT) AS px_min, CAST(max(v) AS BIGINT) AS px_max,
       CAST(sum(inb) AS BIGINT) AS inb_count
FROM val GROUP BY i, w
"""


_OCT_XY = [
    (1.0, 0.0), (0.7071067811865476, 0.7071067811865476),
    (0.0, 1.0), (-0.7071067811865476, 0.7071067811865476),
    (-1.0, 0.0), (-0.7071067811865476, -0.7071067811865476),
    (0.0, -1.0), (0.7071067811865476, -0.7071067811865476),
]


def _poly_vertices(spark: SparkSession, sf_dir: str, limit: int = 200):
    """Deterministic octagon rings: one per part key, centered on the
    modular lon/lat formulas, radius 0.4 + 0.3*(i%5) degrees. Pure
    mul/add float ops — bit-identical across engines by IEEE."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < limit)
    i = F.col("p_partkey")
    clon = F.lit(-160.0) + (i % 320).cast("double")
    clat = F.lit(-60.0) + (i % 120).cast("double")
    r = F.lit(0.4) + (i % 5).cast("double") * F.lit(0.3)
    spine = F.array(*[
        F.struct(F.lit(k).alias("k"), F.lit(cx).alias("cx"), F.lit(cy).alias("cy"))
        for k, (cx, cy) in enumerate(_OCT_XY)
    ])
    v = part.select(
        i.alias("poly_id"), clon.alias("clon"), clat.alias("clat"),
        r.alias("r"), F.explode(spine).alias("s"),
    )
    return v.select(
        "poly_id",
        F.col("s.k").cast("long").alias("idx"),
        (F.col("clon") + F.col("r") * F.col("s.cx")).alias("lon"),
        (F.col("clat") + F.col("r") * F.col("s.cy")).alias("lat"),
    )


_POLY_VERTICES_SQL = (
    "SELECT p_partkey AS poly_id, s.k AS idx,"
    " (-160.0 + CAST(p_partkey % 320 AS DOUBLE)) + (0.4 + CAST(p_partkey % 5 AS DOUBLE) * 0.3) * s.cx AS lon,"
    " (-60.0 + CAST(p_partkey % 120 AS DOUBLE)) + (0.4 + CAST(p_partkey % 5 AS DOUBLE) * 0.3) * s.cy AS lat"
    " FROM part, (SELECT unnest(range(0, 8)) AS k,"
    " unnest(["
    + ", ".join(repr(cx) for cx, _ in _OCT_XY)
    + "]) AS cx, unnest(["
    + ", ".join(repr(cy) for _, cy in _OCT_XY)
    + "]) AS cy) s WHERE p_partkey < 200"
)


def q_geodesic_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X106 (geometry.geodesic_area): sphere-true polygon area via signed
    spherical excess (fan of tan-half-excess terms), each float term
    quantized to int64 steradian steps BEFORE the order-free integer
    rollup — the engine's quantized-term-sum discipline. 200 octagon
    rings spanning -60..+59 latitude, where planar shoelace is percent-
    level wrong. Per-polygon window + one combinable groupBy, zero UDF."""
    from osm2geojson_spark.operators import geometry as GM

    return GM.geodesic_area(_poly_vertices(spark, sf_dir, 200))


def _geodesic_area_sql() -> str:
    from osm2geojson_spark.operators import geometry as GM

    return GM.geodesic_area_sql(_POLY_VERTICES_SQL)


def q_distance_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X104 (multimodal.distance_transform_rows): exact L1 distance
    transform over 80 mixed rawz/png images, one output row per pixel
    row — the proximity field under morphological gates (dilate-by-r =
    threshold on dt). The engine runs the separable two-pass chamfer
    (exact for L1, pure int64); the oracle brute-forces min over mask
    pixels per pixel from the deterministic pixel formula — independent
    algorithms, field-level agreement."""
    imgs = _synth_images(spark, sf_dir, 80)
    return MM.distance_transform_rows(imgs, threshold=128)


_DISTANCE_TRANSFORM_SQL = """
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 80
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), v AS (
  SELECT i, w, (p % w) AS x, (p // w) AS y,
         ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
  FROM px
), m AS (
  SELECT i, x AS qx, y AS qy FROM v WHERE v >= 128
), dt AS (
  SELECT v.i, v.w, v.x, v.y,
         coalesce(min(abs(v.x - m.qx) + abs(v.y - m.qy)), 2 * v.w) AS dt
  FROM v LEFT JOIN m ON m.i = v.i
  GROUP BY v.i, v.w, v.x, v.y
), mc AS (
  SELECT i, y, sum(CASE WHEN v >= 128 THEN 1 ELSE 0 END) AS mcnt
  FROM v GROUP BY i, y
)
SELECT printf('img%012d', dt.i) AS image_id, CAST(dt.y AS INTEGER) AS y,
       CAST(sum(dt.dt) AS BIGINT) AS row_dt_sum,
       CAST(max(dt.dt) AS BIGINT) AS row_dt_max,
       CAST(min(mc.mcnt) AS BIGINT) AS row_mask_count
FROM dt JOIN mc ON mc.i = dt.i AND mc.y = dt.y
GROUP BY dt.i, dt.y
"""


def q_hog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105 (multimodal.hog_features): 8-bin magnitude-weighted gradient-
    orientation histograms (HOG-lite) over 300 mixed rawz/png images —
    the structure descriptor for blur gates and orientation-signature
    blocking. Octant code = two sign tests + one comparison (no atan2,
    no float); the oracle recomputes every central difference from the
    pixel formula in pure SQL, all 8 bins emitted per image."""
    imgs = _synth_images(spark, sf_dir, 300)
    return MM.hog_features(imgs)


def _hog_sql() -> str:
    def v(dx: int, dy: int) -> str:
        return f"(((x + {dx}) * 3 + (y + {dy}) * 7 + i * 13) % 251)"

    gx = f"({v(1, 0)} - {v(-1, 0)})"
    gy = f"({v(0, 1)} - {v(0, -1)})"
    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), inner_px AS (
  SELECT i, w, (p % w) AS x, (p // w) AS y FROM px
  WHERE (p % w) >= 1 AND (p % w) <= w - 2
    AND (p // w) >= 1 AND (p // w) <= w - 2
), g AS (
  SELECT i,
         4 * (CASE WHEN {gy} < 0 THEN 1 ELSE 0 END)
         + 2 * (CASE WHEN {gx} < 0 THEN 1 ELSE 0 END)
         + (CASE WHEN abs({gy}) > abs({gx}) THEN 1 ELSE 0 END) AS b,
         abs({gx}) + abs({gy}) AS wgt
  FROM inner_px
), spine AS (
  SELECT i, unnest(range(0, 8)) AS bin FROM img
), agg AS (
  SELECT i, b, sum(wgt) AS mag_sum, count(*) AS n_px FROM g GROUP BY i, b
)
SELECT printf('img%012d', spine.i) AS image_id,
       CAST(spine.bin AS INTEGER) AS bin,
       CAST(coalesce(agg.mag_sum, 0) AS BIGINT) AS mag_sum,
       CAST(coalesce(agg.n_px, 0) AS BIGINT) AS n_px
FROM spine LEFT JOIN agg ON agg.i = spine.i AND agg.b = spine.bin
"""


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X102 (sketch.cms_build + cms_estimate): count-min-sketch frequency
    estimates — build a 4x512 integer sketch over lineitem part keys (ONE
    map-side-combinable groupBy, <= 2048 rows out regardless of input
    size, mergeable cell-wise), then broadcast it against a fixed
    candidate key list. Narrow width on purpose: collisions happen and
    the min-over-depth semantics are what's verified, not just clean
    counts."""
    from osm2geojson_spark.operators import sketch as SK

    li = _t(spark, sf_dir, "lineitem")
    cand = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 7 == 0)
        .select(F.col("p_partkey").alias("k"))
    )
    cms = SK.cms_build(li.select(F.col("l_partkey").alias("k")), "k", 4, 512)
    return SK.cms_estimate(cms, cand, "k", 4, 512)


def _cms_topk_sql() -> str:
    from osm2geojson_spark.operators import sketch as SK

    return SK.cms_estimate_sql(
        "SELECT l_partkey AS k FROM lineitem",
        "SELECT p_partkey AS k FROM part WHERE p_partkey % 7 = 0",
        "k",
        4,
        512,
    )


def q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103 (sampling.pps_systematic): systematic probability-
    proportional-to-size sampling of orders by integer price weight —
    walk the key-ordered weight line, select every stride-th unit. Zero
    RNG (pure function of the relation); the prefix sum is the two-level
    scan (range buckets -> broadcast offsets -> parallel per-bucket
    windows), never a single-partition window. Oracle: serial window
    cumsum — independent mechanism, identical integers."""
    from osm2geojson_spark.operators import sampling as SA

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.ceil("o_totalprice").cast("long").alias("w")
    )
    return SA.pps_systematic(orders, "o_orderkey", "w", stride=2_000_000)


def _pps_sample_sql() -> str:
    from osm2geojson_spark.operators import sampling as SA

    return SA.pps_systematic_sql(
        "SELECT o_orderkey, CAST(ceil(o_totalprice) AS BIGINT) AS w FROM orders",
        "o_orderkey",
        "w",
        2_000_000,
    )


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 (graph.k_core): bounded k-core peeling (k=3, 8 synchronous
    rounds, early-exit) over the dense deterministic 211-node graph —
    the density-hierarchy / cohesive-subgraph primitive. Per round one
    map-side-combinable degree count + a survivor semi-join on the
    only-shrinking edge relation; the oracle unrolls identical rounds."""
    from osm2geojson_spark.operators import graph as G

    return G.k_core(_dense_graph(spark, sf_dir), k=3, n_rounds=8)


def _k_core_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.k_core_sql(_DENSE_GRAPH_SQL, k=3, n_rounds=8)


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X78 (graph.triangle_count): exact per-node triangle counting via
    the oriented (low-id -> high-id) two-hop join — each triangle found
    exactly once, credited to all three corners. Two equi-join shuffles
    + one combinable rollup; orientation caps the candidate volume."""
    from osm2geojson_spark.operators import graph as G

    return G.triangle_count(_dense_graph(spark, sf_dir))


def _triangles_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.triangle_count_sql(_DENSE_GRAPH_SQL)


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X173 (graph.link_scores): neighborhood link prediction over the
    dense modular graph — every non-adjacent pair sharing >= 2 neighbors
    scored with common-neighbor count, resource-allocation index (exact
    Σ floor(1e6/deg) micro-units — the log-free Adamic-Adar sibling) and
    Jaccard as an exact integer fraction. Wedge self-join + combinable
    rollup; integer end to end."""
    from osm2geojson_spark.operators import graph as G

    return G.link_scores(_dense_graph(spark, sf_dir), min_common=2)


def _link_prediction_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.link_scores_sql(_DENSE_GRAPH_SQL, min_common=2)


def q_st_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60 (spatial_join.spatiotemporal_join): contact/encounter join —
    event pairs within 300 km (haversine) AND within 4 hours, aid < bid.
    Candidates keyed by (cell, time bucket): the right side gets one
    composite key, the left explodes to covering cells x 3 adjacent
    buckets, so a year of data cuts each cell's candidates by the time
    spread. The oracle replays the same bucket equi-join with identical
    floor-div/haversine arithmetic."""
    from osm2geojson_spark.operators.spatial_join import spatiotemporal_join

    ev = _t(spark, sf_dir, "events")
    box = (-30.0, 30.0, 30.0, 70.0)  # regional density so encounters exist
    pts = ev.select(
        F.col("event_id").alias("pid"),
        SYN.lon_expr(F.col("event_id"), box).alias("lon"),
        SYN.lat_expr(F.col("event_id"), box).alias("lat"),
        "ts",
    )
    a = pts.select(F.col("pid").alias("aid"), "lon", "lat", "ts")
    b = pts.select(F.col("pid").alias("bid"), "lon", "lat", "ts")
    return spatiotemporal_join(
        a, b, 300_000.0, 4 * 3600.0, res=6, lid="aid", rid="bid"
    ).filter(F.col("aid") < F.col("bid"))


def _st_join_sql() -> str:
    from osm2geojson_spark.operators.knn import haversine_sql

    dt_us = 4 * 3600 * 1_000_000
    hav = haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    # deliberately candidate-scheme-free: ONLY the exact dist/time gates
    # define membership (a same-cell restriction would miss cross-cell
    # pairs); the time-bucket equi-join is a provable superset that keeps
    # the oracle off the full cross join
    return f"""
WITH p AS (
  SELECT event_id AS pid,
         {SYN.lon_sql('event_id', (-30.0, 30.0, 30.0, 70.0))} AS lon,
         {SYN.lat_sql('event_id', (-30.0, 30.0, 30.0, 70.0))} AS lat,
         epoch_us(ts) AS t
  FROM events
), a AS (
  SELECT pid, lon, lat, t,
         unnest([t // {dt_us} - 1, t // {dt_us}, t // {dt_us} + 1]) AS bucket
  FROM p
), b AS (
  SELECT pid, lon, lat, t, t // {dt_us} AS bucket FROM p
)
SELECT a.pid AS aid, b.pid AS bid, {hav} AS dist_m,
       CAST(b.t - a.t AS BIGINT) AS dt_us
FROM a JOIN b ON a.bucket = b.bucket
WHERE {hav} <= 300000.0 AND abs(b.t - a.t) <= {dt_us} AND a.pid < b.pid
"""


def q_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59 (geostat.kde_surface): Epanechnikov kernel density surface over
    customer points at res 6 with a 500 km bandwidth — the hotspot
    heatmap. Sparse-first: points explode to the cells covering their
    bandwidth disk, one combinable groupBy(cell); weights are floor-
    quantized fixed-point so sums are order-independent. The oracle
    brute-forces cells x points with identical center/haversine/kernel
    arithmetic."""
    from osm2geojson_spark.operators.geostat import kde_surface

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    return kde_surface(pts, 500_000.0, res=6)


def _kde_sql() -> str:
    from osm2geojson_spark.operators.geostat import kde_surface_sql

    pts = (
        f"SELECT {SYN.lon_sql('c_custkey')} AS lon,"
        f" {SYN.lat_sql('c_custkey')} AS lat FROM customer"
    )
    return kde_surface_sql(pts, 500_000.0, res=6)


def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X58 (graph.shortest_dists): bounded weighted shortest paths
    (travel-time isochrones) over the same deterministic road graph as
    bfs_hops, with edge weights 1 + (src*3 + dst*5) % 20 — Bellman-Ford
    rounds, one relax shuffle each, exact two-scalar fixed-point probe;
    the oracle enumerates walk states in a DuckDB recursive CTE and takes
    min(dist) per node."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"),
        ((k * 7 + 3) % n).alias("dst"),
    ).unionByName(
        part.select(k.alias("src"), ((k * 131 + 17) % n).alias("dst"))
    )
    edges = edges.withColumn(
        "w", (F.lit(1) + (F.col("src") * 3 + F.col("dst") * 5) % 20).cast("long")
    )
    sources = part.filter(k % 97 == 0).select(k.alias("node"))
    return G.shortest_dists(edges, sources, max_hops=4, directed=False)


def _shortest_path_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT src, dst, CAST(1 + (src * 3 + dst * 5) % 20 AS BIGINT) AS w FROM ("
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 131 + 17) % (SELECT COUNT(*) FROM part) AS dst FROM part) e"
    )
    sources = "SELECT p_partkey AS node FROM part WHERE p_partkey % 97 = 0"
    return G.shortest_dists_sql(edges, sources, max_hops=4, directed=False)


def _geofences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fence boxes from nation keys: 10-50 deg wide, 10-40 deg
    tall, scattered over the globe (closed containment; integer-valued
    double corners so both engines compare identical doubles)."""
    n = F.col("n_nationkey")
    x0 = ((n * 47) % 300) - 170
    y0 = ((n * 31) % 150) - 80
    return _t(spark, sf_dir, "nation").select(
        n.alias("fence_id"),
        x0.cast("double").alias("x0"),
        y0.cast("double").alias("y0"),
        (x0 + 10 + (n % 5) * 10).cast("double").alias("x1"),
        (y0 + 10 + (n % 4) * 10).cast("double").alias("y1"),
    )


_GEOFENCES_CTE = """
  SELECT n_nationkey AS fence_id,
         CAST(((n_nationkey * 47) % 300) - 170 AS DOUBLE) AS x0,
         CAST(((n_nationkey * 31) % 150) - 80 AS DOUBLE) AS y0,
         CAST(((n_nationkey * 47) % 300) - 170
              + 10 + (n_nationkey % 5) * 10 AS DOUBLE) AS x1,
         CAST(((n_nationkey * 31) % 150) - 80
              + 10 + (n_nationkey % 4) * 10 AS DOUBLE) AS y1
  FROM nation
"""


def q_geofence_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 (trajectory.geofence_visits): geofence enter/exit detection —
    each user's drifting track against 25 fence boxes; one row per visit
    (maximal run of consecutive pings inside a fence) with enter/exit
    epochs, ping count, and duration. Candidates via a broadcast (cell ->
    fence) covering table at res 4 with the exact bbox gate after — never
    a pings x fences nested loop; runs via gaps-and-islands over inside
    rows only. The oracle brute-forces containment and replays the
    identical seq/row_number algebra."""
    from osm2geojson_spark.operators.trajectory import geofence_visits

    out = geofence_visits(
        _traj_pings(spark, sf_dir), _geofences(spark, sf_dir), res=4
    )
    return out.select(
        "user_id",
        "fence_id",
        "visit_seq",
        F.col("enter_ts").cast("timestamp").cast("long").alias("enter_s"),
        F.col("exit_ts").cast("timestamp").cast("long").alias("exit_s"),
        "n_pings",
        "dur_s",
    )


def _geofence_visits_sql() -> str:
    return f"""
WITH pings AS ({_TRAJ_PINGS_CTE}
), fences AS ({_GEOFENCES_CTE}
), sq AS (
  SELECT user_id, ts, lon, lat,
         row_number() OVER (PARTITION BY user_id ORDER BY ts) AS seq
  FROM pings
), inside AS (
  SELECT s.user_id, f.fence_id, s.seq, s.ts
  FROM sq s JOIN fences f
    ON s.lon >= f.x0 AND s.lon <= f.x1 AND s.lat >= f.y0 AND s.lat <= f.y1
), runs AS (
  SELECT user_id, fence_id, seq, ts,
         seq - row_number() OVER (PARTITION BY user_id, fence_id ORDER BY seq) AS grp
  FROM inside
), visits AS (
  SELECT user_id, fence_id, min(ts) AS enter_ts, max(ts) AS exit_ts,
         CAST(count(*) AS BIGINT) AS n_pings
  FROM runs GROUP BY user_id, fence_id, grp
)
SELECT user_id, fence_id,
       CAST(row_number() OVER (PARTITION BY user_id, fence_id ORDER BY enter_ts) AS BIGINT) AS visit_seq,
       CAST(floor(epoch(enter_ts)) AS BIGINT) AS enter_s,
       CAST(floor(epoch(exit_ts)) AS BIGINT) AS exit_s,
       n_pings,
       CAST(floor(epoch(exit_ts)) AS BIGINT)
         - CAST(floor(epoch(enter_ts)) AS BIGINT) AS dur_s
FROM visits
"""


_RIPLEY_RADII = [25_000.0, 50_000.0, 100_000.0, 200_000.0]
_RIPLEY_AREA_M2 = 1.0e12  # 1000 km x 1000 km study window


def q_ripleys_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X87 (geostat.ripleys_k): Ripley's K / L point-pattern function over
    customer points at four analysis radii — exact int64 ordered-pair
    counts from ONE within_distance_join at max(r) (cell-covering
    candidates, never all pairs), then a 4-row broadcast-spine rollup.
    The oracle brute-forces the pair distances and replays the identical
    K/L float assembly."""
    from osm2geojson_spark.operators.geostat import ripleys_k

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    return ripleys_k(pts, _RIPLEY_RADII, _RIPLEY_AREA_M2, res=6)


def _ripleys_k_sql() -> str:
    import math as _m

    hav = KNN.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    radii = ", ".join(f"({r!r})" for r in _RIPLEY_RADII)
    a = repr(_RIPLEY_AREA_M2)
    k = f"{a} * CAST(n_pairs_le AS DOUBLE) / CAST(nn AS DOUBLE)"
    return f"""
WITH p AS (
  SELECT c_custkey AS pid, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), nsq AS (SELECT CAST(count(*) * count(*) AS DOUBLE) AS nn FROM p
), d AS (
  SELECT {hav} AS hav FROM p a JOIN p b ON a.pid < b.pid
), spine AS (SELECT * FROM (VALUES {radii}) t(r_m)
), cnt AS (
  SELECT r_m,
         CAST(2 * (SELECT count(*) FROM d WHERE hav <= r_m) AS BIGINT)
           AS n_pairs_le
  FROM spine
)
SELECT r_m, n_pairs_le,
       round({k}, 6) + 0.0 AS k_hat,
       round(sqrt(({k}) / {_m.pi!r}), 6) + 0.0 AS l_hat
FROM cnt, nsq
"""


def q_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X88 (geostat.clark_evans): Clark-Evans nearest-neighbor index of
    customer points — knn_graph(k=1) ring-round NN distances quantized to
    int64 mm (order-free sum), one-row R / z assembly. The oracle
    brute-forces each point's min distance and replays the identical
    float ops."""
    from osm2geojson_spark.operators.geostat import clark_evans

    pts = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        _lon("c_custkey").alias("lon"),
        _lat("c_custkey").alias("lat"),
    )
    return clark_evans(pts, _RIPLEY_AREA_M2, res=6)


def _clark_evans_sql() -> str:
    hav = KNN.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    a = repr(_RIPLEY_AREA_M2)
    return f"""
WITH p AS (
  SELECT c_custkey AS pid, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), nn AS (
  SELECT a.pid, min({hav}) AS d
  FROM p a JOIN p b ON a.pid != b.pid
  GROUP BY a.pid
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(d * 1e3) AS BIGINT)) AS BIGINT) AS sum_nn_mm
  FROM nn
)
SELECT n, sum_nn_mm,
  round((CAST(sum_nn_mm AS DOUBLE) / 1e3) / CAST(n AS DOUBLE), 6) + 0.0
    AS r_obs_m,
  round(0.5 * sqrt({a} / CAST(n AS DOUBLE)), 6) + 0.0 AS r_exp_m,
  round(((CAST(sum_nn_mm AS DOUBLE) / 1e3) / CAST(n AS DOUBLE))
        / (0.5 * sqrt({a} / CAST(n AS DOUBLE))), 6) + 0.0 AS ce_index,
  round(((CAST(sum_nn_mm AS DOUBLE) / 1e3) / CAST(n AS DOUBLE)
         - 0.5 * sqrt({a} / CAST(n AS DOUBLE)))
        / (0.26136 * sqrt({a}) / CAST(n AS DOUBLE)), 6) + 0.0 AS z
FROM agg
"""


def q_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98 (multimodal.median_filter_stats): 3x3 median denoise over 300
    mixed rawz/png 8x8 images — each interior pixel the exact 5th order
    statistic of its 9 int neighbors (no float anywhere), stats over the
    filtered interior. The oracle rebuilds every neighborhood from the
    deterministic pixel formula and takes quantile_disc 0.5."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.median_filter_stats(_synth_images(spark, sf_dir, 900, step=3))


_MEDIAN_FILTER_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), px AS (
  SELECT i, unnest(range(0, 36)) AS p FROM img
), ctr AS (
  SELECT i, (p % 6) + 1 AS x, (p // 6) + 1 AS y FROM px
), nb AS (
  SELECT i, x, y,
         ((x + (dd % 3) - 1) * 3 + (y + (dd // 3) - 1) * 7 + i * 13) % 251
           AS v
  FROM (SELECT i, x, y, unnest(range(0, 9)) AS dd FROM ctr) q
), med AS (
  SELECT i, x, y, quantile_disc(v, 0.5) AS m FROM nb GROUP BY i, x, y
)
SELECT printf('img%012d', i) AS image_id, 6 AS w, 6 AS h,
       CAST(sum(m) AS BIGINT) AS px_sum,
       CAST(min(m) AS BIGINT) AS px_min,
       CAST(max(m) AS BIGINT) AS px_max
FROM med GROUP BY i
"""


def q_theta_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96 (sketch.theta_distinct): Theta-sampling distinct-count sketch —
    distinct customers per order priority estimated from the hash-gated
    1/8 survivor set (filter BEFORE any shuffle; exact int64 survivor
    counts, one-divide estimate). Deterministic by construction, so the
    oracle replays the identical gate and assembly."""
    from osm2geojson_spark.operators.sampling import _H_MOD
    from osm2geojson_spark.operators.sketch import theta_distinct

    orders = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    return theta_distinct(
        orders, ["o_orderpriority"], "o_custkey", _H_MOD // 8
    )


def _theta_distinct_sql() -> str:
    from osm2geojson_spark.operators.sampling import _H_MOD
    from osm2geojson_spark.operators.sketch import theta_distinct_sql

    return theta_distinct_sql(
        "SELECT o_orderpriority, o_custkey FROM orders",
        ["o_orderpriority"],
        "o_custkey",
        _H_MOD // 8,
    )


def q_st_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X95 (spatial_stats.st_dbscan_cluster): ST-DBSCAN event-burst
    clustering — the q_dbscan point set (400 customers, eps 400 km,
    min_pts 3; nearest pair-to-cut gap 530 m at sf0.01) with a
    deterministic hour-grid timestamp (c_custkey % 96 hours) and a 6-hour
    temporal eps, so every time decision is an exact integer-hour
    comparison. Pairs come from the (cell, time-bucket) spatiotemporal
    join; the oracle floods the same space-AND-time eps-graph with a
    recursive CTE."""
    from osm2geojson_spark.operators.spatial_stats import st_dbscan_cluster

    k = F.col("c_custkey")
    pts = (
        _t(spark, sf_dir, "customer")
        .filter(k < 400)
        .select(
            k.alias("id"),
            _lon("c_custkey").alias("lon"),
            _lat("c_custkey").alias("lat"),
            F.timestamp_seconds(
                F.lit(1704067200) + (k % 96) * 3600
            ).alias("ts"),
        )
    )
    return st_dbscan_cluster(
        pts, 400_000.0, 6 * 3600.0, 3, id_col="id", res=6
    ).select("id", "is_core", "cluster_id")


def _st_dbscan_sql() -> str:
    hav = KNN.haversine_sql("a.lon", "a.lat", "b.lon", "b.lat")
    return f"""
WITH RECURSIVE p AS (
  SELECT c_custkey AS k, {SYN.lon_sql('c_custkey')} AS lon,
         {SYN.lat_sql('c_custkey')} AS lat, c_custkey % 96 AS h
  FROM customer WHERE c_custkey < 400
), pairs AS (
  SELECT a.k AS ida, b.k AS idb FROM p a JOIN p b
  ON a.k <> b.k AND abs(a.h - b.h) <= 6 AND {hav} <= 400000.0
), cnt AS (SELECT ida, count(*) AS c FROM pairs GROUP BY ida),
core AS (
  SELECT k FROM p LEFT JOIN cnt ON p.k = cnt.ida
  WHERE coalesce(c, 0) + 1 >= 3
), ce AS (
  SELECT ida, idb FROM pairs
  WHERE ida IN (SELECT k FROM core) AND idb IN (SELECT k FROM core)
), lbl(v, l) AS (
  SELECT k, k FROM core
  UNION
  SELECT ce.idb, lbl.l FROM lbl JOIN ce ON ce.ida = lbl.v
), ml AS (SELECT v, min(l) AS cluster_id FROM lbl GROUP BY v),
bl AS (
  SELECT ida AS v, min(ml.cluster_id) AS cluster_id
  FROM pairs JOIN ml ON pairs.idb = ml.v
  WHERE ida NOT IN (SELECT k FROM core)
  GROUP BY ida
), mem AS (
  SELECT v, cluster_id, TRUE AS is_core FROM ml
  UNION ALL
  SELECT v, cluster_id, FALSE AS is_core FROM bl
)
SELECT p.k AS id, coalesce(mem.is_core, FALSE) AS is_core, mem.cluster_id
FROM p LEFT JOIN mem ON p.k = mem.v
"""


def q_glcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X94 (multimodal.glcm_features): Haralick GLCM texture features at
    offset (1, 0) over 300 mixed rawz/png 8x8 images — co-occurrence
    counts of 16-level quantized pixel pairs, contrast/dissimilarity/
    energy exact int64 and homogeneity as a fixed-point integer weight
    table (no float anywhere). The oracle rebuilds the pair counts from
    the deterministic pixel formula."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.glcm_features(
        _synth_images(spark, sf_dir, 900, step=3), levels=16, dx=1, dy=0
    )


def _glcm_sql() -> str:
    from osm2geojson_spark.operators.multimodal import GLCM_HOMOG_SCALE

    w_case = "CASE " + " ".join(
        f"WHEN d = {d} THEN {round(GLCM_HOMOG_SCALE / (1 + d))}"
        for d in range(16)
    ) + " END"
    return f"""
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), px AS (
  SELECT i, unnest(range(0, 64)) AS p FROM img
), pair AS (
  SELECT i,
    (((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251) // 16 AS qa,
    (((p % 8 + 1) * 3 + (p // 8) * 7 + i * 13) % 251) // 16 AS qb
  FROM px WHERE p % 8 < 7
), cnt AS (
  SELECT i, qa, qb, CAST(count(*) AS BIGINT) AS n FROM pair GROUP BY 1, 2, 3
), feat AS (
  SELECT i, n, abs(qa - qb) AS d FROM cnt
)
SELECT printf('img%012d', i) AS image_id,
       CAST(sum(n) AS BIGINT) AS n_pairs,
       CAST(sum(n * d * d) AS BIGINT) AS contrast,
       CAST(sum(n * d) AS BIGINT) AS dissim,
       CAST(sum(n * n) AS BIGINT) AS energy,
       CAST(sum(n * ({w_case})) AS BIGINT) AS homog_q
FROM feat GROUP BY i
"""


def q_hexbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93 (cells.hex_cell): hexagonal-bin histogram of customer points
    (pointy-top axial grid, 2.5-degree circumradius) with axial coords
    and hex centers — the H3-style layout beside the square/geohash/
    quadkey/sphere families. Pure column arithmetic (codegen, no UDF);
    the oracle replays the identical fractional mapping and
    floor(v+0.5) cube rounding."""
    from osm2geojson_spark.operators import cells as CEL

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    size = 2.5
    out = pts.select(CEL.hex_cell(F.col("lon"), F.col("lat"), size).alias("hex"))
    agg = out.groupBy("hex").agg(F.count(F.lit(1)).cast("long").alias("n"))
    q, r = CEL.hex_qr(F.col("hex"))
    cx, cy = CEL.hex_center(F.col("hex"), size)
    return agg.select(
        "hex",
        q.alias("q"),
        r.alias("r"),
        (F.round(cx, 6) + F.lit(0.0)).alias("center_lon"),
        (F.round(cy, 6) + F.lit(0.0)).alias("center_lat"),
        "n",
    )


def _hexbin_sql() -> str:
    import math as _m

    from osm2geojson_spark.operators import cells as CEL

    hx = CEL.hex_cell_sql("lon", "lat", 2.5)
    s3 = _m.sqrt(3.0)
    off = CEL._HEX_OFF
    return f"""
WITH p AS (
  SELECT {SYN.lon_sql('c_custkey')} AS lon, {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), h AS (
  SELECT {hx} AS hex FROM p
), agg AS (
  SELECT hex, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY hex
), qr AS (
  SELECT hex, n, (hex // {1 << 30}) - {off} AS q,
         (hex % {1 << 30}) - {off} AS r
  FROM agg
)
SELECT hex, q, r,
       round(2.5 * ({s3!r} * CAST(q AS DOUBLE)
                    + {s3 / 2.0!r} * CAST(r AS DOUBLE)), 6) + 0.0
         AS center_lon,
       round(2.5 * (1.5 * CAST(r AS DOUBLE)), 6) + 0.0 AS center_lat,
       n
FROM qr
"""


def q_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X92 (graph.label_propagation): 3 synchronous rounds of
    deterministic label-propagation community detection over a
    block-structured road graph on part keys (8-node ring+chord blocks,
    sparse bridges every 16th node). Min-label tie-break + synchronous
    update = pure function of the edge set; the oracle unrolls the
    identical rounds."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    blk = (k - k % 8).alias("blk")
    ring = part.select(
        k.alias("src"), ((k - k % 8) + (k % 8 + 1) % 8).alias("dst")
    )
    chord = part.select(
        k.alias("src"), ((k - k % 8) + (k % 8 + 3) % 8).alias("dst")
    )
    bridge = part.filter(k % 16 == 0).select(
        k.alias("src"), ((k + 8) % n).alias("dst")
    )
    return G.label_propagation(
        ring.unionByName(chord).unionByName(bridge), n_iters=3
    )


def _lpa_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey - p_partkey % 8) + (p_partkey % 8 + 1) % 8 AS dst"
        " FROM part"
        " UNION ALL SELECT p_partkey,"
        " (p_partkey - p_partkey % 8) + (p_partkey % 8 + 3) % 8 FROM part"
        " UNION ALL SELECT p_partkey,"
        " (p_partkey + 8) % (SELECT count(*) FROM part) FROM part"
        " WHERE p_partkey % 16 = 0"
    )
    return G.label_propagation_sql(edges, n_iters=3)


def q_chaikin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X91 (geometry.smooth_geometries): one Chaikin corner-cut of the
    same 200 integer staircase polylines the DP query simplifies — the
    dyadic (3/4, 1/4) weights keep every smoothed coordinate exact
    float64, so the position-WEIGHTED sums (idx * coord, scaled x4) are
    exact integers pinning both the cut arithmetic AND the interleave
    order. The oracle rebuilds Q/R/endpoint rows with window lead and the
    identical weight expressions."""
    nf, nv = _SIMP_NF, _SIMP_NV
    base = spark.range(nf * nv).select(
        F.floor(F.col("id") / nv).cast("long").alias("f"),
        (F.col("id") % nv).alias("i"),
    )
    base = base.withColumn(
        "y",
        ((F.col("f") * 7919 + F.floor(F.col("i") / 4) * 104729) % 97) % 7,
    )
    pts = base.groupBy("f").agg(
        F.sort_array(F.collect_list(F.struct("i", "y"))).alias("vs")
    )

    def pack(it):
        for pdf in it:
            rows = [
                (int(f), GEO.linestring([[float(v["i"]), float(v["y"])] for v in vs]))
                for f, vs in zip(pdf["f"], pdf["vs"])
            ]
            yield pd.DataFrame(rows, columns=["feature_id", "gpb"])

    packed = pts.mapInPandas(pack, schema="feature_id long, gpb binary")
    from osm2geojson_spark.operators.geometry import smooth_geometries

    smooth = smooth_geometries(packed, iterations=1)

    def unpack(it):
        import numpy as np

        for pdf in it:
            rows = []
            for fid, buf in zip(pdf["feature_id"], pdf["gpb"]):
                c = np.asarray(
                    GEO.to_geojson_geometry(bytes(buf))["coordinates"]
                )
                idx = np.arange(len(c), dtype=np.float64)
                rows.append(
                    (
                        int(fid),
                        len(c),
                        int(round(4.0 * float((idx * c[:, 0]).sum()))),
                        int(round(4.0 * float((idx * c[:, 1]).sum()))),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["feature_id", "n_vertices", "wsum_x4", "wsum_y4"],
            )

    return smooth.mapInPandas(
        unpack,
        schema="feature_id long, n_vertices long, wsum_x4 long, wsum_y4 long",
    ).orderBy("feature_id")


_CHAIKIN_SQL = f"""
WITH v AS (
  SELECT (r // {_SIMP_NV}) AS f, (r % {_SIMP_NV}) AS i,
         (((r // {_SIMP_NV}) * 7919 + ((r % {_SIMP_NV}) // 4) * 104729) % 97) % 7 AS y
  FROM range({_SIMP_NF} * {_SIMP_NV}) t(r)
), seg AS (
  SELECT f, i, y, lead(y) OVER (PARTITION BY f ORDER BY i) AS y2
  FROM v
), pts AS (
  SELECT f, CAST(2 * i + 1 AS DOUBLE) AS idx,
         0.75 * i + 0.25 * (i + 1) AS x, 0.75 * y + 0.25 * y2 AS yy
  FROM seg WHERE y2 IS NOT NULL
  UNION ALL
  SELECT f, CAST(2 * i + 2 AS DOUBLE),
         0.25 * i + 0.75 * (i + 1), 0.25 * y + 0.75 * y2
  FROM seg WHERE y2 IS NOT NULL
  UNION ALL
  SELECT f, 0.0, CAST(i AS DOUBLE), CAST(y AS DOUBLE) FROM v WHERE i = 0
  UNION ALL
  SELECT f, CAST(2 * ({_SIMP_NV} - 1) + 1 AS DOUBLE),
         CAST(i AS DOUBLE), CAST(y AS DOUBLE)
  FROM v WHERE i = {_SIMP_NV} - 1
)
SELECT f AS feature_id, CAST(count(*) AS BIGINT) AS n_vertices,
       CAST(round(4.0 * sum(idx * x)) AS BIGINT) AS wsum_x4,
       CAST(round(4.0 * sum(idx * yy)) AS BIGINT) AS wsum_y4
FROM pts GROUP BY f
"""


def q_otsu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X89 (multimodal.otsu_threshold): per-image Otsu binarization
    threshold over 300 mixed rawz/png 8x8 images — exact int64 histogram
    cumulatives, engine-stable double score, smallest-t tie-break. The
    oracle rebuilds the 255-candidate scan from the deterministic pixel
    formula and replays the identical argmax."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.otsu_threshold(_synth_images(spark, sf_dir, 900, step=3))


def _otsu_sql() -> str:
    return """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), px AS (
  SELECT i, unnest(range(0, 64)) AS p FROM img
), v AS (
  SELECT i, ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS v FROM px
), hist AS (
  SELECT i, v, count(*) AS c FROM v GROUP BY i, v
), tot AS (
  SELECT i, CAST(sum(c) AS BIGINT) AS n, CAST(sum(v * c) AS BIGINT) AS s_all
  FROM hist GROUP BY i
), spine AS (
  SELECT i, unnest(range(0, 255)) AS t FROM img
), cum AS (
  SELECT spine.i, spine.t,
         CAST(coalesce(sum(h.c), 0) AS BIGINT) AS w0,
         CAST(coalesce(sum(h.v * h.c), 0) AS BIGINT) AS s0
  FROM spine LEFT JOIN hist h ON h.i = spine.i AND h.v <= spine.t
  GROUP BY spine.i, spine.t
), scored AS (
  SELECT cum.i, t, w0, tot.n - w0 AS w1,
         s0 * (tot.n - w0) - (tot.s_all - s0) * w0 AS num
  FROM cum JOIN tot ON tot.i = cum.i
  WHERE w0 > 0 AND w0 < tot.n
), ranked AS (
  SELECT i, t, w0, w1,
         CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
           / CAST(w0 * w1 AS DOUBLE) AS score,
         row_number() OVER (
           PARTITION BY i
           ORDER BY CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                      / CAST(w0 * w1 AS DOUBLE) DESC, t ASC
         ) AS rk
  FROM scored
)
SELECT printf('img%012d', i) AS image_id, CAST(t AS INTEGER) AS threshold,
       round(score, 6) + 0.0 AS score, w0 AS n_bg, w1 AS n_fg
FROM ranked WHERE rk = 1
"""


def q_image_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X90 (multimodal.image_moments): raw + central moments, centroid and
    principal orientation over 300 mixed-SIZE (8/16/24) mixed-format
    images — six exact int64 raw moments pin every pixel's (x, y)
    routing; cx/cy/theta replay the identical float assembly. The oracle
    recomputes the sums from the deterministic pixel formula with
    per-image width w = 8 * (1 + i % 3)."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.image_moments(_synth_images(spark, sf_dir, 300, step=1))


def _image_moments_sql() -> str:
    return """
WITH img AS (
  SELECT i, 8 * (1 + i % 3) AS w FROM (
    SELECT p_partkey AS i FROM part WHERE p_partkey < 300
  ) q
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), v AS (
  SELECT i, p % w AS x, p // w AS y,
         ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
  FROM px
), m AS (
  SELECT i,
         CAST(sum(v) AS BIGINT) AS m00,
         CAST(sum(x * v) AS BIGINT) AS m10,
         CAST(sum(y * v) AS BIGINT) AS m01,
         CAST(sum(x * x * v) AS BIGINT) AS m20,
         CAST(sum(x * y * v) AS BIGINT) AS m11,
         CAST(sum(y * y * v) AS BIGINT) AS m02
  FROM v GROUP BY i
), d AS (
  SELECT *, CAST(m10 AS DOUBLE) / CAST(m00 AS DOUBLE) AS cx,
            CAST(m01 AS DOUBLE) / CAST(m00 AS DOUBLE) AS cy
  FROM m
)
SELECT printf('img%012d', i) AS image_id, m00, m10, m01, m20, m11, m02,
       round(cx, 6) + 0.0 AS cx, round(cy, 6) + 0.0 AS cy,
       round(0.5 * atan2(
         2.0 * (CAST(m11 AS DOUBLE) - CAST(m10 AS DOUBLE) * cy),
         (CAST(m20 AS DOUBLE) - CAST(m10 AS DOUBLE) * cx)
           - (CAST(m02 AS DOUBLE) - CAST(m01 AS DOUBLE) * cy)
       ), 6) + 0.0 AS theta
FROM d
"""


def q_hist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HISTOGRAM MATCHING (multimodal.histogram_match): remap each
    source tile's distribution onto an independent reference tile with
    the exact cross-multiplied CDF LUT (no floats, sizes may differ).
    The oracle rebuilds both histograms from the pixel formula, windows
    the CDFs over the 0..255 spine, and takes min-u per source value."""
    from osm2geojson_spark.operators.multimodal import histogram_match

    k = F.col("s_suppkey")
    ia = ((F.lit(17) * k) % 251).cast("int")
    ib = ((F.lit(29) * k + 5) % 251).cast("int")
    w8 = F.lit(8).cast("int")
    pairs = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("pair_id"),
        SYN._encode_image_fmt_udf(ia, w8, w8, F.lit("rawz")).alias("bytes_a"),
        F.lit("rawz").alias("fmt_a"),
        SYN._encode_image_fmt_udf(ib, w8, w8, F.lit("rawz")).alias("bytes_b"),
        F.lit("rawz").alias("fmt_b"),
    )
    return histogram_match(pairs)


_HIST_MATCH_SQL = """
WITH s AS (
  SELECT s_suppkey AS pid,
         (17 * s_suppkey) % 251 AS ia,
         (29 * s_suppkey + 5) % 251 AS ib
  FROM supplier
), px AS (
  SELECT s.pid,
         ((p % 8) * 3 + (p // 8) * 7 + s.ia * 13) % 251 AS va,
         ((p % 8) * 3 + (p // 8) * 7 + s.ib * 13) % 251 AS vb
  FROM s, (SELECT unnest(range(0, 64)) AS p)
), spine AS (
  SELECT s.pid, t.v
  FROM s, (SELECT unnest(range(0, 256)) AS v) t
), ha AS (
  SELECT spine.pid, spine.v,
         CAST(COALESCE(c.n, 0) AS BIGINT) AS c
  FROM spine LEFT JOIN (
    SELECT pid, va AS v, count(*) AS n FROM px GROUP BY pid, va
  ) c ON c.pid = spine.pid AND c.v = spine.v
), hb AS (
  SELECT spine.pid, spine.v,
         CAST(COALESCE(c.n, 0) AS BIGINT) AS c
  FROM spine LEFT JOIN (
    SELECT pid, vb AS v, count(*) AS n FROM px GROUP BY pid, vb
  ) c ON c.pid = spine.pid AND c.v = spine.v
), cdfa AS (
  SELECT pid, v, c,
         CAST(sum(c) OVER (PARTITION BY pid ORDER BY v) AS BIGINT) AS cdf
  FROM ha
), cdfb AS (
  SELECT pid, v,
         CAST(sum(c) OVER (PARTITION BY pid ORDER BY v) AS BIGINT) AS cdf
  FROM hb
), lut AS (
  SELECT a.pid, a.v, a.c AS ca,
         CAST(min(b.v) AS BIGINT) AS u
  FROM cdfa a JOIN cdfb b
    ON b.pid = a.pid AND b.cdf * 64 >= a.cdf * 64
  WHERE a.c > 0
  GROUP BY a.pid, a.v, a.c
)
SELECT pid AS pair_id,
       CAST(sum(u * (v + 1)) AS BIGINT) AS lut_checksum,
       CAST(sum(ca * u) AS BIGINT) AS out_sum,
       CAST(min(u) AS BIGINT) AS out_min,
       CAST(max(u) AS BIGINT) AS out_max
FROM lut GROUP BY pid
"""


def q_min_seam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN VERTICAL SEAM (multimodal.min_seam): seam-carving DP over the
    8x8 tiles' interior energy grid — all-integer energies and dp, so
    the cost is engine-exact. The oracle UNROLLS the 6-row DP as chained
    CTEs with inline formula energies (generated, no recursion)."""
    from osm2geojson_spark.operators.multimodal import min_seam

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return min_seam(imgs)


_MIN_SEAM_SQL = "\nWITH img AS (\n  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0\n), g AS (\n  SELECT i, xs.x AS x, ys.y AS y\n  FROM img, (SELECT unnest(range(1, 7)) AS x) xs,\n       (SELECT unnest(range(1, 7)) AS y) ys\n), en AS (\n  SELECT i, x - 1 AS x, y - 1 AS y, CAST((abs((((x + 1) * 3 + (y + 0) * 7 + i * 13) % 251) - (((x + -1) * 3 + (y + 0) * 7 + i * 13) % 251)) + abs((((x + 0) * 3 + (y + 1) * 7 + i * 13) % 251) - (((x + 0) * 3 + (y + -1) * 7 + i * 13) % 251))) AS BIGINT) AS e FROM g\n), d0 AS (\n  SELECT i, x, e AS dp FROM en WHERE y = 0\n), d1 AS (\n  SELECT e.i, e.x, e.e + least(\n           COALESCE(pl.dp, 1099511627776),\n           pc.dp,\n           COALESCE(pr.dp, 1099511627776)) AS dp\n  FROM en e\n  JOIN d0 pc ON pc.i = e.i AND pc.x = e.x\n  LEFT JOIN d0 pl ON pl.i = e.i AND pl.x = e.x - 1\n  LEFT JOIN d0 pr ON pr.i = e.i AND pr.x = e.x + 1\n  WHERE e.y = 1\n), d2 AS (\n  SELECT e.i, e.x, e.e + least(\n           COALESCE(pl.dp, 1099511627776),\n           pc.dp,\n           COALESCE(pr.dp, 1099511627776)) AS dp\n  FROM en e\n  JOIN d1 pc ON pc.i = e.i AND pc.x = e.x\n  LEFT JOIN d1 pl ON pl.i = e.i AND pl.x = e.x - 1\n  LEFT JOIN d1 pr ON pr.i = e.i AND pr.x = e.x + 1\n  WHERE e.y = 2\n), d3 AS (\n  SELECT e.i, e.x, e.e + least(\n           COALESCE(pl.dp, 1099511627776),\n           pc.dp,\n           COALESCE(pr.dp, 1099511627776)) AS dp\n  FROM en e\n  JOIN d2 pc ON pc.i = e.i AND pc.x = e.x\n  LEFT JOIN d2 pl ON pl.i = e.i AND pl.x = e.x - 1\n  LEFT JOIN d2 pr ON pr.i = e.i AND pr.x = e.x + 1\n  WHERE e.y = 3\n), d4 AS (\n  SELECT e.i, e.x, e.e + least(\n           COALESCE(pl.dp, 1099511627776),\n           pc.dp,\n           COALESCE(pr.dp, 1099511627776)) AS dp\n  FROM en e\n  JOIN d3 pc ON pc.i = e.i AND pc.x = e.x\n  LEFT JOIN d3 pl ON pl.i = e.i AND pl.x = e.x - 1\n  LEFT JOIN d3 pr ON pr.i = e.i AND pr.x = e.x + 1\n  WHERE e.y = 4\n), d5 AS (\n  SELECT e.i, e.x, e.e + least(\n           COALESCE(pl.dp, 1099511627776),\n           pc.dp,\n           COALESCE(pr.dp, 1099511627776)) AS dp\n  FROM en e\n  JOIN d4 pc ON pc.i = e.i AND pc.x = e.x\n  LEFT JOIN d4 pl ON pl.i = e.i AND pl.x = e.x - 1\n  LEFT JOIN d4 pr ON pr.i = e.i AND pr.x = e.x + 1\n  WHERE e.y = 5\n), best AS (\n  SELECT i, dp, x,\n         row_number() OVER (PARTITION BY i ORDER BY dp ASC, x ASC) AS rn\n  FROM d5\n), et AS (\n  SELECT i, CAST(sum(e) AS BIGINT) AS energy_total FROM en GROUP BY i\n)\nSELECT printf('img%012d', best.i) AS image_id,\n       CAST(best.dp AS BIGINT) AS seam_cost,\n       CAST(best.x AS BIGINT) AS seam_end_x,\n       et.energy_total\nFROM best JOIN et ON et.i = best.i\nWHERE best.rn = 1\n"


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATER-FILLING TOKEN BUDGET (sampling.token_budget_fill): mix-plan
    allocation of a 200k-token budget over hash-sized domains — common
    water level tau* = max tau with sum min(c, tau) <= B found in closed
    form (no iteration), leftover +1 to the largest capped domains. The
    oracle replays the identical segment/window algebra in pure SQL."""
    from osm2geojson_spark.operators.sampling import token_budget_fill

    doms = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("domain"),
        ((F.col("s_suppkey") * 7919) % 10000 + 1).cast("long").alias("tokens"),
    )
    return token_budget_fill(doms, budget=200_000)


_TOKEN_BUDGET_SQL = """
WITH d AS (
  SELECT s_suppkey AS domain,
         CAST((s_suppkey * 7919) % 10000 + 1 AS BIGINT) AS tokens
  FROM supplier
), r AS (
  SELECT domain, tokens,
         CAST(row_number() OVER wa AS BIGINT) AS i,
         CAST(sum(tokens) OVER (wa ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS BIGINT) AS p,
         lead(tokens) OVER wa AS cnext,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(tokens) OVER () AS BIGINT) AS total
  FROM d WINDOW wa AS (ORDER BY tokens ASC, domain ASC)
), cand AS (
  SELECT CASE
    WHEN i < n
         AND CAST(floor(CAST(200000 - p AS DOUBLE)
                        / CAST(n - i AS DOUBLE)) AS BIGINT) >= tokens
         AND (cnext IS NULL
              OR CAST(floor(CAST(200000 - p AS DOUBLE)
                            / CAST(n - i AS DOUBLE)) AS BIGINT) < cnext)
         AND 200000 < total
    THEN CAST(floor(CAST(200000 - p AS DOUBLE)
                    / CAST(n - i AS DOUBLE)) AS BIGINT)
    WHEN i = 1
         AND CAST(floor(200000.0 / CAST(n AS DOUBLE)) AS BIGINT) < tokens
         AND 200000 < total
    THEN CAST(floor(200000.0 / CAST(n AS DOUBLE)) AS BIGINT)
  END AS t, total
  FROM r
), tau AS (
  SELECT max(t) AS tau, max(total) AS total FROM cand
), s AS (
  SELECT CAST(sum(least(d.tokens, tau.tau)) AS BIGINT) AS s_tau
  FROM d, tau
), ranked AS (
  SELECT d.domain, d.tokens, tau.tau, tau.total,
         s.s_tau,
         CASE WHEN d.tokens > tau.tau THEN
           row_number() OVER (PARTITION BY (d.tokens > tau.tau)
                              ORDER BY d.tokens DESC, d.domain ASC)
         END AS rn
  FROM d, tau, s
)
SELECT domain, tokens,
       CASE WHEN 200000 >= total THEN tokens
            ELSE least(tokens, tau)
                 + CASE WHEN tokens > tau AND rn <= 200000 - s_tau
                        THEN 1 ELSE 0 END
       END AS alloc,
       CASE WHEN 200000 >= total THEN FALSE ELSE tokens > tau END AS capped
FROM ranked
"""


def q_block_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCK MOTION (multimodal.block_motion): SAD block matching over
    synthetic frame pairs where frame B is an EXACT translation of frame
    A — the formula's phase algebra encodes a spatial shift (inv(13) mod
    251 = 58: phase_b = phase_a - 58*(3*dx+7*dy) mod 251), so the true
    offset scores SAD 0 and the matcher must recover it. The oracle
    enumerates the 25 candidate offsets with inline formula pixels and
    replays the (sad/overlap, dy, dx) ranking."""
    from osm2geojson_spark.operators.multimodal import block_motion

    k = F.col("s_suppkey")
    dx = (k % 5 - 2).cast("int")
    dy = (F.floor(k / 5) % 5 - 2).cast("int")
    ia = ((F.lit(17) * k) % 251).cast("int")
    shift = (F.lit(3) * dx + F.lit(7) * dy).cast("int")
    ib = F.pmod(ia - F.lit(58) * shift, F.lit(251)).cast("int")
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("pair_id"),
        ia.alias("_ia"),
        ib.alias("_ib"),
    )
    w8 = F.lit(8).cast("int")
    pairs = sup.select(
        "pair_id",
        SYN._encode_image_fmt_udf(F.col("_ia"), w8, w8, F.lit("rawz")).alias(
            "bytes_a"
        ),
        F.lit("rawz").alias("fmt_a"),
        SYN._encode_image_fmt_udf(F.col("_ib"), w8, w8, F.lit("rawz")).alias(
            "bytes_b"
        ),
        F.lit("rawz").alias("fmt_b"),
    )
    return block_motion(pairs, search=2)


_BLOCK_MOTION_SQL = """
WITH s AS (
  SELECT s_suppkey AS pair_id,
         (17 * s_suppkey) % 251 AS ia,
         ((((17 * s_suppkey) % 251)
           - 58 * (3 * (s_suppkey % 5 - 2)
                   + 7 * ((s_suppkey // 5) % 5 - 2))) % 251 + 251) % 251 AS ib
  FROM supplier
), offs AS (
  SELECT ox.dx, oy.dy
  FROM (SELECT unnest(range(-2, 3)) AS dx) ox,
       (SELECT unnest(range(-2, 3)) AS dy) oy
), cand AS (
  SELECT s.pair_id, o.dx, o.dy,
         CAST(sum(abs(
           ((g.x * 3 + g.y * 7 + s.ia * 13) % 251)
           - (((g.x + o.dx) * 3 + (g.y + o.dy) * 7 + s.ib * 13) % 251)
         )) AS BIGINT) AS sad,
         CAST(count(*) AS BIGINT) AS n
  FROM s, offs o,
       (SELECT xs.x, ys.y
        FROM (SELECT unnest(range(0, 8)) AS x) xs,
             (SELECT unnest(range(0, 8)) AS y) ys) g
  WHERE g.x + o.dx >= 0 AND g.x + o.dx < 8
    AND g.y + o.dy >= 0 AND g.y + o.dy < 8
  GROUP BY s.pair_id, o.dx, o.dy
), ranked AS (
  SELECT pair_id, dx, dy, sad, n,
         row_number() OVER (PARTITION BY pair_id
                            ORDER BY CAST(sad AS DOUBLE) / n, dy, dx) AS rn
  FROM cand
)
SELECT pair_id, CAST(dx AS BIGINT) AS best_dx, CAST(dy AS BIGINT) AS best_dy,
       sad AS best_sad, n AS overlap_px
FROM ranked WHERE rn = 1
"""


def q_image_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE ENTROPY (multimodal.image_entropy): per-tile Shannon
    entropy of the intensity histogram, micro-quantized terms before the
    order-free sum (location_entropy's scheme). The oracle rebuilds the
    histogram from the pixel formula and replays the identical float
    assembly."""
    from osm2geojson_spark.operators.multimodal import image_entropy

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return image_entropy(imgs)


_IMAGE_ENTROPY_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0
), px AS (
  SELECT i, ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS v
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img)
), hist AS (
  SELECT i, v, CAST(count(*) AS BIGINT) AS c FROM px GROUP BY i, v
), agg AS (
  SELECT i, CAST(sum(c) AS BIGINT) AS n_px,
         CAST(count(*) AS BIGINT) AS n_values,
         CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e6)
                       AS BIGINT)) AS BIGINT) AS s_q
  FROM hist GROUP BY i
)
SELECT printf('img%012d', i) AS image_id, n_px, n_values, s_q,
       round(ln(CAST(n_px AS DOUBLE)) - (s_q / 1e6) / n_px, 6) + 0.0
         AS entropy
FROM agg
"""


def q_polylabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLE OF INACCESSIBILITY (geometry.pole_of_inaccessibility): the
    polylabel label anchor of the integer L-shaped rings (centroid's
    fixture) — rasterize, EXACT L1 chamfer, deterministic argmax (max
    dist, min y, min x). The oracle replays the chamfer's defining
    identity: min over complement cells (pad-1 ring included) of
    |dx|+|dy|, with the same closed-form inside test."""
    from osm2geojson_spark.operators.geometry import pole_of_inaccessibility

    k = F.col("s_suppkey")
    w = (k % 7 + 2).cast("double")
    h = (k % 5 + 2).cast("double")
    w1 = w - 1.0
    h1 = h - 1.0
    ox = (k % 100).cast("double")
    oy = ((k * 3) % 100).cast("double")
    ring = F.array(
        F.struct(ox.alias("x"), oy.alias("y")),
        F.struct((ox + w).alias("x"), oy.alias("y")),
        F.struct((ox + w).alias("x"), (oy + h1).alias("y")),
        F.struct((ox + w1).alias("x"), (oy + h1).alias("y")),
        F.struct((ox + w1).alias("x"), (oy + h).alias("y")),
        F.struct(ox.alias("x"), (oy + h).alias("y")),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("poly_id"), ring.alias("ring")
    )
    return pole_of_inaccessibility(sup)


_POLYLABEL_SQL = """
WITH s AS (
  SELECT s_suppkey AS poly_id,
         CAST(s_suppkey % 7 + 2 AS BIGINT) AS w,
         CAST(s_suppkey % 5 + 2 AS BIGINT) AS h
  FROM supplier
), cells AS (
  SELECT poly_id, w, h, gx.px, gy.py,
         (gx.px >= 0 AND gx.px < w AND gy.py >= 0 AND gy.py < h
          AND NOT (gx.px >= w - 1 AND gy.py >= h - 1)) AS inside
  FROM s,
       (SELECT unnest(range(-1, 10)) AS px) gx,
       (SELECT unnest(range(-1, 9)) AS py) gy
  WHERE gx.px <= w + 1 AND gy.py <= h + 1
), d AS (
  SELECT a.poly_id, a.px, a.py,
         min(abs(a.px - b.px) + abs(a.py - b.py)) AS dist
  FROM cells a JOIN cells b
    ON b.poly_id = a.poly_id AND NOT b.inside
  WHERE a.inside
  GROUP BY a.poly_id, a.px, a.py
), n AS (
  SELECT poly_id, CAST(count(*) AS BIGINT) AS n_interior
  FROM cells WHERE inside GROUP BY poly_id
), best AS (
  SELECT poly_id, px, py, dist,
         row_number() OVER (PARTITION BY poly_id
                            ORDER BY dist DESC, py ASC, px ASC) AS rn
  FROM d
)
SELECT best.poly_id, CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
       CAST(dist AS BIGINT) AS dist_l1, n.n_interior
FROM best JOIN n ON n.poly_id = best.poly_id
WHERE rn = 1
"""


def q_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Centroid AS COLUMN ALGEBRA (geometry.ring_centroid_cols):
    shoelace centroids of integer-coordinate L-shaped polygon rings
    built per supplier key — no UDF, whole-stage codegen; area2/cxn/cyn
    are exact order-free integers, cx/cy one rounded division. The
    oracle rebuilds the same rings with a VALUES vertex pattern and
    replays the identical sums."""
    from osm2geojson_spark.operators.geometry import ring_centroid_cols

    k = F.col("s_suppkey")
    w = (k % 7 + 2).cast("double")
    h = (k % 5 + 2).cast("double")
    w1 = w - 1.0
    h1 = h - 1.0
    ox = (k % 100).cast("double")
    oy = ((k * 3) % 100).cast("double")
    # L-shape (CCW, open): rect (w x h) minus the top-right 1x1 notch
    ring = F.array(
        F.struct(ox.alias("x"), oy.alias("y")),
        F.struct((ox + w).alias("x"), oy.alias("y")),
        F.struct((ox + w).alias("x"), (oy + h1).alias("y")),
        F.struct((ox + w1).alias("x"), (oy + h1).alias("y")),
        F.struct((ox + w1).alias("x"), (oy + h).alias("y")),
        F.struct(ox.alias("x"), (oy + h).alias("y")),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("poly_id"), ring.alias("ring")
    )
    return sup.select("poly_id", *ring_centroid_cols(F.col("ring")))


_CENTROID_SQL = """
WITH s AS (
  SELECT s_suppkey AS poly_id,
         CAST(s_suppkey % 7 + 2 AS DOUBLE) AS w,
         CAST(s_suppkey % 5 + 2 AS DOUBLE) AS h,
         CAST(s_suppkey % 100 AS DOUBLE) AS ox,
         CAST((s_suppkey * 3) % 100 AS DOUBLE) AS oy
  FROM supplier
), v AS (
  SELECT poly_id, t.j,
         CASE t.j WHEN 0 THEN ox WHEN 1 THEN ox + w WHEN 2 THEN ox + w
                  WHEN 3 THEN ox + w - 1.0 WHEN 4 THEN ox + w - 1.0
                  ELSE ox END AS x,
         CASE t.j WHEN 0 THEN oy WHEN 1 THEN oy WHEN 2 THEN oy + h - 1.0
                  WHEN 3 THEN oy + h - 1.0 WHEN 4 THEN oy + h
                  ELSE oy + h END AS y
  FROM s, (SELECT unnest(range(0, 6)) AS j) t
), e AS (
  SELECT a.poly_id,
         a.x * b.y - b.x * a.y AS cross_i,
         (a.x + b.x) * (a.x * b.y - b.x * a.y) AS tx,
         (a.y + b.y) * (a.x * b.y - b.x * a.y) AS ty
  FROM v a JOIN v b ON b.poly_id = a.poly_id AND b.j = (a.j + 1) % 6
)
SELECT poly_id,
       CAST(sum(cross_i) AS BIGINT) AS area2,
       CAST(sum(tx) AS BIGINT) AS cxn,
       CAST(sum(ty) AS BIGINT) AS cyn,
       round(sum(tx) / (3.0 * sum(cross_i)), 6) + 0.0 AS cx,
       round(sum(ty) / (3.0 * sum(cross_i)), 6) + 0.0 AS cy
FROM e GROUP BY poly_id
"""


def q_dct_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PERCEPTUAL HASH (multimodal.dct_phash): 2-D DCT pHash of the
    8x8 synthetic tiles with the dyadic-quantized basis — coefficients
    are exact integers (c_int = sum px * A[u,y] * A[v,k] with A the
    integer basis numerators), the threshold is the integer inequality
    63*c > S_ac - c, and the hash is bit-identical across engines BY
    CONSTRUCTION. The oracle is pure-integer SQL: a 4032-row (u,v,y,k)
    weight VALUES table joined onto the unnested pixel grid."""
    from osm2geojson_spark.operators.multimodal import dct_phash

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return dct_phash(imgs)


def _dct_phash_sql() -> str:
    import numpy as _np

    from osm2geojson_spark.operators.multimodal import DCT_Q, dct_basis_q

    A = _np.round(dct_basis_q(8) * DCT_Q).astype(int)
    vals = []
    for u in range(8):
        for v in range(8):
            if u == 0 and v == 0:
                continue
            for y in range(8):
                for k in range(8):
                    w = int(A[u, y]) * int(A[v, k])
                    if w:
                        vals.append(f"({u},{v},{y},{k},{w})")
    values = ",".join(vals)
    return f"""
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0
), px AS (
  SELECT i, p % 8 AS k, p // 8 AS y,
         CAST(((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS BIGINT) AS val
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img)
), w(u, v, y, k, wgt) AS (
  SELECT * FROM (VALUES {values})
), c AS (
  SELECT px.i, w.u, w.v, CAST(sum(px.val * w.wgt) AS BIGINT) AS ci
  FROM px JOIN w ON w.y = px.y AND w.k = px.k
  GROUP BY px.i, w.u, w.v
), s AS (
  SELECT i, CAST(sum(ci) AS BIGINT) AS sac FROM c GROUP BY i
), b AS (
  SELECT c.i, (c.u * 8 + c.v) - 1 AS bit,
         CASE WHEN 63 * c.ci > s.sac - c.ci THEN 1 ELSE 0 END AS onbit
  FROM c JOIN s ON s.i = c.i
)
SELECT printf('img%012d', i) AS image_id,
       CAST(sum(onbit * (CAST(1 AS BIGINT) << bit)) AS BIGINT) AS phash64,
       CAST(sum(onbit) AS BIGINT) AS n_ac_pos
FROM b GROUP BY i
"""


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL-kNN EMBEDDING CLUSTERING (similarity.mutual_knn_clusters):
    connected components of mutual k=4 cosine-neighbor edges over 300
    embeddings — the noise-robust curation grouping (one-sided hub edges
    never merge clusters). The oracle ranks the cross join, keeps
    mutual pairs, and floods components with a recursive CTE."""
    from osm2geojson_spark.operators.similarity import mutual_knn_clusters

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
    )
    return mutual_knn_clusters(emb, k=4)


_EMB_CLUSTERS_SQL = """
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
), d AS (
  SELECT q.vec_id AS qid, t.vec_id AS tid,
         list_dot_product(q.v, t.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v)))
           AS cos
  FROM e q JOIN e t ON q.vec_id != t.vec_id
), r AS (
  SELECT qid, tid,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS rank
  FROM d
), knn AS (
  SELECT qid, tid FROM r WHERE rank <= 4
), mutual AS (
  SELECT a.qid AS id_a, a.tid AS id_b
  FROM knn a JOIN knn b ON b.qid = a.tid AND b.tid = a.qid
  WHERE a.qid < a.tid
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM mutual
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM mutual
), lbl(v, l) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT edges.dst, lbl.l FROM lbl JOIN edges ON edges.src = lbl.v
)
SELECT v AS vec_id, CAST(min(l) AS BIGINT) AS cluster_id
FROM lbl GROUP BY v
"""


def q_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HORN HILLSHADE (multimodal.hillshade_stats): per-image relief
    illumination rollup of the 8x8 synthetic tiles (altitude 45, azimuth
    315) — integer Horn gradients, per-pixel micro-quantized shade,
    order-free sums. The oracle computes every 3x3 neighborhood INLINE
    from the closed-form pixel formula (no joins) and replays the
    identical float assembly (generated with the same repr'd constants
    the kernel uses)."""
    from osm2geojson_spark.operators.multimodal import hillshade_stats

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return hillshade_stats(imgs, z_scale=16.0)


_HILLSHADE_SQL = "\nWITH img AS (\n  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0\n), pxi AS (\n  SELECT i, xs.x AS x, ys.y AS y\n  FROM img, (SELECT unnest(range(1, 7)) AS x) xs,\n       (SELECT unnest(range(1, 7)) AS y) ys\n), g AS (\n  SELECT i, CAST((((((x + 1) * 3 + (y + -1) * 7 + i * 13) % 251) + 2 * (((x + 1) * 3 + (y + 0) * 7 + i * 13) % 251) + (((x + 1) * 3 + (y + 1) * 7 + i * 13) % 251)) - ((((x + -1) * 3 + (y + -1) * 7 + i * 13) % 251) + 2 * (((x + -1) * 3 + (y + 0) * 7 + i * 13) % 251) + (((x + -1) * 3 + (y + 1) * 7 + i * 13) % 251))) AS BIGINT) AS gx8, CAST((((((x + -1) * 3 + (y + 1) * 7 + i * 13) % 251) + 2 * (((x + 0) * 3 + (y + 1) * 7 + i * 13) % 251) + (((x + 1) * 3 + (y + 1) * 7 + i * 13) % 251)) - ((((x + -1) * 3 + (y + -1) * 7 + i * 13) % 251) + 2 * (((x + 0) * 3 + (y + -1) * 7 + i * 13) % 251) + (((x + 1) * 3 + (y + -1) * 7 + i * 13) % 251))) AS BIGINT) AS gy8\n  FROM pxi\n), s AS (\n  SELECT i, gx8, gy8,\n         greatest(0.0,\n           (0.7071067811865476 + 0.7071067811865475 * (0.7071067811865477 * (gx8 / 128.0) + -0.7071067811865474 * (gy8 / 128.0)))\n           / sqrt(1.0 + (gx8 / 128.0) * (gx8 / 128.0) + (gy8 / 128.0) * (gy8 / 128.0))\n         ) AS shade\n  FROM g\n)\nSELECT printf('img%012d', i) AS image_id,\n       CAST(count(*) AS BIGINT) AS n_interior,\n       CAST(sum(abs(gx8)) AS BIGINT) AS sum_abs_gx8,\n       CAST(sum(abs(gy8)) AS BIGINT) AS sum_abs_gy8,\n       CAST(sum(CAST(round(shade * 1e6) AS BIGINT)) AS BIGINT)\n         AS sum_shade_micro,\n       CAST(sum(CASE WHEN round(shade * 1e6) > 0 THEN 1 ELSE 0 END) AS BIGINT)\n         AS n_lit\nFROM s GROUP BY i\n"


def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL-NOISE MINING (similarity.label_noise_scores): per-vector
    count of k=10 nearest cosine neighbors (self excluded, (cos DESC,
    id ASC) pinned order) carrying a different label — the confident-
    learning triage signal over the labeled embeddings table. The
    oracle replays the ranked cross join and the integer disagreement
    count."""
    from osm2geojson_spark.operators.similarity import label_noise_scores

    # brute oracle shape (docstring: run on validation samples; the scale
    # path swaps in LSH/IVF candidates) — cap the sample so the fixture
    # stays O(640k) pairs at any sf
    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 800)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
            F.col("label").cast("long").alias("label"),
        )
    )
    return label_noise_scores(emb, k=10)


_LABEL_NOISE_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
  FROM embeddings WHERE vec_id < 800
), d AS (
  SELECT q.vec_id AS qid, q.label AS qlab, t.vec_id AS tid, t.label AS tlab,
         list_dot_product(q.v, t.v)
           / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(t.v, t.v)))
           AS cos
  FROM e q JOIN e t ON q.vec_id != t.vec_id
), r AS (
  SELECT qid, qlab, tlab,
         row_number() OVER (PARTITION BY qid ORDER BY cos DESC, tid ASC) AS rank
  FROM d
)
SELECT qid AS vec_id, qlab AS label,
       CAST(sum(CASE WHEN tlab != qlab THEN 1 ELSE 0 END) AS BIGINT) AS n_diff,
       CAST(count(*) AS BIGINT) AS k_eff
FROM r WHERE rank <= 10 GROUP BY qid, qlab
"""


def q_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-CENTROID MARGIN (similarity.centroid_margins): each
    vector's cosine to its own class centroid minus its best other-class
    centroid — the cheap first-pass embedding quality score. Centroids
    are combinable (label, dim) mean rollups broadcast back; the oracle
    rebuilds them with the same per-dim mean and replays the rounded
    cosine assembly."""
    from osm2geojson_spark.operators.similarity import centroid_margins

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        F.col("label").cast("long").alias("label"),
    )
    return centroid_margins(emb)


_CENTROID_MARGIN_SQL = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, CAST(label AS BIGINT) AS label
  FROM embeddings
), dims AS (
  SELECT label AS clab, t.d AS d, sum(v[t.d + 1]) AS s, count(*) AS n
  FROM e, (SELECT unnest(range(64)) AS d) t
  GROUP BY label, t.d
), cent AS (
  SELECT clab, list(s / n ORDER BY d) AS c FROM dims GROUP BY clab
), scored AS (
  SELECT e.vec_id, e.label, cent.clab,
         list_dot_product(e.v, cent.c)
           / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.c, cent.c)))
           AS cos
  FROM e CROSS JOIN cent
), own AS (
  SELECT vec_id, label, round(cos, 6) + 0.0 AS own_cos
  FROM scored WHERE label = clab
), other AS (
  SELECT vec_id, round(max(cos), 6) + 0.0 AS other_cos
  FROM scored WHERE label != clab GROUP BY vec_id
)
SELECT own.vec_id, own.label, own.own_cos, other.other_cos,
       round(own.own_cos - other.other_cos, 6) + 0.0 AS margin
FROM own JOIN other ON other.vec_id = own.vec_id
"""


def q_mosaic_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINDOWED TILE-STORE READ (multimodal.mosaic_crop): extract global
    region [5,37) x [9,30) from the 6x6 mosaic of 8x8 mixed rawz/png
    tiles — tiles are pruned by grid coords BEFORE decode (the layout's
    partition-pruning shape). Output is exact-integer region evidence
    incl. a placement-pinning position-weighted checksum; the oracle
    generates the region's pixels directly from the deterministic
    formula, sharing no crop logic."""
    from osm2geojson_spark.operators.multimodal import mosaic_crop

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 36)
    k = F.col("p_partkey")
    tiles = part.select(
        (k % 6).cast("int").alias("tile_x"),
        (k / 6).cast("int").alias("tile_y"),
        ((F.lit(17) * k) % 251).cast("int").alias("_i"),
        F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias("fmt"),
    ).withColumn(
        "bytes",
        SYN._encode_image_fmt_udf(
            F.col("_i"), F.lit(8).cast("int"), F.lit(8).cast("int"), F.col("fmt")
        ),
    )
    return mosaic_crop(tiles, 5, 9, 37, 30, tile_w=8)


def _mosaic_crop_sql() -> str:
    stride = 8 * (1 << 20)
    return f"""
WITH g AS (
  SELECT gx.g AS gx, gy.g AS gy
  FROM (SELECT unnest(range(5, 37)) AS g) gx,
       (SELECT unnest(range(9, 30)) AS g) gy
), v AS (
  SELECT gx, gy,
         CAST((((gx % 8) * 3 + (gy % 8) * 7
                + ((17 * ((gy // 8) * 6 + (gx // 8))) % 251) * 13) % 251)
              AS BIGINT) AS v
  FROM g
)
SELECT CAST(32 AS BIGINT) AS w, CAST(21 AS BIGINT) AS h,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(sum(v * v) AS BIGINT) AS sum_v2,
       CAST(sum(v * (gx * {stride} + gy + 1)) AS BIGINT) AS possum
FROM v
"""


def q_cdc_chunks_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION CDC form (sampling.cdc_chunks_arrow): the same Rabin
    boundaries as cdc_chunks computed by the one-pass Arrow byte kernel
    (np.convolve recurrence, no explode, no shuffle) — row-for-row equal
    to the relational form, so it shares its SQL oracle verbatim."""
    from osm2geojson_spark.operators.sampling import cdc_chunks_arrow

    return cdc_chunks_arrow(_t(spark, sf_dir, "documents"))


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (sampling.cdc_chunks): Rabin rolling-hash
    chunk boundaries over the documents corpus (window 8, ~64-char
    expected chunks) — the edit-robust chunking of dedup systems. The
    rolling hash is pure JVM column algebra (8 lag terms x precomputed
    P^k mod M); the oracle replays the identical integer recurrence."""
    from osm2geojson_spark.operators.sampling import cdc_chunks

    return cdc_chunks(_t(spark, sf_dir, "documents"))


def _cdc_chunks_sql() -> str:
    from osm2geojson_spark.operators.sampling import CDC_M, CDC_P

    terms = " + ".join(
        f"COALESCE({'code' if k == 0 else f'lag(code, {k}) OVER w'}, 0)"
        f" * {pow(CDC_P, k, CDC_M)}"
        for k in range(8)
    )
    return f"""
WITH chars AS (
  SELECT doc_id, CAST(t.p AS BIGINT) AS pos,
         ascii(substr(text, CAST(t.p + 1 AS INT), 1)) AS code
  FROM documents, unnest(range(0, length(text))) t(p)
  WHERE length(text) > 0
), h AS (
  SELECT doc_id, pos, ({terms}) % {CDC_M} AS hmod
  FROM chars WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos >= 7 AND hmod % 64 = 0 THEN 1 ELSE 0 END AS b
  FROM h
), seq AS (
  SELECT doc_id, pos,
         COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_seq
  FROM marked
)
SELECT doc_id, CAST(chunk_seq AS BIGINT) AS chunk_seq,
       CAST(min(pos) AS BIGINT) AS start,
       CAST(count(*) AS BIGINT) AS chunk_chars
FROM seq GROUP BY doc_id, chunk_seq
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF'S-LAW FIT (functions/text.zipf_fit): slope of the corpus
    token frequency-rank log-log line over the documents table — the
    corpus-health signal of a training-data pipeline. Quantized-OLS
    exactness (gravity_fit's scheme); deterministic (count DESC, token
    ASC) ranking; the oracle replays the identical tokenization, rank
    window and double assembly."""
    from osm2geojson_spark.functions.text import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


def _zipf_fit_sql() -> str:
    from osm2geojson_spark.functions.text import ZIPF_SCALE
    from osm2geojson_spark.functions.text import normalize_sql as _nsql

    S = float(ZIPF_SCALE)
    return f"""
WITH toks AS (
  SELECT unnest(string_split({_nsql('text')}, ' ')) AS tok FROM documents
), counts AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM toks WHERE tok != '' GROUP BY tok
), ranked AS (
  SELECT n,
         CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rank
  FROM counts
), q AS (
  SELECT n,
         CAST(round(ln(CAST(rank AS DOUBLE)) * {S!r}) AS BIGINT) AS qx,
         CAST(round(ln(CAST(n AS DOUBLE)) * {S!r}) AS BIGINT) AS qy
  FROM ranked
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS vocab,
         CAST(sum(n) AS BIGINT) AS total_tokens,
         CAST(sum(qx) AS BIGINT) AS sx_q, CAST(sum(qy) AS BIGINT) AS sy_q,
         CAST(sum(qx * qx) AS BIGINT) AS sxx_q,
         CAST(sum(qx * qy) AS BIGINT) AS sxy_q
  FROM q
)
SELECT vocab, total_tokens, sx_q, sy_q, sxx_q, sxy_q,
       round((CAST(vocab AS DOUBLE) * CAST(sxy_q AS DOUBLE)
              - CAST(sx_q AS DOUBLE) * CAST(sy_q AS DOUBLE))
             / (CAST(vocab AS DOUBLE) * CAST(sxx_q AS DOUBLE)
                - CAST(sx_q AS DOUBLE) * CAST(sx_q AS DOUBLE)), 6) + 0.0
         AS zipf_slope
FROM s
"""


def q_gravity_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAVITY-MODEL CALIBRATION (spatial_stats.gravity_fit): distance-
    decay exponent of the stay-derived OD matrix at res 6, fit by log-OLS
    with per-pair terms quantized to 1e-5 before the order-free integer
    sufficient-statistic sums; beta / ln_k are a short identically-
    ordered double assembly the oracle replays exactly."""
    from osm2geojson_spark.operators.spatial_stats import gravity_fit
    from osm2geojson_spark.operators.trajectory import od_flows, stay_points

    stays = stay_points(_traj_pings(spark, sf_dir), res=6, min_duration_s=3600)
    return gravity_fit(od_flows(stays), res=6)


def _gravity_fit_sql() -> str:
    from osm2geojson_spark.operators.knn import haversine_sql
    from osm2geojson_spark.operators.spatial_stats import GRAVITY_SCALE

    n = float(1 << 6)
    half_lon, half_lat = 180.0 / n, 90.0 / n
    xo = f"((f.from_cell % {1 << 58}) // {1 << 29})"
    yo = f"(f.from_cell % {1 << 29})"
    xd = f"((f.to_cell % {1 << 58}) // {1 << 29})"
    yd = f"(f.to_cell % {1 << 29})"
    lon_o = f"({xo} / {n!r} * 360.0 - 180.0 + {half_lon!r})"
    lat_o = f"({yo} / {n!r} * 180.0 - 90.0 + {half_lat!r})"
    lon_d = f"({xd} / {n!r} * 360.0 - 180.0 + {half_lon!r})"
    lat_d = f"({yd} / {n!r} * 180.0 - 90.0 + {half_lat!r})"
    hav = haversine_sql(lon_o, lat_o, lon_d, lat_d)
    S = float(GRAVITY_SCALE)
    return _stays_sql(f"""
, trips AS (
  SELECT user_id, cell_id AS from_cell, lead(cell_id) OVER wt AS to_cell
  FROM seq WINDOW wt AS (PARTITION BY user_id ORDER BY stay_seq)
), flows AS (
  SELECT from_cell, to_cell, CAST(count(*) AS BIGINT) AS n_trips
  FROM trips WHERE to_cell IS NOT NULL GROUP BY 1, 2
), mo AS (
  SELECT from_cell, CAST(sum(n_trips) AS BIGINT) AS m_o FROM flows GROUP BY 1
), md AS (
  SELECT to_cell, CAST(sum(n_trips) AS BIGINT) AS m_d FROM flows GROUP BY 1
), pairs AS (
  SELECT CAST(round(ln({hav}) * {S!r}) AS BIGINT) AS qx,
         CAST(round((ln(CAST(f.n_trips AS DOUBLE)) - ln(CAST(mo.m_o AS DOUBLE))
                     - ln(CAST(md.m_d AS DOUBLE))) * {S!r}) AS BIGINT) AS qy
  FROM flows f
  JOIN mo ON mo.from_cell = f.from_cell
  JOIN md ON md.to_cell = f.to_cell
  WHERE f.from_cell != f.to_cell
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(qx) AS BIGINT) AS sx_q, CAST(sum(qy) AS BIGINT) AS sy_q,
         CAST(sum(qx * qx) AS BIGINT) AS sxx_q,
         CAST(sum(qx * qy) AS BIGINT) AS sxy_q
  FROM pairs
)
SELECT n_pairs, sx_q, sy_q, sxx_q, sxy_q,
       round(-((CAST(n_pairs AS DOUBLE) * CAST(sxy_q AS DOUBLE)
                - CAST(sx_q AS DOUBLE) * CAST(sy_q AS DOUBLE))
               / (CAST(n_pairs AS DOUBLE) * CAST(sxx_q AS DOUBLE)
                  - CAST(sx_q AS DOUBLE) * CAST(sx_q AS DOUBLE))), 6) + 0.0
         AS beta,
       round((CAST(sy_q AS DOUBLE)
              - ((CAST(n_pairs AS DOUBLE) * CAST(sxy_q AS DOUBLE)
                  - CAST(sx_q AS DOUBLE) * CAST(sy_q AS DOUBLE))
                 / (CAST(n_pairs AS DOUBLE) * CAST(sxx_q AS DOUBLE)
                    - CAST(sx_q AS DOUBLE) * CAST(sx_q AS DOUBLE)))
                * CAST(sx_q AS DOUBLE))
             / CAST(n_pairs AS DOUBLE) / {S!r}, 6) + 0.0 AS ln_k
FROM s
""")


def q_quadtree_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADTREE COMPRESSION PLAN (multimodal.quadtree_plan): variance-
    pruned adaptive tiling of the 8x8 synthetic tiles at tau=300 — per
    image the leaf count at every block size plus the total. The gate is
    the integer inequality n*sum(x^2)-sum(x)^2 <= tau*n^2 (no floats
    anywhere); a node is a leaf iff it passes and EVERY ancestor fails.
    The oracle replays the rule from grouped pixel aggregates in pure
    SQL (explicit per-level fail tables, pixels always pass)."""
    from osm2geojson_spark.operators.multimodal import quadtree_plan

    imgs = _synth_images(spark, sf_dir, 360, step=3)  # all 8x8
    return quadtree_plan(imgs, tau=300, width=8)


def _quadtree_plan_sql() -> str:
    return """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 360 AND p_partkey % 3 = 0
), px AS (
  SELECT i, p % 8 AS x, p // 8 AS y,
         CAST(((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS BIGINT) AS v
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img)
), f8 AS (
  SELECT i, (64 * sum(v * v) - sum(v) * sum(v)) > 300 * 64 * 64 AS fail
  FROM px GROUP BY i
), f4 AS (
  SELECT i, x // 4 AS bx, y // 4 AS by,
         (16 * sum(v * v) - sum(v) * sum(v)) > 300 * 16 * 16 AS fail
  FROM px GROUP BY i, x // 4, y // 4
), f2 AS (
  SELECT i, x // 2 AS bx, y // 2 AS by,
         (4 * sum(v * v) - sum(v) * sum(v)) > 300 * 4 * 4 AS fail
  FROM px GROUP BY i, x // 2, y // 2
), l0 AS (
  SELECT i, CASE WHEN NOT fail THEN 1 ELSE 0 END AS n FROM f8
), l1 AS (
  SELECT f4.i, sum(CASE WHEN NOT f4.fail AND f8.fail THEN 1 ELSE 0 END) AS n
  FROM f4 JOIN f8 ON f8.i = f4.i GROUP BY f4.i
), l2 AS (
  SELECT f2.i,
         sum(CASE WHEN NOT f2.fail AND p4.fail AND f8.fail THEN 1 ELSE 0 END)
           AS n,
         sum(CASE WHEN f2.fail AND p4.fail AND f8.fail THEN 4 ELSE 0 END)
           AS n_px
  FROM f2
  JOIN f4 p4 ON p4.i = f2.i AND p4.bx = f2.bx // 2 AND p4.by = f2.by // 2
  JOIN f8 ON f8.i = f2.i
  GROUP BY f2.i
)
SELECT printf('img%012d', l0.i) AS image_id,
       CAST(l0.n AS BIGINT) AS leaves_l0,
       CAST(l1.n AS BIGINT) AS leaves_l1,
       CAST(l2.n AS BIGINT) AS leaves_l2,
       CAST(l2.n_px AS BIGINT) AS leaves_l3,
       CAST(l0.n + l1.n + l2.n + l2.n_px AS BIGINT) AS n_leaves
FROM l0 JOIN l1 ON l1.i = l0.i JOIN l2 ON l2.i = l0.i
"""


def q_track_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAJECTORY ANOMALY NLL (trajectory.track_nll): per-user negative
    log-likelihood under the corpus-trained Markov cell model at res 5 —
    train + broadcast + score in one job. Per-step terms are quantized
    to micro-nats from exact integer counts before the order-free sum
    (location_entropy's scheme); the oracle replays the identical
    collapse, counts, and float assembly."""
    from osm2geojson_spark.operators.trajectory import track_nll

    # NOT _traj_pings: that fixture gives every user a deterministic
    # private path (p = 1 on every edge, NLL identically 0). Here users
    # share 8 latitude bands and drift at user-dependent rates
    # (3..15 deg/day vs an 11.25 deg res-5 cell), so a band's pooled
    # model mixes to-cells and probabilities are non-trivial.
    step = F.lit(3) + (F.col("user_id") % 5) * F.lit(3)
    pings = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        (((F.col("user_id") * 37 + F.dayofyear("ts") * step) % 360) - 180 + 0.5)
        .cast("double")
        .alias("lon"),
        (((F.col("user_id") % 8) * 11) - 44 + 0.5).cast("double").alias("lat"),
    )
    return track_nll(pings, res=5)


def _track_nll_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql("lon", "lat", 5)
    return f"""
WITH pings AS (
  SELECT user_id, ts,
         CAST(((user_id * 37 + dayofyear(ts) * (3 + (user_id % 5) * 3)) % 360)
              - 180 + 0.5 AS DOUBLE) AS lon,
         CAST(((user_id % 8) * 11) - 44 + 0.5 AS DOUBLE) AS lat
  FROM events
), seq AS (
  SELECT user_id, ts, lon, lat, {cell} AS cell_id FROM pings
), marked AS (
  SELECT user_id, ts, lon, lat, cell_id, lag(cell_id) OVER w AS prev
  FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY ts, lon, lat)
), collapsed AS (
  SELECT user_id, ts, lon, lat, cell_id FROM marked
  WHERE prev IS NULL OR prev != cell_id
), edges AS (
  SELECT user_id, cell_id AS from_cell, lead(cell_id) OVER w2 AS to_cell
  FROM collapsed WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, lon, lat)
), e AS (
  SELECT * FROM edges WHERE to_cell IS NOT NULL
), mat AS (
  SELECT from_cell, to_cell, CAST(count(*) AS BIGINT) AS n_ft
  FROM e GROUP BY 1, 2
), tot AS (
  SELECT from_cell, CAST(sum(n_ft) AS BIGINT) AS n_f FROM mat GROUP BY 1
), model AS (
  SELECT m.from_cell, m.to_cell,
         CAST(round((ln(CAST(n_ft AS DOUBLE)) - ln(CAST(n_f AS DOUBLE))) * 1e6)
              AS BIGINT) AS t
  FROM mat m JOIN tot USING (from_cell)
), agg AS (
  SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_steps,
         CAST(-sum(model.t) AS BIGINT) AS nll_micro
  FROM e JOIN model ON model.from_cell = e.from_cell AND model.to_cell = e.to_cell
  GROUP BY e.user_id
)
SELECT user_id, n_steps, nll_micro,
       round(CAST(nll_micro AS DOUBLE) / CAST(n_steps AS DOUBLE) / 1e6, 6) + 0.0
         AS avg_nll
FROM agg
"""


def q_dirty_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL PYRAMID INVALIDATION (cells.dirty_pyramid): customer
    points as changed base cells at res 10; per level 4..10 the count and
    id range of distinct ancestor tiles needing recompute. Ancestors come
    from integer shifts of the packed x/y (never re-floored doubles); the
    oracle replays the identical //-shift arithmetic in SQL."""
    from osm2geojson_spark.operators import cells

    changed = _t(spark, sf_dir, "customer").select(
        cells.cell_id(_lon("c_custkey"), _lat("c_custkey"), 10).alias("cell_id")
    )
    d = cells.dirty_pyramid(changed, base_res=10, min_res=4)
    return d.groupBy("level").agg(
        F.count(F.lit(1)).cast("long").alias("n_dirty"),
        F.min("tile").alias("min_tile"),
        F.max("tile").alias("max_tile"),
    )


def _dirty_pyramid_sql() -> str:
    from osm2geojson_spark.operators.cells import _R_SHIFT, _X_SHIFT, cell_id_sql

    enc = cell_id_sql("lon", "lat", 10)
    return f"""
WITH pts AS (
  SELECT {SYN.lon_sql('c_custkey')} AS lon, {SYN.lat_sql('c_custkey')} AS lat
  FROM customer
), base AS (
  SELECT {enc} AS c FROM pts
), xy AS (
  SELECT c, (c % {1 << _R_SHIFT}) // {1 << _X_SHIFT} AS x, c % {1 << _X_SHIFT} AS y
  FROM base
), anc AS (
  SELECT DISTINCT l.r AS level,
         CAST(l.r AS BIGINT) * {1 << _R_SHIFT}
           + (x // (1 << (10 - l.r))) * {1 << _X_SHIFT}
           + (y // (1 << (10 - l.r))) AS tile
  FROM xy, (SELECT unnest(range(4, 11)) AS r) l
)
SELECT CAST(level AS BIGINT) AS level,
       CAST(count(*) AS BIGINT) AS n_dirty,
       min(tile) AS min_tile, max(tile) AS max_tile
FROM anc GROUP BY level
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION PLANNER (plans.layout.compaction_plan): pack
    a synthetic file manifest (lineitem rows as files: 50 partitions,
    floor(extendedprice) as bytes) into ~200 kB rewrite bins with the
    quota rule (bytes-DESC running sum // target), then roll up per-bin
    file count and size. Bin count per partition is exactly
    ceil(partition_bytes / target). The oracle replays the identical
    window + floor-divide in SQL."""
    from osm2geojson_spark.plans.layout import compaction_plan

    files = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 50).cast("long").alias("part_key"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("long")
        .alias("file_id"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("bytes"),
    )
    plan = compaction_plan(files, target_bytes=200_000)
    return plan.groupBy("part_key", "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("bin_bytes"),
        F.max("bytes").cast("long").alias("max_file_bytes"),
    )


def _compaction_plan_sql() -> str:
    return """
WITH f AS (
  SELECT CAST(l_suppkey % 50 AS BIGINT) AS part_key,
         CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS file_id,
         CAST(floor(l_extendedprice) AS BIGINT) AS bytes
  FROM lineitem
), c AS (
  SELECT part_key, file_id, bytes,
         CAST(floor(CAST(COALESCE(SUM(bytes) OVER (
             PARTITION BY part_key ORDER BY bytes DESC, file_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS DOUBLE) / 200000.0) AS BIGINT) AS bin_id
  FROM f
)
SELECT part_key, bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS bin_bytes,
       CAST(max(bytes) AS BIGINT) AS max_file_bytes
FROM c GROUP BY part_key, bin_id
"""


def q_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X149 (multimodal.morphology_stats): 3x3 erosion / dilation /
    morphological gradient over 300 mixed rawz/png 8x8 images — min and
    max of 9 integer neighbors are pure order statistics, so interior
    stats are engine-exact. Oracle replays the deterministic pixel
    formula with min()/max() aggregates over the 9-shift neighborhood
    (same shape as the median-filter twin)."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.morphology_stats(_synth_images(spark, sf_dir, 900, step=3))


_INTEGRAL_BOXES = [
    (0, 0, 3, 3),   # NW quadrant
    (4, 0, 7, 3),   # NE
    (0, 4, 3, 7),   # SW
    (4, 4, 7, 7),   # SE
    (2, 2, 5, 5),   # center crop
    (0, 0, 7, 7),   # full frame
    (3, 1, 20, 6),  # clipped on the right edge
]


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X226 (graph.clustering_coeff): per-node local clustering
    coefficient over the dense modular graph — 2*tri/(deg*(deg-1)) as
    the exact integer rational with one pinned division, deg<2 nodes 0
    by the networkx convention. Degree rollup + the oriented two-hop
    triangle closure; the cohesion feature for bot/spam graph gates."""
    from osm2geojson_spark.operators import graph as G

    return G.clustering_coeff(_dense_graph(spark, sf_dir))


def _clustering_coeff_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.clustering_coeff_sql(_DENSE_GRAPH_SQL)


def q_color_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X224 (multimodal.median_cut_palette): depth-2 median-cut
    palettes over 30 synthetic 16x16 RGB pixel tables (three coprime
    channel formulas) — widest-channel lower-median cuts, count-
    selected, no floats; twin unrolls both cut rounds."""
    from osm2geojson_spark.operators.multimodal import median_cut_palette

    k = F.col("p_partkey")
    imgs = _t(spark, sf_dir, "part").filter(k < 30).select(
        F.format_string("img%012d", k).alias("image_id"),
        k.alias("_i"),
    )
    px = imgs.select(
        "image_id",
        "_i",
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("p"),
    ).select(
        "image_id",
        ((F.col("p") % 16) * 3 + (F.col("p") / 16).cast("long") * 7
         + F.col("_i") * 13).alias("_a"),
        ((F.col("p") % 16) * 5 + (F.col("p") / 16).cast("long") * 11
         + F.col("_i") * 17).alias("_b"),
        ((F.col("p") % 16) * 7 + (F.col("p") / 16).cast("long") * 3
         + F.col("_i") * 19).alias("_c"),
    ).select(
        "image_id",
        (F.col("_a") % 251).alias("r"),
        (F.col("_b") % 241).alias("g"),
        (F.col("_c") % 239).alias("b"),
    )
    return median_cut_palette(px)


def _color_quantize_sql() -> str:
    from osm2geojson_spark.operators.multimodal import median_cut_palette_sql

    px = """
SELECT printf('img%012d', i) AS image_id,
       ((p % 16) * 3 + (p // 16) * 7 + i * 13) % 251 AS r,
       ((p % 16) * 5 + (p // 16) * 11 + i * 17) % 241 AS g,
       ((p % 16) * 7 + (p // 16) * 3 + i * 19) % 239 AS b
FROM (
  SELECT i, unnest(range(0, 256)) AS p
  FROM (SELECT p_partkey AS i FROM part WHERE p_partkey < 30)
)
"""
    return median_cut_palette_sql(px)


def q_anchor_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X222 (boxes.anchor_assign): detector-training anchor labeling —
    10 images x 3 hash-placed GT boxes against a 4x4 stride-16 anchor
    lattice; per-anchor best-GT and per-GT force-match argmaxes via
    exact-fraction anti-joins, pos/neg/ignore by cross-multiplied
    gates."""
    from osm2geojson_spark.operators.boxes import anchor_assign

    k = F.col("p_partkey")
    gts = _t(spark, sf_dir, "part").filter(k < 30).select(
        F.floor(k / 3).cast("long").alias("image_id"),
        (k % 3).alias("gt_id"),
        ((k * 13) % 40).alias("x0"),
        ((k * 29) % 40).alias("y0"),
        ((k * 13) % 40 + 10 + k % 9).alias("x1"),
        ((k * 29) % 40 + 10 + k % 7).alias("y1"),
    )
    return anchor_assign(gts)


def _anchor_assign_sql() -> str:
    from osm2geojson_spark.operators.boxes import anchor_assign_sql

    return anchor_assign_sql(
        "SELECT p_partkey // 3 AS image_id, p_partkey % 3 AS gt_id,"
        " (p_partkey * 13) % 40 AS x0, (p_partkey * 29) % 40 AS y0,"
        " (p_partkey * 13) % 40 + 10 + p_partkey % 9 AS x1,"
        " (p_partkey * 29) % 40 + 10 + p_partkey % 7 AS y1"
        " FROM part WHERE p_partkey < 30"
    )


def q_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X219 (graph.square_count): exact 4-cycle census of the dense
    modular graph via the diagonal co-degree identity
    sum C(codeg,2)/2 — one oriented wedge join + a combinable rollup."""
    from osm2geojson_spark.operators import graph as G

    return G.square_count(_dense_graph(spark, sf_dir))


def _squares_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.square_count_sql(_DENSE_GRAPH_SQL)


def q_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X218 (trajectory.viterbi_smooth): Viterbi stay/move smoothing of
    50 12-step observation tracks — each has a stay regime (low bins),
    a move regime (high bins), and one planted glitch per regime that
    the DP must absorb (25 < 2 switches = 60). Exact integer costs,
    min-(cost, mask) tie rule; the twin enumerates all 2^12 trellis
    paths per user (oracle-only) and replays the min."""
    from osm2geojson_spark.operators.trajectory import viterbi_smooth

    k = F.col("p_partkey")
    u = F.floor(k / 12).cast("long")
    i = (k % 12).cast("long")
    base = F.when(i < 6, F.lit(0)).otherwise(F.lit(2))
    obs = (
        F.when(i == u % 6, F.lit(2))
        .when(i == 6 + u % 6, F.lit(0))
        .otherwise(base)
    )
    rows = _t(spark, sf_dir, "part").filter(k < 600).select(
        u.alias("user_id"), i.alias("idx"), obs.alias("obs")
    )
    return viterbi_smooth(rows)


def _viterbi_sql() -> str:
    from osm2geojson_spark.operators.trajectory import viterbi_smooth_sql

    return viterbi_smooth_sql(
        "SELECT p_partkey // 12 AS user_id, p_partkey % 12 AS idx,"
        " CASE WHEN p_partkey % 12 = (p_partkey // 12) % 6 THEN 2"
        "      WHEN p_partkey % 12 = 6 + (p_partkey // 12) % 6 THEN 0"
        "      WHEN p_partkey % 12 < 6 THEN 0 ELSE 2 END AS obs"
        " FROM part WHERE p_partkey < 600"
    )


def q_demosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X216 (multimodal.demosaic_stats): bilinear RGGB demosaic over
    300 mixed rawz/png mosaics — 4x fixed-point exact channels, the
    position-weighted checksum pins every pixel/branch; twin replays
    the CASE rules via one tagged-offset neighbor join."""
    from osm2geojson_spark.operators.multimodal import demosaic_stats

    return demosaic_stats(_synth_images(spark, sf_dir, 300))


def _demosaic_sql() -> str:
    from osm2geojson_spark.operators.multimodal import demosaic_stats_sql

    px = """
SELECT printf('img%012d', i) AS image_id, (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v, w, w AS h
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 300)
)
"""
    return demosaic_stats_sql(px)


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X214 (streaming.ops.windowed_topk, batch form — the
    streaming(availableNow) == batch equivalence is pinned in
    tests/test_streaming.py): top-2 event types per tumbling hour,
    (n DESC, key ASC) exact integer ranking, wall-clock window fields
    for timezone-independent comparison."""
    from osm2geojson_spark.streaming.ops import windowed_topk

    ev = _t(spark, sf_dir, "events").select(
        "ts", F.col("event_type").alias("key")
    )
    out = windowed_topk(ev, k=2)
    return out.select(
        F.year("win_start").alias("y"),
        F.month("win_start").alias("m"),
        F.dayofmonth("win_start").alias("d"),
        F.hour("win_start").alias("h"),
        "key",
        "n",
        "rnk",
    )


def _stream_topk_sql() -> str:
    return """
SELECT CAST(y AS INTEGER) AS y, CAST(m AS INTEGER) AS m,
       CAST(d AS INTEGER) AS d, CAST(h AS INTEGER) AS h,
       key, n, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT y, m, d, h, key, n,
         row_number() OVER (
           PARTITION BY y, m, d, h ORDER BY n DESC, key ASC) AS rnk
  FROM (
    SELECT year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
           event_type AS key, count(*) AS n
    FROM events GROUP BY 1, 2, 3, 4, 5
  )
)
WHERE rnk <= 2
"""


def q_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X213 (graph.tree_rollup): recursive hierarchy rollup over a
    2-root ternary forest on 200 customer-keyed nodes (parent =
    (n-2)//3, hash weights) — depth/root/subtree count+sum via
    pointer-doubled ancestor closure; recursive-CTE twin."""
    from osm2geojson_spark.operators import graph as G

    n = F.col("c_custkey")
    nodes = _t(spark, sf_dir, "customer").filter(n < 200).select(
        n.alias("node_id"),
        F.when(n >= 2, F.floor((n - 2) / 3).cast("long")).alias("parent_id"),
        ((n * 7919) % 100).alias("w"),
    )
    return G.tree_rollup(nodes)


def _tree_rollup_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.tree_rollup_sql(
        "SELECT c_custkey AS node_id,"
        " CASE WHEN c_custkey >= 2 THEN (c_custkey - 2) // 3 END AS parent_id,"
        " (c_custkey * 7919) % 100 AS w"
        " FROM customer WHERE c_custkey < 200"
    )


def q_iou_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X212 (boxes.iou_track): SORT-style IoU tracking over 10 videos x
    12 frames — 3 linearly drifting 8x8 objects per video with
    staggered lifetimes (consecutive-frame IoU 42/86 ≈ 0.49) plus one
    lone noise detection per video; mutual-best exact-fraction
    matching, min-label chains. track_id = first appearance key."""
    from osm2geojson_spark.operators.boxes import iou_track

    k = F.col("p_partkey")
    v = F.floor(k / 36).cast("long")
    o = F.floor((k % 36) / 12).cast("long")
    fr = (k % 36) % 12
    # lifetimes: object o visible for frames [2*o, 11-o]
    objs = (
        _t(spark, sf_dir, "part")
        .filter(k < 360)
        .select(
            v.alias("video_id"), o.alias("_o"), fr.alias("frame"),
        )
        .filter(
            (F.col("frame") >= F.col("_o") * 2)
            & (F.col("frame") <= 11 - F.col("_o"))
        )
        .select(
            "video_id",
            "frame",
            (F.col("_o") * 100 + F.col("frame")).alias("box_id"),
            (F.col("_o") * 40 + F.col("frame") * 2).alias("x0"),
            (F.col("_o") * 20 + F.col("frame")).alias("y0"),
            (F.col("_o") * 40 + F.col("frame") * 2 + 8).alias("x1"),
            (F.col("_o") * 20 + F.col("frame") + 8).alias("y1"),
        )
    )
    noise = (
        _t(spark, sf_dir, "part")
        .filter(k < 10)
        .select(
            k.alias("video_id"),
            F.lit(5).cast("long").alias("frame"),
            F.lit(999).cast("long").alias("box_id"),
            F.lit(500).cast("long").alias("x0"),
            F.lit(500).cast("long").alias("y0"),
            F.lit(508).cast("long").alias("x1"),
            F.lit(508).cast("long").alias("y1"),
        )
    )
    return iou_track(objs.unionByName(noise), iou_threshold=0.3)


def _iou_track_sql() -> str:
    from osm2geojson_spark.operators.boxes import iou_track_sql

    dets = """
SELECT p_partkey // 36 AS video_id,
       (p_partkey % 36) % 12 AS frame,
       ((p_partkey % 36) // 12) * 100 + (p_partkey % 36) % 12 AS box_id,
       ((p_partkey % 36) // 12) * 40 + ((p_partkey % 36) % 12) * 2 AS x0,
       ((p_partkey % 36) // 12) * 20 + (p_partkey % 36) % 12 AS y0,
       ((p_partkey % 36) // 12) * 40 + ((p_partkey % 36) % 12) * 2 + 8 AS x1,
       ((p_partkey % 36) // 12) * 20 + (p_partkey % 36) % 12 + 8 AS y1
FROM part
WHERE p_partkey < 360
  AND (p_partkey % 36) % 12 >= ((p_partkey % 36) // 12) * 2
  AND (p_partkey % 36) % 12 <= 11 - (p_partkey % 36) // 12
UNION ALL
SELECT p_partkey, 5, 999, 500, 500, 508, 508
FROM part WHERE p_partkey < 10
"""
    return iou_track_sql(dets, iou_threshold=0.3)


def q_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X210 (multimodal.haar_energy): 2-level unnormalized Haar (the
    lossless S-transform) subband energies over 300 mixed rawz/png
    images — exact int64 signed block sums and energies; the twin
    regroups the pixel formula through the same two lifting rounds."""
    from osm2geojson_spark.operators.multimodal import haar_energy

    return haar_energy(_synth_images(spark, sf_dir, 300))


def _haar_sql() -> str:
    from osm2geojson_spark.operators.multimodal import haar_energy_sql

    px = """
SELECT printf('img%012d', i) AS image_id, (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 300)
)
"""
    return haar_energy_sql(px)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X209 (graph.degree_assortativity): Newman degree assortativity
    of the dense modular graph — exact int64 stub sums, one IEEE
    division; NULL-guarded for regular graphs."""
    from osm2geojson_spark.operators import graph as G

    return G.degree_assortativity(_dense_graph(spark, sf_dir))


def _assortativity_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    return G.degree_assortativity_sql(_DENSE_GRAPH_SQL)


def q_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X206 (sampling.coverage_select): greedy max-coverage curation —
    pick 6 documents (doc_id < 150) maximizing marginal new-vocabulary
    coverage per step, ties to the smallest doc id. Exact integer
    gains; the twin unrolls the greedy as 6 chained CTE blocks."""
    from osm2geojson_spark.operators.sampling import coverage_select

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return coverage_select(docs, k=6)


def _coverage_select_sql() -> str:
    from osm2geojson_spark.operators.sampling import coverage_select_sql

    return coverage_select_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id < 150", k=6
    )


def q_brief_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X204 (multimodal.brief_match): BRIEF 63-bit binary descriptors +
    Hamming matching over frame pairs where B is an exact translation
    of A (phase algebra: ib = ia + 58*(3*dx+7*dy) mod 251, inv(13) mod
    251 = 58), mixed 16/24 px frames — every interior-A keypoint gets
    its best-Hamming B keypoint, ties (my, mx) ascending; all integer,
    twin replays bits from the pixel formula + the offsets VALUES."""
    from osm2geojson_spark.operators.multimodal import brief_match

    k = F.col("s_suppkey")
    dx = (k % 5 - 2).cast("int")
    dy = (F.floor(k / 5) % 5 - 2).cast("int")
    ia = ((F.lit(17) * k) % 251).cast("int")
    ib = F.pmod(ia + F.lit(58) * (F.lit(3) * dx + F.lit(7) * dy), F.lit(251)).cast(
        "int"
    )
    w = (F.lit(16) + F.lit(8) * (k % 2)).cast("int")
    sup = _t(spark, sf_dir, "supplier").filter(k < 25).select(
        k.alias("pair_id"), ia.alias("_ia"), ib.alias("_ib"), w.alias("_w")
    )
    pairs = sup.select(
        "pair_id",
        SYN._encode_image_fmt_udf(
            F.col("_ia"), F.col("_w"), F.col("_w"), F.lit("rawz")
        ).alias("bytes_a"),
        F.lit("rawz").alias("fmt_a"),
        SYN._encode_image_fmt_udf(
            F.col("_ib"), F.col("_w"), F.col("_w"), F.lit("rawz")
        ).alias("bytes_b"),
        F.lit("rawz").alias("fmt_b"),
    )
    return brief_match(pairs)


def _brief_match_sql() -> str:
    from osm2geojson_spark.operators.multimodal import brief_match_sql

    base = """
SELECT s_suppkey AS k,
       (17 * s_suppkey) % 251 AS ia,
       (((17 * s_suppkey) % 251
         + 58 * (3 * (s_suppkey % 5 - 2)
                 + 7 * ((s_suppkey // 5) % 5 - 2))) % 251 + 251) % 251 AS ib,
       16 + 8 * (s_suppkey % 2) AS w
FROM supplier WHERE s_suppkey < 25
"""
    px = f"""
SELECT k AS pair_id, side, p % w AS x, p // w AS y,
       (3 * (p % w) + 7 * (p // w) + 13 * i) % 251 AS v
FROM (
  SELECT k, w, 'a' AS side, ia AS i FROM ({base})
  UNION ALL
  SELECT k, w, 'b' AS side, ib AS i FROM ({base})
), unnest(range(0, w * w)) t(p)
"""
    dims = f"""
SELECT k AS pair_id, side, w, w AS h
FROM ({base}), (SELECT 'a' AS side UNION ALL SELECT 'b' AS side)
"""
    return brief_match_sql(px, dims)


def q_delaunay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X203 (geometry.delaunay_triangles): the Delaunay complex of four
    40-point tile groups (grp = c_custkey % 4, hash-scattered integer
    coordinates on a ~1000^2 grid) — exact integer orientation +
    lifted in-circle determinants, open-disk emptiness, both diagonals
    kept on cocircular quadruples so the output is deterministic."""
    from osm2geojson_spark.operators.geometry import delaunay_triangles

    pts = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 160).select(
        (F.col("c_custkey") % 4).alias("grp"),
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 2654435761) % 1009).alias("x"),
        ((F.col("c_custkey") * 2246822519 + 7) % 1013).alias("y"),
    )
    return delaunay_triangles(pts)


def _delaunay_sql() -> str:
    from osm2geojson_spark.operators.geometry import delaunay_triangles_sql

    return delaunay_triangles_sql(
        "SELECT c_custkey % 4 AS grp, c_custkey AS pid,"
        " (c_custkey * 2654435761) % 1009 AS x,"
        " (c_custkey * 2246822519 + 7) % 1013 AS y"
        " FROM customer WHERE c_custkey < 160"
    )


def q_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X202 (retrieval.maxsim_topk): ColBERT late-interaction retrieval
    over the embeddings table grouped into multi-vector bags — 8 token
    vectors per id (qid/doc_id = vec_id // 8): queries vec_id < 16,
    corpus vec_id in [16, 496).  MaxSim score = sum over query tokens
    of the max quantized doc-token dot; top-5 per query.  Quantized
    per-term dots make the trace engine-exact."""
    from osm2geojson_spark.operators.retrieval import maxsim_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = emb.filter(F.col("vec_id") < 16).select(
        (F.col("vec_id") / 8).cast("long").alias("qid"),
        (F.col("vec_id") % 8).alias("qtok"),
        F.col("v").alias("qvec"),
    )
    d = emb.filter((F.col("vec_id") >= 16) & (F.col("vec_id") < 496)).select(
        (F.col("vec_id") / 8).cast("long").alias("doc_id"),
        F.col("v").alias("vec"),
    )
    return maxsim_topk(d, q, k=5)


def _maxsim_sql() -> str:
    from osm2geojson_spark.operators.retrieval import maxsim_topk_sql

    return maxsim_topk_sql(
        "SELECT vec_id // 8 AS doc_id, embedding::DOUBLE[] AS v"
        " FROM embeddings WHERE vec_id >= 16 AND vec_id < 496",
        "SELECT vec_id // 8 AS qid, vec_id % 8 AS qtok,"
        " embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 16",
        k=5,
        dim=64,
    )


def q_dither(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X200 (multimodal.ordered_dither): Bayer 4x4 ordered-dithering
    census over 300 mixed-size (8/16/24 px) mixed-format (rawz/png)
    images — exact-integer threshold v >= 16*M[y%4][x%4] + 8, 16
    per-phase (n_px, ones) rows per image. The oracle replays every
    pixel from the deterministic formula and joins the same matrix as
    VALUES, so a codec or threshold bug in either engine breaks the
    hash."""
    from osm2geojson_spark.operators.multimodal import ordered_dither

    return ordered_dither(_synth_images(spark, sf_dir, 300))


def _dither_sql() -> str:
    from osm2geojson_spark.operators.multimodal import bayer4_values_sql

    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i,
         (xs.x * 3 + ys.y * 7 + i * 13) % 251 AS v,
         (ys.y % 4) * 4 + (xs.x % 4) AS phase,
         ys.y % 4 AS my, xs.x % 4 AS mx
  FROM img,
       (SELECT unnest(range(0, 24)) AS x) xs,
       (SELECT unnest(range(0, 24)) AS y) ys
  WHERE xs.x < img.w AND ys.y < img.w
)
SELECT printf('img%012d', i) AS image_id,
       CAST(phase AS BIGINT) AS phase,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(CASE WHEN v >= 16 * bayer.m + 8 THEN 1 ELSE 0 END)
            AS BIGINT) AS ones
FROM px JOIN {bayer4_values_sql()}
  ON bayer.my = px.my AND bayer.mx = px.mx
GROUP BY 1, 2
"""


def q_mask_iou(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X198 (boxes.mask_iou_join): segmentation-mask IoU census in the
    RLE domain — rle_mask runs of 300 8x8 images, comparison buckets =
    last image-id digit, PBSM reporting-band pair join (band 16), exact
    integer inter/areas/union + pinned iou. The oracle rebuilds the
    runs from the pixel formula and uses a plain interval join."""
    from osm2geojson_spark.operators import multimodal as MM2
    from osm2geojson_spark.operators.boxes import mask_iou_join

    runs = MM2.rle_mask(_synth_images(spark, sf_dir, 900, step=3))
    masks = runs.select(
        F.substring(F.col("image_id"), 15, 1).alias("grp"),
        F.col("image_id").alias("mask_id"),
        "start_pos",
        "run_len",
    )
    return mask_iou_join(masks, band=16)


def _mask_iou_sql() -> str:
    from osm2geojson_spark.operators.boxes import mask_iou_sql

    runs = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), px AS (
  SELECT i, p, ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS v
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img) q
), m AS (
  SELECT i, p,
         p - row_number() OVER (PARTITION BY i ORDER BY p) AS g
  FROM px WHERE v >= 128
)
SELECT CAST(i % 10 AS VARCHAR) AS grp,
       printf('img%012d', i) AS mask_id,
       CAST(min(p) AS BIGINT) AS start_pos,
       CAST(count(*) AS BIGINT) AS run_len
FROM m GROUP BY i, g
"""
    return mask_iou_sql(runs)


def q_fast_corners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X197 (multimodal.fast_corners): FAST-9 keypoint detection over
    300 block-pattern images (4-px bright/dark tiles + a bounded <t
    texture term, so every detection comes from real 2-D corner
    geometry — the plain ramp's straight level sets can never light 9
    contiguous ring pixels) — 16-pixel Bresenham ring, >= 9 contiguous
    brighter/darker test via the bitmask-doubling trick. Pure integer;
    the oracle rebuilds the ring masks from the same block formula and
    replays the identical 16-shift OR."""
    from osm2geojson_spark.operators import multimodal as MM2

    @pandas_udf("binary")
    def enc_blocks(i: pd.Series, w: pd.Series) -> pd.Series:
        import numpy as np

        from osm2geojson_spark.functions import imagecodec as IC

        out = []
        for ii, ww in zip(i, w):
            ii, ww = int(ii), int(ww)
            y, x = np.mgrid[0:ww, 0:ww]
            px = (
                np.where((x // 4 + y // 4 + ii) % 3 == 0, 200, 0)
                + (x + 2 * y + ii) % 17
            ).astype(np.uint8)
            out.append(IC.encode_rawz(px))
        return pd.Series(out)

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 300)
    w = (F.lit(8) * (F.lit(1) + F.col("p_partkey") % 3)).cast("int")
    imgs = part.select(
        F.format_string("img%012d", F.col("p_partkey")).alias("image_id"),
        F.col("p_partkey").alias("_i"),
        w.alias("w"),
        w.alias("h"),
        F.lit("rawz").alias("fmt"),
    ).withColumn("bytes", enc_blocks(F.col("_i"), F.col("w")))
    return MM2.fast_corners(imgs, t=20)


def _fast_corners_sql() -> str:
    from osm2geojson_spark.operators.multimodal import FAST_RING

    t = 20

    def v(dx: int, dy: int) -> str:
        return (
            f"(CASE WHEN ((x + {dx}) // 4 + (y + {dy}) // 4 + i) % 3 = 0"
            f" THEN 200 ELSE 0 END"
            f" + ((x + {dx}) + 2 * (y + {dy}) + i) % 17)"
        )

    bm = " + ".join(
        f"(CASE WHEN ({v(dx, dy)}) > ({v(0, 0)}) + {t}"
        f" THEN {1 << k} ELSE 0 END)"
        for k, (dx, dy) in enumerate(FAST_RING)
    )
    dm = " + ".join(
        f"(CASE WHEN ({v(dx, dy)}) < ({v(0, 0)}) - {t}"
        f" THEN {1 << k} ELSE 0 END)"
        for k, (dx, dy) in enumerate(FAST_RING)
    )
    b_run = " OR ".join(
        f"(((bm * 65537) >> {s}) & 511) = 511" for s in range(16)
    )
    d_run = " OR ".join(
        f"(((dm * 65537) >> {s}) & 511) = 511" for s in range(16)
    )
    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), inner_px AS (
  SELECT i, w, (p % w) AS x, (p // w) AS y FROM px
  WHERE (p % w) >= 3 AND (p % w) <= w - 4
    AND (p // w) >= 3 AND (p // w) <= w - 4
), masks AS (
  SELECT i, x, y,
         CAST(({bm}) AS BIGINT) AS bm,
         CAST(({dm}) AS BIGINT) AS dm
  FROM inner_px
), flags AS (
  SELECT i, x, y,
         CASE WHEN {b_run} THEN 1 ELSE 0 END AS bright,
         CASE WHEN {d_run} THEN 1 ELSE 0 END AS dark
  FROM masks
)
SELECT printf('img%012d', i) AS image_id,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(bright AS BIGINT) AS bright, CAST(dark AS BIGINT) AS dark
FROM flags WHERE bright = 1 OR dark = 1
"""


def q_lbp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X196 (multimodal.lbp_histogram): uniform local-binary-pattern
    texture histograms over 300 mixed rawz/png images — 8-bit clockwise
    neighbor codes folded through the Ojala uniform LUT into 10 bins.
    Pure integer comparisons; the oracle recomputes every neighbor from
    the deterministic pixel formula and joins the identical LUT as
    VALUES, so one misrouted pixel breaks the hash."""
    from osm2geojson_spark.operators import multimodal as MM2

    imgs = _synth_images(spark, sf_dir, 300)
    return MM2.lbp_histogram(imgs)


def _lbp_sql() -> str:
    from osm2geojson_spark.operators.multimodal import (
        LBP_OFFSETS,
        lbp_uniform_bin,
    )

    def v(dx: int, dy: int) -> str:
        return f"((x + {dx}) * 3 + (y + {dy}) * 7 + i * 13) % 251"

    code = " + ".join(
        f"(CASE WHEN ({v(dx, dy)}) >= ({v(0, 0)}) THEN {1 << k} ELSE 0 END)"
        for k, (dx, dy) in enumerate(LBP_OFFSETS)
    )
    lut = ", ".join(f"({c}, {lbp_uniform_bin(c)})" for c in range(256))
    return f"""
WITH img AS (
  SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
  FROM part WHERE p_partkey < 300
), px AS (
  SELECT i, w, unnest(range(0, w * w)) AS p FROM img
), inner_px AS (
  SELECT i, w, (p % w) AS x, (p // w) AS y FROM px
  WHERE (p % w) >= 1 AND (p % w) <= w - 2
    AND (p // w) >= 1 AND (p // w) <= w - 2
), codes AS (
  SELECT i, ({code}) AS code FROM inner_px
), lut(code, bin) AS (VALUES {lut})
SELECT printf('img%012d', i) AS image_id,
       CAST(lut.bin AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS cnt
FROM codes JOIN lut USING (code)
GROUP BY 1, 2
"""


def q_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X195 (spatial_stats.join_counts): BW join count statistics over
    the customer density grid at res 4, binarized at the exact integer
    above-mean gate (cnt·n_cells > total) — fully exact int64 output
    including nonfree-sampling expectation rationals."""
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import join_counts

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    hist = pts.groupBy(
        CEL.cell_id(F.col("lon"), F.col("lat"), 4).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = hist.agg(
        F.count(F.lit(1)).alias("nc"), F.sum("cnt").alias("s")
    )
    marks = hist.crossJoin(F.broadcast(tot)).select(
        "cell_id",
        (F.col("cnt") * F.col("nc") > F.col("s")).cast("long").alias("black"),
    )
    return join_counts(marks, res=4)


def _join_counts_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import join_counts_sql

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    marks = f"""
SELECT cell_id,
       CASE WHEN cnt * (SELECT count(*) FROM (
                SELECT {cell} AS cell_id, count(*) AS cnt
                FROM customer GROUP BY 1))
                > (SELECT count(*) FROM customer)
            THEN 1 ELSE 0 END AS black
FROM (SELECT {cell} AS cell_id, count(*) AS cnt FROM customer GROUP BY 1)
"""
    return join_counts_sql(marks, res=4)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X193 (similarity.hard_negatives): contrastive hard-negative
    mining — per sampled anchor, the top-5 highest quantized-inner-
    product embeddings with a DIFFERENT label (broadcast corpus, Arrow
    GEMM-shaped scoring; exact integer dots and ranking)."""
    from osm2geojson_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 5 == 0)
    return hard_negatives(anchors, emb, k=5)


def _hard_negatives_sql() -> str:
    from osm2geojson_spark.operators.similarity import hard_negatives_sql

    return hard_negatives_sql(
        "SELECT vec_id, label, embedding FROM embeddings"
        " WHERE vec_id % 5 = 0",
        "SELECT vec_id, label, embedding FROM embeddings",
        k=5,
        dim=64,
    )


def q_scan_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X190 (spatial_stats.scan_stat): Kulldorff spatial scan statistic
    (Poisson) over the customer point grid — cases are a deterministic
    flag with an elevated eastern-hemisphere rate, so the detected
    cluster is a real planted signal. Zone aggregates and the elevated-
    rate gate are exact int64; the LLR takes ln of integers only,
    combined in a pinned order and hashed as micro-nats."""
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import scan_stat

    cust = _t(spark, sf_dir, "customer")
    mod = F.col("c_custkey") % 10
    is_case = (
        F.when(_lon("c_custkey") >= 0, (mod < 4).cast("long"))
        .otherwise((mod < 1).cast("long"))
    )
    hist = cust.select(
        CEL.cell_id(_lon("c_custkey"), _lat("c_custkey"), 4).alias("cell_id"),
        is_case.alias("_case"),
    ).groupBy("cell_id").agg(
        F.sum("_case").alias("cases"), F.count(F.lit(1)).alias("pop")
    )
    return scan_stat(hist, res=4, k_max=2, top=5)


def _scan_stat_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL
    from osm2geojson_spark.operators.spatial_stats import scan_stat_sql

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    hist = f"""
SELECT {cell} AS cell_id,
       sum(CASE WHEN {SYN.lon_sql('c_custkey')} >= 0
                THEN CASE WHEN c_custkey % 10 < 4 THEN 1 ELSE 0 END
                ELSE CASE WHEN c_custkey % 10 < 1 THEN 1 ELSE 0 END
           END) AS cases,
       count(*) AS pop
FROM customer GROUP BY 1
"""
    return scan_stat_sql(hist, res=4, k_max=2, top=5)


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X181 (functions/text.pmi_cooc): PMI collocation mining over the
    documents corpus — adjacent normalized-token pairs (canonical
    unordered), log-free monotone PMI as the exact-int-backed pinned
    ratio c_xy·N_tok²/(N_pairs·u_x·u_y), min support 3. One per-doc
    window + two combinable rollups + broadcast marginal joins."""
    from osm2geojson_spark.functions.text import pmi_cooc

    return pmi_cooc(_t(spark, sf_dir, "documents"), min_count=3)


def _pmi_sql() -> str:
    from osm2geojson_spark.functions.text import pmi_cooc_sql

    return pmi_cooc_sql("SELECT doc_id, text FROM documents", min_count=3)


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170 (retrieval.ranking_metrics): NDCG@10 + reciprocal rank per
    query over a 40-query retrieval fixture — orders ranked by a
    Knuth-hash score inside each o_custkey%40 query, graded relevance
    from the order key. The position discounts 1/log2(pos+1) and
    reciprocals 1/pos are quantized once driver-side and inlined into
    BOTH plans, so no engine ever computes a log."""
    from osm2geojson_spark.operators.retrieval import ranking_metrics

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        (F.col("o_custkey") % 40).alias("query_id"),
        ((k * F.lit(2654435761)) % 1000003).alias("_score"),
        k.alias("_k"),
        F.when(k % 3 == 0, (k / 3).cast("long") % 4)
        .otherwise(F.lit(0))
        .alias("rel"),
    )
    ranked = base.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("_score").asc(), F.col("_k").asc()
            )
        ),
    )
    return ranking_metrics(ranked, k=10)


def _ranking_eval_sql() -> str:
    from osm2geojson_spark.operators.retrieval import ranking_metrics_weights

    w_disc, w_rr = ranking_metrics_weights(10)
    disc = " ".join(f"WHEN {p} THEN {w}" for p, w in w_disc.items())
    rr = " ".join(f"WHEN {p} THEN {w}" for p, w in w_rr.items())
    return f"""
WITH base AS (
  SELECT o_custkey % 40 AS q,
         (o_orderkey * 2654435761) % 1000003 AS score,
         o_orderkey AS k,
         CASE WHEN o_orderkey % 3 = 0 THEN (o_orderkey // 3) % 4
              ELSE 0 END AS rel
  FROM orders
), ranked AS (
  SELECT q, rel,
         row_number() OVER (PARTITION BY q ORDER BY score, k) AS pos
  FROM base
), topk AS (
  SELECT * FROM ranked WHERE pos <= 10
), ideal AS (
  SELECT q, rel, pos,
         row_number() OVER (PARTITION BY q ORDER BY rel DESC, pos) AS ipos
  FROM topk
), terms AS (
  SELECT q, pos, rel,
         (CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3
                   WHEN 3 THEN 7 END)
           * (CASE pos {disc} END) AS dcg_term,
         (CASE rel WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3
                   WHEN 3 THEN 7 END)
           * (CASE ipos {disc} END) AS idcg_term,
         CASE WHEN rel >= 2 THEN pos END AS hit
  FROM ideal
)
SELECT q AS query_id, CAST(count(*) AS INTEGER) AS n_ranked,
       CAST(sum(dcg_term) AS BIGINT) AS dcg_q,
       CAST(sum(idcg_term) AS BIGINT) AS idcg_q,
       CASE WHEN sum(idcg_term) > 0
            THEN CAST(sum(dcg_term) AS DOUBLE) / sum(idcg_term)
            ELSE 0.0 END AS ndcg,
       CAST(coalesce(min(hit), 0) AS INTEGER) AS first_rel_pos,
       CAST(coalesce(CASE min(hit) {rr} END, 0) AS BIGINT) AS rr_q
FROM terms GROUP BY q
"""


def q_ssim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169 (multimodal.ssim_pairs): windowed SSIM over 120 image pairs
    of 16x16 synthetic images (mixed rawz/png) — every 3rd pair is
    identical (mssim exactly 1.0), the rest pair different formula
    seeds. Per-tile SSIM is assembled from six integer sufficient stats
    with denominators cleared by 400*n^2 (C1 = 2601/400, C2 = 23409/400
    exact), micro-quantized, and summed order-free; the oracle rebuilds
    the window sums from the pixel formula and replays the identical
    double assembly."""
    from osm2geojson_spark.operators.multimodal import ssim_pairs

    k = F.col("p_partkey")
    w16 = F.lit(16).cast("int")
    seed_b = (
        F.when(k % 3 == 0, k)
        .when(k % 3 == 1, k + 1)
        .otherwise(k * 2 + 9)
        .cast("int")
    )
    fmt_a = F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz"))
    pairs = (
        _t(spark, sf_dir, "part")
        .filter((k < 240) & (k % 2 == 0))
        .select(
            k.alias("pair_id"),
            SYN._encode_image_fmt_udf(k.cast("int"), w16, w16, fmt_a).alias(
                "bytes_a"
            ),
            fmt_a.alias("fmt_a"),
            SYN._encode_image_fmt_udf(
                seed_b, w16, w16, F.lit("rawz")
            ).alias("bytes_b"),
            F.lit("rawz").alias("fmt_b"),
        )
    )
    return ssim_pairs(pairs, window=8)


_SSIM_SQL = """
WITH img AS (
  SELECT p_partkey AS i,
         CASE WHEN p_partkey % 3 = 0 THEN p_partkey
              WHEN p_partkey % 3 = 1 THEN p_partkey + 1
              ELSE p_partkey * 2 + 9 END AS sb
  FROM part WHERE p_partkey < 240 AND p_partkey % 2 = 0
), g AS (
  SELECT unnest(range(0, 16)) AS c
), px AS (
  SELECT i, gx.c // 8 AS wx, gy.c // 8 AS wy,
         (gx.c * 3 + gy.c * 7 + i * 13) % 251 AS va,
         (gx.c * 3 + gy.c * 7 + sb * 13) % 251 AS vb
  FROM img, g gx, g gy
), tiles AS (
  SELECT i, wx, wy,
         CAST(sum(va) AS BIGINT) AS sa, CAST(sum(vb) AS BIGINT) AS sb,
         CAST(sum(va * va) AS BIGINT) AS saa,
         CAST(sum(vb * vb) AS BIGINT) AS sbb,
         CAST(sum(va * vb) AS BIGINT) AS sab
  FROM px GROUP BY i, wx, wy
), scored AS (
  SELECT i,
         CAST(round(
           (CAST(800 * sa * sb + 2601 * 4096 AS DOUBLE)
            / (400 * (sa * sa + sb * sb) + 2601 * 4096))
           * (CAST(800 * (64 * sab - sa * sb) + 23409 * 4096 AS DOUBLE)
              / (400 * (64 * (saa + sbb) - sa * sa - sb * sb)
                 + 23409 * 4096))
           * 1e6) AS BIGINT) AS q
  FROM tiles
)
SELECT i AS pair_id, CAST(count(*) AS INTEGER) AS n_win,
       sum(q) AS ssim_q_sum, min(q) AS ssim_q_min,
       CAST(sum(q) AS DOUBLE) / (1e6 * count(*)) AS mssim
FROM scored GROUP BY i
"""


def q_morph_openclose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168 (multimodal.morphology_openclose): 3x3 greyscale erosion/dilation/
    opening/closing/gradient over 120 synthetic 16x16 images (mixed
    rawz/png wire formats) — per-image integer pixel sums plus
    position-weighted checksums. The oracle replays the clipped-border
    min/max stencils as two levels of neighbor self-joins over the
    unnested pixel grid."""
    from osm2geojson_spark.operators.multimodal import morphology_openclose

    k = F.col("p_partkey")
    w16 = F.lit(16).cast("int")
    images = (
        _t(spark, sf_dir, "part")
        .filter((k < 240) & (k % 2 == 0))
        .select(
            k.alias("image_id"),
            SYN._encode_image_fmt_udf(
                k.cast("int"),
                w16,
                w16,
                F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")),
            ).alias("bytes"),
            F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias(
                "fmt"
            ),
        )
    )
    return morphology_openclose(images)


_MORPH_OPENCLOSE_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part
  WHERE p_partkey < 240 AND p_partkey % 2 = 0
), g AS (
  SELECT unnest(range(0, 16)) AS c
), px AS (
  SELECT i, gx.c AS x, gy.c AS y,
         (gx.c * 3 + gy.c * 7 + i * 13) % 251 AS v
  FROM img, g gx, g gy
), ero AS (
  SELECT p.i, p.x, p.y, min(q.v) AS v
  FROM px p JOIN px q
    ON q.i = p.i AND q.x BETWEEN p.x - 1 AND p.x + 1
   AND q.y BETWEEN p.y - 1 AND p.y + 1
  GROUP BY p.i, p.x, p.y
), dil AS (
  SELECT p.i, p.x, p.y, max(q.v) AS v
  FROM px p JOIN px q
    ON q.i = p.i AND q.x BETWEEN p.x - 1 AND p.x + 1
   AND q.y BETWEEN p.y - 1 AND p.y + 1
  GROUP BY p.i, p.x, p.y
), opn AS (
  SELECT p.i, p.x, p.y, max(q.v) AS v
  FROM ero p JOIN ero q
    ON q.i = p.i AND q.x BETWEEN p.x - 1 AND p.x + 1
   AND q.y BETWEEN p.y - 1 AND p.y + 1
  GROUP BY p.i, p.x, p.y
), cls AS (
  SELECT p.i, p.x, p.y, min(q.v) AS v
  FROM dil p JOIN dil q
    ON q.i = p.i AND q.x BETWEEN p.x - 1 AND p.x + 1
   AND q.y BETWEEN p.y - 1 AND p.y + 1
  GROUP BY p.i, p.x, p.y
)
SELECT e.i AS image_id,
       CAST(sum(e.v) AS BIGINT) AS ero_sum,
       CAST(sum(d.v) AS BIGINT) AS dil_sum,
       CAST(sum(o.v) AS BIGINT) AS open_sum,
       CAST(sum(c.v) AS BIGINT) AS close_sum,
       CAST(sum(d.v - e.v) AS BIGINT) AS grad_sum,
       CAST(sum(e.v * (1 + e.x + 16 * e.y)) AS BIGINT) AS ero_chk,
       CAST(sum(o.v * (1 + o.x + 16 * o.y)) AS BIGINT) AS open_chk
FROM ero e
JOIN dil d ON d.i = e.i AND d.x = e.x AND d.y = e.y
JOIN opn o ON o.i = e.i AND o.x = e.x AND o.y = e.y
JOIN cls c ON c.i = e.i AND c.x = e.x AND c.y = e.y
GROUP BY e.i
"""


def q_motion_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X167 (multimodal.motion_field): per-tile block-matching motion field
    over 120 frame pairs of 20x20 quadratic-pattern frames — pairs with
    i % 5 != 0 have frame B = frame A shifted by a planted (sx, sy) in
    [-1, 1]^2 (SAD exactly 0 at the feasible argmin), the rest pair two
    unrelated patterns. The SAD argmin is pure int64; the oracle replays
    the pixel formula and the (sad, dv, du) tournament via NOT EXISTS."""
    from osm2geojson_spark.operators.multimodal import motion_field

    @pandas_udf("binary")
    def enc_frame(
        seed: pd.Series, sx: pd.Series, sy: pd.Series
    ) -> pd.Series:
        import numpy as np

        from osm2geojson_spark.functions import imagecodec as IC

        out = []
        for s, ox, oy in zip(seed, sx, sy):
            y, x = np.mgrid[0:20, 0:20]
            u = x + 2 + int(ox)
            v = y + 2 + int(oy)
            px = (
                (3 * u * u + 7 * v * v + 5 * u * v + 11 * u + 2 * v
                 + 13 * int(s)) % 251
            ).astype(np.uint8)
            out.append(IC.encode_rawz(px))
        return pd.Series(out)

    k = F.col("p_partkey")
    zero = F.lit(0).cast("long")
    unrelated = k % 5 == 0
    seed_b = F.when(unrelated, k * 2 + 7).otherwise(k)
    sx = F.when(unrelated, zero).otherwise(k % 3 - 1)
    sy = F.when(unrelated, zero).otherwise((k / 3).cast("long") % 3 - 1)
    pairs = (
        _t(spark, sf_dir, "part")
        .filter((k < 240) & (k % 2 == 0))
        .select(
            k.alias("pair_id"),
            enc_frame(k, zero, zero).alias("bytes_a"),
            F.lit("rawz").alias("fmt_a"),
            enc_frame(seed_b, sx, sy).alias("bytes_b"),
            F.lit("rawz").alias("fmt_b"),
        )
    )
    return motion_field(pairs, block=8, radius=2)


_MOTION_FIELD_SQL = """
WITH img AS (
  SELECT p_partkey AS i,
         CASE WHEN p_partkey % 5 = 0 THEN 2 * p_partkey + 7
              ELSE p_partkey END AS seed_b,
         CASE WHEN p_partkey % 5 = 0 THEN 0
              ELSE (p_partkey % 3) - 1 END AS sx,
         CASE WHEN p_partkey % 5 = 0 THEN 0
              ELSE ((p_partkey // 3) % 3) - 1 END AS sy
  FROM part WHERE p_partkey < 240 AND p_partkey % 2 = 0
), bgrid AS (
  SELECT unnest([0, 8]) AS b
), offs AS (
  SELECT unnest(range(-2, 3)) AS o
), px AS (
  SELECT unnest(range(0, 8)) AS p
), ppx AS (
  SELECT m.i, m.seed_b,
         gx.b AS bx, gy.b AS by, ou.o AS du, ov.o AS dv,
         gx.b + qx.p + 2 AS ua, gy.b + qy.p + 2 AS va,
         gx.b + ou.o + qx.p + 2 + m.sx AS ub,
         gy.b + ov.o + qy.p + 2 + m.sy AS vb
  FROM img m, bgrid gx, bgrid gy, offs ou, offs ov, px qx, px qy
  WHERE gx.b + ou.o >= 0 AND gx.b + ou.o + 8 <= 20
    AND gy.b + ov.o >= 0 AND gy.b + ov.o + 8 <= 20
), cand AS (
  SELECT i, bx, by, du, dv,
         CAST(sum(abs(
           ((3*ua*ua + 7*va*va + 5*ua*va + 11*ua + 2*va + 13*i) % 251)
           - ((3*ub*ub + 7*vb*vb + 5*ub*vb + 11*ub + 2*vb + 13*seed_b) % 251)
         )) AS BIGINT) AS sad
  FROM ppx GROUP BY i, bx, by, du, dv
), best AS (
  SELECT c1.* FROM cand c1
  WHERE NOT EXISTS (
    SELECT 1 FROM cand c2
    WHERE c2.i = c1.i AND c2.bx = c1.bx AND c2.by = c1.by
      AND NOT (c2.du = c1.du AND c2.dv = c1.dv)
      AND (c2.sad < c1.sad
           OR (c2.sad = c1.sad
               AND (c2.dv < c1.dv
                    OR (c2.dv = c1.dv AND c2.du < c1.du))))
  )
)
SELECT i AS pair_id, CAST(bx AS INTEGER) AS bx, CAST(by AS INTEGER) AS by,
       CAST(du AS INTEGER) AS du, CAST(dv AS INTEGER) AS dv, sad
FROM best
"""


def q_template_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X166 (multimodal.template_match): exact-NCC template localization
    over 120 image/template pairs — every 4th pair's template is a crop
    of its own image (planted argmax at (4,4), NCC exactly 1.0), the
    rest crop a DIFFERENT image's field. The argmax is float-free
    (sign rules + cross-multiplied integer comparison); the oracle
    replays it as a NOT-EXISTS tournament with HUGEINT cross products
    and the identical (y, x) tie order."""
    from osm2geojson_spark.operators.multimodal import template_match

    @pandas_udf("binary")
    def enc_tpl(j: pd.Series) -> pd.Series:
        import numpy as np

        from osm2geojson_spark.functions import imagecodec as IC

        out = []
        for jj in j:
            y, x = np.mgrid[0:8, 0:8]
            px = (((x + 4) * 3 + (y + 4) * 7 + int(jj) * 13) % 251).astype(
                np.uint8
            )
            out.append(IC.encode_rawz(px))
        return pd.Series(out)

    k = F.col("p_partkey")
    w16 = F.lit(16).cast("int")
    jt = F.when(k % 4 == 0, k).otherwise(k + 5).cast("int")
    pairs = (
        _t(spark, sf_dir, "part")
        .filter((k < 240) & (k % 2 == 0))
        .select(
            k.alias("pair_id"),
            SYN._encode_image_fmt_udf(
                k.cast("int"),
                w16,
                w16,
                F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")),
            ).alias("bytes_img"),
            F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias(
                "fmt_img"
            ),
            enc_tpl(jt).alias("bytes_tpl"),
            F.lit("rawz").alias("fmt_tpl"),
        )
    )
    return template_match(pairs)


_TEMPLATE_MATCH_SQL = """
WITH img AS (
  SELECT p_partkey AS i,
         CASE WHEN p_partkey % 4 = 0 THEN p_partkey
              ELSE p_partkey + 5 END AS jt
  FROM part WHERE p_partkey < 240 AND p_partkey % 2 = 0
), tgrid AS (
  SELECT unnest(range(0, 8)) AS tx
), tpx AS (
  SELECT i, jt, gx.tx, gy.tx AS ty,
         ((gx.tx + 4) * 3 + (gy.tx + 4) * 7 + jt * 13) % 251 AS tv
  FROM img, tgrid gx, tgrid gy
), tstats AS (
  SELECT i, CAST(sum(tv) AS BIGINT) AS s_t,
         CAST(sum(tv * tv) AS BIGINT) AS s_tt
  FROM tpx GROUP BY i
), offs AS (
  SELECT unnest(range(0, 9)) AS o
), cand AS (
  SELECT t.i, ou.o AS u, ov.o AS v,
         CAST(64 * sum(((ou.o + t.tx) * 3 + (ov.o + t.ty) * 7 + t.i * 13)
                       % 251 * t.tv) AS BIGINT)
           - CAST(sum(((ou.o + t.tx) * 3 + (ov.o + t.ty) * 7 + t.i * 13)
                      % 251) AS BIGINT) * ts.s_t AS num,
         CAST(64 * sum((((ou.o + t.tx) * 3 + (ov.o + t.ty) * 7 + t.i * 13)
                        % 251) * (((ou.o + t.tx) * 3 + (ov.o + t.ty) * 7
                                   + t.i * 13) % 251)) AS BIGINT)
           - CAST(sum(((ou.o + t.tx) * 3 + (ov.o + t.ty) * 7 + t.i * 13)
                      % 251) AS BIGINT)
             * CAST(sum(((ou.o + t.tx) * 3 + (ov.o + t.ty) * 7 + t.i * 13)
                        % 251) AS BIGINT) AS den_w,
         64 * ts.s_tt - ts.s_t * ts.s_t AS den_t
  FROM tpx t JOIN tstats ts ON ts.i = t.i, offs ou, offs ov
  GROUP BY t.i, ou.o, ov.o, ts.s_t, ts.s_tt
), ok AS (
  SELECT * FROM cand WHERE den_w > 0 AND den_t > 0
), best AS (
  SELECT c1.* FROM ok c1
  WHERE NOT EXISTS (
    SELECT 1 FROM ok c2
    WHERE c2.i = c1.i AND NOT (c2.u = c1.u AND c2.v = c1.v)
      AND (
        (CASE WHEN c2.num > 0 THEN 1 WHEN c2.num < 0 THEN -1 ELSE 0 END)
        > (CASE WHEN c1.num > 0 THEN 1 WHEN c1.num < 0 THEN -1 ELSE 0 END)
        OR (
          (CASE WHEN c2.num > 0 THEN 1 WHEN c2.num < 0 THEN -1 ELSE 0 END)
          = (CASE WHEN c1.num > 0 THEN 1 WHEN c1.num < 0 THEN -1 ELSE 0 END)
          AND (
            CASE WHEN c2.num >= 0
                 THEN CAST(c2.num AS HUGEINT) * c2.num * c1.den_w
                      > CAST(c1.num AS HUGEINT) * c1.num * c2.den_w
                 ELSE CAST(c2.num AS HUGEINT) * c2.num * c1.den_w
                      < CAST(c1.num AS HUGEINT) * c1.num * c2.den_w END
            OR (CAST(c2.num AS HUGEINT) * c2.num * c1.den_w
                = CAST(c1.num AS HUGEINT) * c1.num * c2.den_w
                AND (c2.v < c1.v OR (c2.v = c1.v AND c2.u < c1.u)))
          )
        )
      )
  )
)
SELECT i AS pair_id, CAST(u AS INTEGER) AS best_x, CAST(v AS INTEGER) AS best_y,
       num, den_w, den_t,
       round(CAST(num AS DOUBLE) / sqrt(CAST(den_w * den_t AS DOUBLE)), 6)
         + 0.0 AS ncc
FROM best
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X165 (sketch.hll_distinct): HyperLogLog distinct customers per
    order priority — fixed 256-register state per group (theta_distinct's
    survivor set grows with cardinality; HLL's does not), registers
    reduced by order-free max, the harmonic sum carried as an exact
    int64. The oracle replays the congruential hash chains, the
    comparison-count bitlen, and the one float estimate assembly."""
    from osm2geojson_spark.operators.sketch import hll_distinct

    orders = _t(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    return hll_distinct(orders, ["o_orderpriority"], "o_custkey", p=8)


def _hll_distinct_sql() -> str:
    from osm2geojson_spark.operators.sketch import hll_distinct_sql

    return hll_distinct_sql(
        "SELECT o_orderpriority, o_custkey FROM orders",
        ["o_orderpriority"],
        "o_custkey",
        p=8,
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION (multimodal.mutual_information): the
    registration / cross-modal alignment metric over 120 image pairs
    whose B side uses a DIFFERENT linear pixel field mod 97 — so the
    joint 256x256 histogram is genuinely non-degenerate (neither a
    bijection of A nor independent). All three entropy sums are emitted
    micro-quantized int64 (image_entropy's scheme) and the oracle
    rebuilds both pixel formulas inline and replays the identical float
    assembly for ``mi``."""
    from osm2geojson_spark.operators.multimodal import mutual_information

    @pandas_udf("binary")
    def enc_b(i: pd.Series) -> pd.Series:
        from osm2geojson_spark.functions import imagecodec as IC

        import numpy as np

        out = []
        for idx in i:
            y, x = np.mgrid[0:16, 0:16]
            px = ((x * 5 + y * 2 + int(idx) * 11) % 97).astype(np.uint8)
            out.append(IC.encode_rawz(px))
        return pd.Series(out)

    k = F.col("p_partkey")
    w16 = F.lit(16).cast("int")
    pairs = (
        _t(spark, sf_dir, "part")
        .filter((k < 240) & (k % 2 == 0))
        .select(
            k.alias("pair_id"),
            SYN._encode_image_fmt_udf(
                k.cast("int"),
                w16,
                w16,
                F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")),
            ).alias("bytes_a"),
            F.when(k % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias(
                "fmt_a"
            ),
            enc_b(k).alias("bytes_b"),
            F.lit("rawz").alias("fmt_b"),
        )
    )
    return mutual_information(pairs)


_MUTUAL_INFO_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 240 AND p_partkey % 2 = 0
), px AS (
  SELECT i,
         ((p % 16) * 3 + (p // 16) * 7 + i * 13) % 251 AS a,
         ((p % 16) * 5 + (p // 16) * 2 + i * 11) % 97 AS b
  FROM (SELECT i, unnest(range(0, 256)) AS p FROM img)
), ha AS (
  SELECT i, CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                * 1e6) AS BIGINT)) AS BIGINT) AS sa_q
  FROM (SELECT i, a, count(*) AS c FROM px GROUP BY i, a) GROUP BY i
), hb AS (
  SELECT i, CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                * 1e6) AS BIGINT)) AS BIGINT) AS sb_q
  FROM (SELECT i, b, count(*) AS c FROM px GROUP BY i, b) GROUP BY i
), hab AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n_joint,
         CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                             * 1e6) AS BIGINT)) AS BIGINT) AS sab_q
  FROM (SELECT i, a, b, count(*) AS c FROM px GROUP BY i, a, b) GROUP BY i
)
SELECT ha.i AS pair_id, CAST(256 AS BIGINT) AS n_px, hab.n_joint,
       ha.sa_q, hb.sb_q, hab.sab_q,
       round(ln(256.0) + ((hab.sab_q - ha.sa_q - hb.sb_q) / 1e6) / 256,
             6) + 0.0 AS mi
FROM ha JOIN hb ON ha.i = hb.i JOIN hab ON ha.i = hab.i
"""


def q_watershed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X161 (geostat.watershed_basins): every cell of the shared 32x32
    DEM labeled with the sink it drains to — D8 pointers chased by
    pointer doubling (O(log path) shuffles). The oracle walks the same
    pointers one step at a time with a recursive CTE; strict descent
    guarantees termination and a unique basin per cell."""
    from osm2geojson_spark.operators.geostat import watershed_basins

    return watershed_basins(_dem32(spark), max_path=64)


_WATERSHED_SQL = """
WITH RECURSIVE dem AS (
  SELECT i % 32 AS x, i // 32 AS y,
         ((i % 32) * 13 + (i // 32) * 29 + ((i % 32) * (i // 32)) % 7) % 97 AS z
  FROM (SELECT unnest(range(0, 1024)) AS i)
), dirs AS (
  SELECT * FROM (VALUES (0, -1, -1, 1), (1, -1, 0, 2), (2, -1, 1, 1),
                        (3, 0, -1, 2), (4, 0, 1, 2), (5, 1, -1, 1),
                        (6, 1, 0, 2), (7, 1, 1, 1))
         AS d(dir, dx, dy, wt)
), nb AS (
  SELECT dem.x, dem.y, dirs.dir, dirs.wt, n.x AS nx, n.y AS ny,
         n.z - dem.z AS dz
  FROM dem, dirs
  JOIN dem n ON n.x = dem.x + dirs.dx AND n.y = dem.y + dirs.dy
  WHERE n.z - dem.z < 0
), ranked AS (
  SELECT x, y, nx, ny,
         row_number() OVER (PARTITION BY x, y
                            ORDER BY wt * dz * dz DESC, dir ASC) AS rk
  FROM nb
), flow AS (
  SELECT dem.x, dem.y, b.nx AS down_x, b.ny AS down_y
  FROM dem LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) b
    ON b.x = dem.x AND b.y = dem.y
), walk AS (
  SELECT x, y, x AS cx, y AS cy FROM flow
  UNION ALL
  SELECT w.x, w.y, f.down_x, f.down_y
  FROM walk w JOIN flow f ON f.x = w.cx AND f.y = w.cy
  WHERE f.down_x IS NOT NULL
)
SELECT w.x, w.y, w.cx AS sink_x, w.cy AS sink_y,
       CAST(w.cy * 4294967296 + w.cx AS BIGINT) AS basin_id
FROM walk w JOIN flow f ON f.x = w.cx AND f.y = w.cy
WHERE f.down_x IS NULL
"""


def q_frechet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160 (trajectory.frechet_sq): discrete Frechet distance (squared
    planar integer) for 5 candidate pairs over 6 deterministic part-keyed
    tracks. Unlike dtw (rows-only), this DP has a FULL oracle: the
    reachability characterization — min threshold t among the pair's
    d^2 values such that the end cell is reachable through cells with
    d^2 <= t — replayed as a recursive CTE."""
    from osm2geojson_spark.operators.trajectory import frechet_sq

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 60)
    k = F.col("p_partkey")
    u = k % 6
    tick = F.floor(k / 6).cast("long")
    tracks = part.select(
        u.alias("user_id"),
        tick.alias("tick"),
        (tick * 3 + (u * 7 + tick * tick) % 5).cast("long").alias("x"),
        (tick * 2 + (k * k) % 11).cast("long").alias("y"),
    ).filter(F.col("tick") < 8 + F.col("user_id") % 3)
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (1, 2), (0, 5)], "user_a long, user_b long"
    )
    return frechet_sq(tracks, pairs)


_FRECHET_SQL = """
WITH RECURSIVE pts AS (
  SELECT p_partkey % 6 AS u, p_partkey // 6 AS tick,
         (p_partkey // 6) * 3 + ((p_partkey % 6) * 7
            + (p_partkey // 6) * (p_partkey // 6)) % 5 AS x,
         (p_partkey // 6) * 2 + (p_partkey * p_partkey) % 11 AS y
  FROM part
  WHERE p_partkey < 60 AND p_partkey // 6 < 8 + (p_partkey % 6) % 3
), rk AS (
  SELECT u, x, y, row_number() OVER (PARTITION BY u ORDER BY tick) - 1 AS i
  FROM pts
), prs AS (
  SELECT * FROM (VALUES (0, 1), (2, 3), (4, 5), (1, 2), (0, 5)) p(ua, ub)
), d AS (
  SELECT ua, ub, a.i AS i, b.i AS j,
         (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS c
  FROM prs JOIN rk a ON a.u = prs.ua JOIN rk b ON b.u = prs.ub
), dims AS (
  SELECT ua, ub, max(i) AS ni, max(j) AS nj FROM d GROUP BY ua, ub
), thr AS (SELECT DISTINCT ua, ub, c AS t FROM d),
reach AS (
  SELECT d.ua, d.ub, thr.t, d.i, d.j
  FROM d JOIN thr ON thr.ua = d.ua AND thr.ub = d.ub
  WHERE d.i = 0 AND d.j = 0 AND d.c <= thr.t
  UNION
  SELECT r.ua, r.ub, r.t, d.i, d.j
  FROM reach r JOIN d ON d.ua = r.ua AND d.ub = r.ub
   AND ((d.i = r.i + 1 AND d.j = r.j) OR (d.i = r.i AND d.j = r.j + 1)
        OR (d.i = r.i + 1 AND d.j = r.j + 1))
  WHERE d.c <= r.t
)
SELECT r.ua AS user_a, r.ub AS user_b,
       CAST(dims.ni + 1 AS BIGINT) AS n_a, CAST(dims.nj + 1 AS BIGINT) AS n_b,
       CAST(min(r.t) AS BIGINT) AS frechet_sq
FROM reach r
JOIN dims ON dims.ua = r.ua AND dims.ub = r.ub
WHERE r.i = dims.ni AND r.j = dims.nj
GROUP BY r.ua, r.ub, dims.ni, dims.nj
"""


def q_flow_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158 (geostat.flow_direction): D8 steepest-descent routing +
    drainage in-degree over the shared 32x32 DEM — slope comparison via
    the float-free key 2*dz^2 (cardinal) vs dz^2 (diagonal), ties to
    the smallest direction id, sinks NULL. The oracle replays the probe
    join and argmax ordering with a window in pure integer SQL."""
    from osm2geojson_spark.operators.geostat import flow_direction

    return flow_direction(_dem32(spark))


_FLOW_DIR_SQL = """
WITH dem AS (
  SELECT i % 32 AS x, i // 32 AS y,
         ((i % 32) * 13 + (i // 32) * 29 + ((i % 32) * (i // 32)) % 7) % 97 AS z
  FROM (SELECT unnest(range(0, 1024)) AS i)
), dirs AS (
  SELECT * FROM (VALUES (0, -1, -1, 1), (1, -1, 0, 2), (2, -1, 1, 1),
                        (3, 0, -1, 2), (4, 0, 1, 2), (5, 1, -1, 1),
                        (6, 1, 0, 2), (7, 1, 1, 1))
         AS d(dir, dx, dy, wt)
), nb AS (
  SELECT dem.x, dem.y, dem.z, dirs.dir, dirs.wt,
         n.x AS nx, n.y AS ny, n.z - dem.z AS dz
  FROM dem, dirs
  JOIN dem n ON n.x = dem.x + dirs.dx AND n.y = dem.y + dirs.dy
  WHERE n.z - dem.z < 0
), ranked AS (
  SELECT x, y, dir, nx, ny,
         row_number() OVER (PARTITION BY x, y
                            ORDER BY wt * dz * dz DESC, dir ASC) AS rk
  FROM nb
), best AS (
  SELECT x, y, dir, nx AS down_x, ny AS down_y FROM ranked WHERE rk = 1
), flow AS (
  SELECT dem.x, dem.y, dem.z, best.dir, best.down_x, best.down_y
  FROM dem LEFT JOIN best ON best.x = dem.x AND best.y = dem.y
), indeg AS (
  SELECT down_x AS x, down_y AS y, CAST(count(*) AS BIGINT) AS indeg
  FROM flow WHERE down_x IS NOT NULL GROUP BY 1, 2
)
SELECT flow.x, flow.y, CAST(flow.z AS BIGINT) AS z,
       CAST(flow.dir AS INTEGER) AS dir, flow.down_x, flow.down_y,
       COALESCE(indeg.indeg, 0) AS indeg
FROM flow LEFT JOIN indeg ON indeg.x = flow.x AND indeg.y = flow.y
"""


def q_harris(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X157 (multimodal.harris_corners): integer-exact Harris corner
    response (k = 1/16, R = 16*det - trace^2) over 300 mixed rawz/png
    8x8 images — central-difference gradients, 3x3 structure-tensor
    sums, argmax with min(y*w+x) tie-break. The oracle recomputes every
    gradient neighborhood inline from the deterministic pixel formula
    in pure integer SQL."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.harris_corners(_synth_images(spark, sf_dir, 900, step=3))


_HARRIS_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), ctr AS (
  SELECT i, (p % 4) + 2 AS x, (p // 4) + 2 AS y
  FROM (SELECT i, unnest(range(0, 16)) AS p FROM img) q
), gsum AS (
  SELECT i, x, y,
         sum(gx * gx) AS sxx, sum(gy * gy) AS syy, sum(gx * gy) AS sxy
  FROM (
    SELECT i, x, y,
           (((x + dd % 3) * 3 + (y + dd // 3 - 1) * 7 + i * 13) % 251
            - ((x + dd % 3 - 2) * 3 + (y + dd // 3 - 1) * 7 + i * 13) % 251)
             AS gx,
           (((x + dd % 3 - 1) * 3 + (y + dd // 3) * 7 + i * 13) % 251
            - ((x + dd % 3 - 1) * 3 + (y + dd // 3 - 2) * 7 + i * 13) % 251)
             AS gy
    FROM (SELECT i, x, y, unnest(range(0, 9)) AS dd FROM ctr) q
  ) g GROUP BY i, x, y
), resp AS (
  SELECT i, x, y,
         16 * (sxx * syy - sxy * sxy) - (sxx + syy) * (sxx + syy) AS r
  FROM gsum
), agg AS (
  SELECT i, CAST(count(*) FILTER (WHERE r > 0) AS BIGINT) AS n_pos,
         CAST(sum(r) AS BIGINT) AS r_sum, CAST(max(r) AS BIGINT) AS r_max
  FROM resp GROUP BY i
), arg AS (
  SELECT resp.i, min(y * 8 + x) AS pos
  FROM resp JOIN agg ON agg.i = resp.i AND resp.r = agg.r_max
  GROUP BY resp.i
)
SELECT printf('img%012d', agg.i) AS image_id, n_pos, r_sum, r_max,
       CAST(pos % 8 AS INTEGER) AS x_max, CAST(pos // 8 AS INTEGER) AS y_max
FROM agg JOIN arg ON arg.i = agg.i
"""


def q_segment_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156 (spatial_join.segment_intersect_join): every intersecting /
    touching pair between two deterministic part-keyed segment sets —
    PBSM covering-cell candidates, then the CLRS integer cross-product
    predicate (proper crossings AND collinear touches, float-free). The
    oracle brute-forces all pairs with the identical predicate; the
    covering path must deliver exactly the same set exactly once."""
    from osm2geojson_spark.operators.spatial_join import segment_intersect_join

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 400)
    k = F.col("p_partkey")
    L = part.select(
        k.alias("lid"),
        ((k * 7) % 120).cast("long").alias("ax"),
        ((k * 13) % 80).cast("long").alias("ay"),
        (((k * 7) % 120) + (k % 17) - 8).cast("long").alias("bx"),
        (((k * 13) % 80) + (k % 19) - 9).cast("long").alias("by"),
    )
    R = part.select(
        k.alias("rid"),
        ((k * 23) % 120).cast("long").alias("ax"),
        ((k * 31) % 80).cast("long").alias("ay"),
        (((k * 23) % 120) + (k % 15) - 7).cast("long").alias("bx"),
        (((k * 31) % 80) + (k % 21) - 10).cast("long").alias("by"),
    )
    return segment_intersect_join(L, R, res=6)


_SEGMENT_INTERSECT_SQL = """
WITH L AS (
  SELECT p_partkey AS lid,
         (p_partkey * 7) % 120 AS ax, (p_partkey * 13) % 80 AS ay,
         (p_partkey * 7) % 120 + (p_partkey % 17) - 8 AS bx,
         (p_partkey * 13) % 80 + (p_partkey % 19) - 9 AS by
  FROM part WHERE p_partkey < 400
), R AS (
  SELECT p_partkey AS rid,
         (p_partkey * 23) % 120 AS ax, (p_partkey * 31) % 80 AS ay,
         (p_partkey * 23) % 120 + (p_partkey % 15) - 7 AS bx,
         (p_partkey * 31) % 80 + (p_partkey % 21) - 10 AS by
  FROM part WHERE p_partkey < 400
), d AS (
  SELECT lid, rid,
         (R.bx - R.ax) * (L.ay - R.ay) - (R.by - R.ay) * (L.ax - R.ax) AS d1,
         (R.bx - R.ax) * (L.by - R.ay) - (R.by - R.ay) * (L.bx - R.ax) AS d2,
         (L.bx - L.ax) * (R.ay - L.ay) - (L.by - L.ay) * (R.ax - L.ax) AS d3,
         (L.bx - L.ax) * (R.by - L.ay) - (L.by - L.ay) * (R.bx - L.ax) AS d4,
         L.ax AS lax, L.ay AS lay, L.bx AS lbx, L.by AS lby,
         R.ax AS rax, R.ay AS ray_, R.bx AS rbx, R.by AS rby
  FROM L, R
)
SELECT lid, rid, (d1 * d2 < 0 AND d3 * d4 < 0) AS is_proper
FROM d
WHERE (d1 * d2 < 0 AND d3 * d4 < 0)
   OR (d1 = 0 AND lax BETWEEN least(rax, rbx) AND greatest(rax, rbx)
               AND lay BETWEEN least(ray_, rby) AND greatest(ray_, rby))
   OR (d2 = 0 AND lbx BETWEEN least(rax, rbx) AND greatest(rax, rbx)
               AND lby BETWEEN least(ray_, rby) AND greatest(ray_, rby))
   OR (d3 = 0 AND rax BETWEEN least(lax, lbx) AND greatest(lax, lbx)
               AND ray_ BETWEEN least(lay, lby) AND greatest(lay, lby))
   OR (d4 = 0 AND rbx BETWEEN least(lax, lbx) AND greatest(lax, lbx)
               AND rby BETWEEN least(lay, lby) AND greatest(lay, lby))
"""


def _dem32(spark: SparkSession):
    """Deterministic 32x32 integer DEM shared by the terrain queries
    (viewshed, flow_dir): z = (x*13 + y*29 + (x*y) % 7) % 97."""
    n = 32
    xc = (F.col("id") % n).cast("long")
    yc = F.floor(F.col("id") / n).cast("long")
    return spark.range(n * n).select(
        xc.alias("x"),
        yc.alias("y"),
        ((xc * 13 + yc * 29 + (xc * yc) % 7) % 97).cast("long").alias("z"),
    )


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X155 (geostat.viewshed): 8-ray line-of-sight over a 32x32 integer
    DEM from 40 customer-keyed towers — visibility decided by the
    float-free cross-multiplied angle test dz_t * s > dz_s * t, exact
    int64 on both engines. One DEM equi-join + a bounded within-ray
    blocker join; the oracle replays it with NOT EXISTS."""
    from osm2geojson_spark.operators.geostat import viewshed

    dem = _dem32(spark)
    n = 32
    obs = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 40).select(
        F.col("c_custkey").alias("obs_id"),
        ((F.col("c_custkey") * 7) % n).cast("long").alias("ox"),
        ((F.col("c_custkey") * 11) % n).cast("long").alias("oy"),
        (F.lit(2) + F.col("c_custkey") % 3).cast("long").alias("tower"),
    )
    return viewshed(dem, obs, max_dist=20)


_VIEWSHED_SQL = """
WITH dem AS (
  SELECT i % 32 AS x, i // 32 AS y,
         ((i % 32) * 13 + (i // 32) * 29 + ((i % 32) * (i // 32)) % 7) % 97 AS z
  FROM (SELECT unnest(range(0, 1024)) AS i)
), obs AS (
  SELECT c_custkey AS obs_id, (c_custkey * 7) % 32 AS ox,
         (c_custkey * 11) % 32 AS oy, 2 + c_custkey % 3 AS tower
  FROM customer WHERE c_custkey < 40
), dirs AS (
  SELECT * FROM (VALUES (0, -1, -1), (1, -1, 0), (2, -1, 1), (3, 0, -1),
                        (4, 0, 1), (5, 1, -1), (6, 1, 0), (7, 1, 1))
         AS d(ray, dx, dy)
), eye AS (
  SELECT obs_id, ox, oy, dem.z + tower AS z_eye
  FROM obs JOIN dem ON dem.x = obs.ox AND dem.y = obs.oy
), samples AS (
  SELECT obs_id, ray, t, dem.z - z_eye AS dz
  FROM (SELECT eye.*, dirs.ray, dirs.dx, dirs.dy, tt.t
        FROM eye, dirs, (SELECT unnest(range(1, 21)) AS t) tt) s
  JOIN dem ON dem.x = s.ox + s.t * s.dx AND dem.y = s.oy + s.t * s.dy
), vis AS (
  SELECT a.obs_id, a.ray, a.t
  FROM samples a
  WHERE NOT EXISTS (
    SELECT 1 FROM samples b
    WHERE b.obs_id = a.obs_id AND b.ray = a.ray AND b.t < a.t
      AND b.dz * a.t >= a.dz * b.t
  )
), ns AS (
  SELECT obs_id, ray, CAST(count(*) AS BIGINT) AS n_samples
  FROM samples GROUP BY 1, 2
), nv AS (
  SELECT obs_id, ray, CAST(count(*) AS BIGINT) AS n_visible,
         CAST(max(t) AS BIGINT) AS max_visible_t
  FROM vis GROUP BY 1, 2
)
SELECT ns.obs_id, CAST(ns.ray AS INTEGER) AS ray, ns.n_samples,
       COALESCE(nv.n_visible, 0) AS n_visible, nv.max_visible_t
FROM ns LEFT JOIN nv ON nv.obs_id = ns.obs_id AND nv.ray = ns.ray
"""


def q_text_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X154 (functions/text.text_nll): per-document NLL under the
    corpus-trained character-bigram LM — the CCNet/Gopher-style cheap
    perplexity quality gate, trained and scored in one job. Bigram
    terms are quantized to micro-nats from exact integer counts before
    the order-free per-doc sum (track_nll's scheme); the oracle replays
    the identical bigram explosion, counts, and float assembly."""
    from osm2geojson_spark.functions.text import text_nll

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return text_nll(docs)


_TEXT_NLL_SQL = """
WITH bg AS (
  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS bg
  FROM documents, unnest(range(1, length(text))) AS t(i)
), mat AS (
  SELECT bg, CAST(count(*) AS BIGINT) AS n_bg FROM bg GROUP BY bg
), tot AS (
  SELECT substr(bg, 1, 1) AS c1, CAST(sum(n_bg) AS BIGINT) AS n_c1
  FROM mat GROUP BY 1
), model AS (
  SELECT bg, CAST(round((ln(CAST(n_bg AS DOUBLE)) - ln(CAST(n_c1 AS DOUBLE)))
                        * 1e6) AS BIGINT) AS t
  FROM mat JOIN tot ON substr(mat.bg, 1, 1) = tot.c1
), agg AS (
  SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(-sum(model.t) AS BIGINT) AS nll_micro
  FROM bg JOIN model ON model.bg = bg.bg
  GROUP BY bg.doc_id
)
SELECT doc_id, n_bigrams, nll_micro,
       round(CAST(nll_micro AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1e6, 6)
         + 0.0 AS avg_nll
FROM agg
"""


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X153 (graph.hits_int): 2 rounds of fixed-point integer HITS
    (hubs and authorities) over the directed deterministic graph on part
    keys — PageRank's link-analysis dual. Order-free int64 sums +
    truncating max-normalization make scores bit-identical across
    partitionings and engines; the unrolled-CTE oracle hash-matches
    exactly."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 131 + 17) % n).alias("dst"))
    )
    return G.hits_int(edges, n_iters=2)


def _hits_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 131 + 17) % (SELECT COUNT(*) FROM part) AS dst FROM part"
    )
    return G.hits_sql(edges, n_iters=2)


def q_geary_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X152 (spatial_stats.gearys_c): global Geary's C of customer-point
    counts over the occupied-cell rook lattice at res 4 — Moran's I's
    difference-based sibling. num (directed squared diffs), den
    (c_i = n*x_i - S squared), W, n are exact int64 in any summation
    order; the scalar C is identically-ordered float ops on both
    engines."""
    from osm2geojson_spark.operators.spatial_stats import gearys_c

    pts = _t(spark, sf_dir, "customer").select(
        _lon("c_custkey").alias("lon"), _lat("c_custkey").alias("lat")
    )
    from osm2geojson_spark.operators import cells as CEL

    hist = pts.groupBy(
        CEL.cell_id(F.col("lon"), F.col("lat"), 4).alias("cell_id")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return gearys_c(hist, res=4)


def _geary_c_sql() -> str:
    from osm2geojson_spark.operators import cells as CEL

    cell = CEL.cell_id_sql(SYN.lon_sql("c_custkey"), SYN.lat_sql("c_custkey"), 4)
    xs, rs = 1 << 29, 1 << 58
    return f"""
WITH hist AS (
  SELECT {cell} AS cell_id, count(*) AS x FROM customer GROUP BY 1
), tot AS (SELECT count(*) AS n, sum(x) AS s FROM hist),
h AS (
  SELECT cell_id, x, tot.n * x - tot.s AS c, tot.n AS n,
         (cell_id % {rs}) // {xs} AS cx, cell_id % {xs} AS cy
  FROM hist, tot
), pr AS (
  SELECT a.x AS xa, b.x AS xb, a.n
  FROM h a JOIN h b
    ON b.cell_id = 4 * {rs}::BIGINT + ((a.cx + 1) % 16) * {xs} + a.cy
  UNION ALL
  SELECT a.x, b.x, a.n
  FROM h a JOIN h b
    ON b.cell_id = 4 * {rs}::BIGINT + a.cx * {xs} + (a.cy + 1)
), edge AS (
  SELECT any_value(n) AS n, 2 * count(*) AS w_sum,
         2 * sum((xa - xb) * (xa - xb)) AS num FROM pr
), dn AS (SELECT sum(c * c) AS den FROM h)
SELECT CAST(edge.n AS BIGINT) AS n_cells, CAST(w_sum AS BIGINT) AS w_sum,
       CAST(num AS BIGINT) AS num, CAST(dn.den AS BIGINT) AS den,
       round((CAST(edge.n - 1 AS DOUBLE) * CAST(num AS DOUBLE)
              * CAST(edge.n AS DOUBLE) * CAST(edge.n AS DOUBLE))
             / (2.0 * CAST(w_sum AS DOUBLE) * CAST(dn.den AS DOUBLE)), 6)
         AS geary
FROM edge, dn
"""


def q_integral_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X151 (multimodal.integral_box_sums): summed-area-table box
    queries — 7 rects (quadrants, center crop, full frame, one
    edge-clipped) over 300 mixed rawz/png 8x8 images, each answered in
    O(1) from 4 SAT corners. The oracle sums the deterministic pixel
    formula over each rect directly, so any corner-arithmetic or
    clipping bug in the SAT breaks the hash."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.integral_box_sums(
        _synth_images(spark, sf_dir, 900, step=3), _INTEGRAL_BOXES
    )


def _integral_image_sql() -> str:
    parts = []
    for bid, (x0, y0, x1, y1) in enumerate(_INTEGRAL_BOXES):
        parts.append(
            f"SELECT {bid} AS box_id, {x0} AS x0, {y0} AS y0,"
            f" {x1} AS x1, {y1} AS y1"
        )
    boxes = " UNION ALL ".join(parts)
    return f"""
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), px AS (
  SELECT i, (p % 8) AS x, (p // 8) AS y,
         ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS v
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img) q
), boxes AS ({boxes})
SELECT printf('img%012d', i) AS image_id, CAST(box_id AS INTEGER) AS box_id,
       CAST(sum(v) AS BIGINT) AS box_sum
FROM px JOIN boxes
  ON x >= x0 AND x <= least(x1, 7) AND y >= y0 AND y <= least(y1, 7)
GROUP BY i, box_id
"""


def q_rle_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150 (multimodal.rle_mask): COCO-style run-length encoding of the
    binary mask (pixel >= 128) of 300 mixed rawz/png 8x8 images, one row
    per run in row-major order. The oracle replays the deterministic
    pixel formula and rebuilds runs with the gaps-and-islands grouping
    pos - row_number() — every run's start and length is pinned."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.rle_mask(_synth_images(spark, sf_dir, 900, step=3))


_RLE_MASK_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), px AS (
  SELECT i, p, ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS v
  FROM (SELECT i, unnest(range(0, 64)) AS p FROM img) q
), m AS (
  SELECT i, p,
         p - row_number() OVER (PARTITION BY i ORDER BY p) AS grp
  FROM px WHERE v >= 128
)
SELECT printf('img%012d', i) AS image_id,
       CAST(min(p) AS BIGINT) AS start_pos,
       CAST(count(*) AS BIGINT) AS run_len
FROM m GROUP BY i, grp
"""


_MORPHOLOGY_SQL = """
WITH img AS (
  SELECT p_partkey AS i FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0
), ctr AS (
  SELECT i, (p % 6) + 1 AS x, (p // 6) + 1 AS y
  FROM (SELECT i, unnest(range(0, 36)) AS p FROM img) q
), nb AS (
  SELECT i, x, y,
         ((x + (dd % 3) - 1) * 3 + (y + (dd // 3) - 1) * 7 + i * 13) % 251
           AS v
  FROM (SELECT i, x, y, unnest(range(0, 9)) AS dd FROM ctr) q
), mm AS (
  SELECT i, x, y, min(v) AS e, max(v) AS d FROM nb GROUP BY i, x, y
)
SELECT printf('img%012d', i) AS image_id, 6 AS w, 6 AS h,
       CAST(sum(e) AS BIGINT) AS erode_sum,
       CAST(sum(d) AS BIGINT) AS dilate_sum,
       CAST(sum(d - e) AS BIGINT) AS grad_sum,
       CAST(max(d - e) AS BIGINT) AS grad_max
FROM mm GROUP BY i
"""


def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X227 (dedup.winnow_fingerprints): winnowing fingerprints (the
    MOSS algorithm, Schleimer et al. SIGMOD 2003) over the documents
    corpus — window-min of char 5-gram hashes with the rightmost tie
    rule, encoded as one exact int64 key min. The position-aware
    plagiarism/near-dup fingerprint complementing minhash (set-level)
    and simhash (vector-level)."""
    from osm2geojson_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents"), id_col="doc_id", text_col="text"
    )


def _winnow_sql() -> str:
    from osm2geojson_spark.operators.dedup import winnow_fingerprints_sql

    return winnow_fingerprints_sql(
        "SELECT doc_id, text FROM documents", id_col="doc_id", text_col="text"
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X239 (text.bpe_encode): BPE tokenization applied — the corpus
    trains its own 8-round merge table, then every document is charged
    the token count of its words under the merged vocabulary (broadcast
    vocab join + one rollup; corpus scanned exactly twice). The
    fertility ratio is the token-budget gate."""
    from osm2geojson_spark.functions.text import bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"), merges=8)


def _bpe_encode_sql() -> str:
    from osm2geojson_spark.functions.text import bpe_encode_sql

    return bpe_encode_sql("SELECT doc_id, text FROM documents", merges=8)


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X238 (text.bpe_train): BPE tokenizer-merge training over the
    document corpus — 8 rounds of most-frequent-adjacent-pair merges on
    the word-frequency table (corpus scanned once; rounds run on the
    vocabulary), leftmost-non-overlapping rewrites via the
    pipe-delimited replace identity; the returned merge list is the
    trained tokenizer."""
    from osm2geojson_spark.functions.text import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), merges=8)


def _bpe_train_sql() -> str:
    from osm2geojson_spark.functions.text import bpe_train_sql

    return bpe_train_sql("SELECT doc_id, text FROM documents", merges=8)


def q_compress_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X237 (text.compress_cost): corpus-trained dyadic Shannon
    compressibility per document (bits and bits-per-token) — the
    gzip-ratio-style boilerplate/quality gate with an exact integer
    trace; same enriched corpus as keyword_extract so code lengths
    span the full range."""
    from osm2geojson_spark.functions.text import compress_cost

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.col("source"),
            F.col("lang"),
            F.concat(F.lit("u"), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return compress_cost(docs)


def _compress_cost_sql() -> str:
    from osm2geojson_spark.functions.text import compress_cost_sql

    return compress_cost_sql(
        "SELECT doc_id,"
        " text || ' ' || source || ' ' || lang || ' u' || CAST(doc_id AS VARCHAR)"
        " AS text FROM documents"
    )


def q_home_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X236 (trajectory.home_work_anchors): home/work anchor cells per
    user over the drifting ping fixture on the integer degree grid —
    night-window argmax vs work-window argmax as MAX(struct) rollups
    (no windows, two combinable shuffles total), integer share gate."""
    from osm2geojson_spark.operators.trajectory import home_work_anchors

    pings = _traj_pings(spark, sf_dir).select(
        "user_id",
        "ts",
        (
            (F.floor(F.col("lon")) + 180) * 1000 + F.floor(F.col("lat")) + 90
        ).cast("long").alias("cell_id"),
    )
    return home_work_anchors(pings)


def _home_anchors_sql() -> str:
    from osm2geojson_spark.operators.trajectory import home_work_anchors_sql

    return home_work_anchors_sql(
        f"""SELECT user_id, ts,
        CAST((floor(lon) + 180) * 1000 + floor(lat) + 90 AS BIGINT) AS cell_id
        FROM ({_TRAJ_PINGS_CTE})"""
    )


def q_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X258 (dedup.canonical_pick): keep-best-representative selection
    over the minhash-LSH near-dup clusters (the q_dedup_clusters
    pipeline) — per cluster the longest normalized text survives, ties
    to the smallest doc_id; the drop-accounting stage real dedup
    pipelines ship."""
    from osm2geojson_spark.functions.text import normalize_col
    from osm2geojson_spark.operators import dedup as DD2

    docs = _docs_with_mutants(spark, sf_dir, 60)
    pairs = DD2.minhash_lsh_pairs(docs, tau=0.5)
    clusters = DD2.duplicate_clusters(docs.select("doc_id"), pairs)
    q = docs.select(
        "doc_id", F.length(normalize_col(F.col("text"))).alias("q")
    )
    return DD2.canonical_pick(q, clusters)


def _canonical_pick_sql() -> str:
    from osm2geojson_spark.functions.text import normalize_sql
    from osm2geojson_spark.operators.dedup import canonical_pick_sql

    docs = (
        f"SELECT doc_id, CAST(length({normalize_sql('text')}) AS BIGINT) AS q"
        f" FROM ({_docs_mutant_cte(60)})"
    )
    return canonical_pick_sql(docs, _dedup_clusters_sql())


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X256 (sampling.l_diversity): l-diversity audit over the ping
    degree-grid cells with event_type as the sensitive attribute — the
    homogeneity-attack gate k-anonymity misses; exact dominant-share
    micro quotient."""
    from osm2geojson_spark.operators.sampling import l_diversity

    pings = _t(spark, sf_dir, "events").select(
        (
            ((F.col("user_id") * 37 + F.dayofyear("ts") * 3) % 360) * 1000
            + ((F.col("user_id") * 53) % 170)
        ).cast("long").alias("cell_id"),
        F.col("event_type").alias("s"),
    )
    return l_diversity(pings, k_min=5, l_min=2)


def _l_diversity_sql() -> str:
    from osm2geojson_spark.operators.sampling import l_diversity_sql

    return l_diversity_sql(
        "SELECT CAST(((user_id * 37 + dayofyear(ts) * 3) % 360) * 1000"
        " + ((user_id * 53) % 170) AS BIGINT) AS cell_id,"
        " event_type AS s FROM events",
        k_min=5,
        l_min=2,
    )


def q_shot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X255 (multimodal.shot_detect): histogram-differencing shot cuts
    over 30 synthetic 12-frame clips (8x8 rawz frames with slow
    per-frame drift and a planted scene change at frame 4 + clip % 5)
    — the cut must fire exactly at the planted boundary."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import shot_detect

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 30).select(
        F.col("p_partkey").alias("_c")
    )

    def gen(it):
        import numpy as np

        for pdf in it:
            rows = []
            for c in pdf["_c"]:
                c = int(c)
                cut = 4 + c % 5
                for f in range(12):
                    seg = 1 if f >= cut else 0
                    x = np.arange(8)
                    px = (
                        (x[None, :] * 3 + x[:, None] * 7 + c * 13 + f
                         + seg * 31) % 251
                    ).astype(np.uint8)
                    rows.append(
                        (f"clip{c:06d}", f, "rawz", IC.encode_rawz(px))
                    )
            yield pd.DataFrame(
                rows, columns=["clip_id", "frame_idx", "fmt", "bytes"]
            )

    frames = part.mapInPandas(
        gen,
        schema="clip_id string, frame_idx long, fmt string, bytes binary",
    )
    return shot_detect(frames, thresh=40)


def _shot_detect_sql() -> str:
    from osm2geojson_spark.operators.multimodal import shot_detect_sql

    px = """
SELECT printf('clip%06d', c) AS clip_id, f AS frame_idx,
       ((p % 8) * 3 + (p // 8) * 7 + c * 13 + f
        + (CASE WHEN f >= 4 + c % 5 THEN 31 ELSE 0 END)) % 251 AS v
FROM (
  SELECT p_partkey AS c, ff.f, pp.p
  FROM part, unnest(range(0, 12)) ff(f), unnest(range(0, 64)) pp(p)
  WHERE p_partkey < 30
)
"""
    return shot_detect_sql(px, thresh=40)


def q_str_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X253 (plans.layout.str_partition): Sort-Tile-Recursive bulk-load
    partitioning of the 160-point grid into 4x4 balanced tiles — the
    R-tree-style write layout for point-heavy ingest; tiles balanced
    within ±1 by integer rank cuts."""
    from osm2geojson_spark.plans.layout import str_partition

    pts = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 160).select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 2654435761) % 1009).alias("x"),
        ((F.col("c_custkey") * 2246822519 + 7) % 1013).alias("y"),
    )
    return str_partition(pts, n_slices=4, tiles_per_slice=4)


def _str_partition_sql() -> str:
    from osm2geojson_spark.plans.layout import str_partition_sql

    return str_partition_sql(
        "SELECT c_custkey AS pid,"
        " (c_custkey * 2654435761) % 1009 AS x,"
        " (c_custkey * 2246822519 + 7) % 1013 AS y"
        " FROM customer WHERE c_custkey < 160",
        n_slices=4,
        tiles_per_slice=4,
    )


def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X251 (graph.rich_club): rich-club coefficient curve over the
    dense modular graph — hub-interlink density phi(k) for every degree
    threshold, exact micro quotients from two histogram suffix scans;
    the bot-ring / citation-cartel diagnostic."""
    from osm2geojson_spark.operators.graph import rich_club

    return rich_club(_dense_graph(spark, sf_dir))


def _rich_club_sql() -> str:
    from osm2geojson_spark.operators.graph import rich_club_sql

    return rich_club_sql(_DENSE_GRAPH_SQL)


def q_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X248 (graph.label_spread): frozen-frontier semi-supervised label
    spreading over the dense modular graph — seeds are nodes 0..3
    labeled by parity, 4 rounds of majority votes (ties to smallest
    label); the moderation/topic weak-supervision expansion gate."""
    from osm2geojson_spark.operators.graph import label_spread

    seeds = spark.createDataFrame(
        [(0, 10), (1, 20), (2, 10), (3, 20)], "node long, label long"
    )
    return label_spread(_dense_graph(spark, sf_dir), seeds, rounds=4)


def _label_spread_sql() -> str:
    from osm2geojson_spark.operators.graph import label_spread_sql

    return label_spread_sql(
        _DENSE_GRAPH_SQL,
        "SELECT * FROM (VALUES (0, 10), (1, 20), (2, 10), (3, 20))"
        " AS s(node, label)",
        rounds=4,
    )


def q_hilbert_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X247 (cells.hilbert_ranges): Hilbert range planning — the bbox
    (-60,-30,60,40) at res 6 as minimal contiguous key intervals (the
    coverings-to-scan-ranges planning primitive for the Hilbert-
    clustered layout of q_hilbert_layout). 37 ranges / 572 cells."""
    from osm2geojson_spark.operators.cells import hilbert_ranges

    return hilbert_ranges(spark, -60.0, -30.0, 60.0, 40.0, res=6)


def _hilbert_ranges_sql() -> str:
    from osm2geojson_spark.operators.cells import hilbert_ranges_sql

    return hilbert_ranges_sql(-60.0, -30.0, 60.0, 40.0, res=6)


def q_k_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X246 (geostat.k_centers): Gonzalez farthest-point 6-centers over
    the 160-point hash-scattered grid (the delaunay fixture points,
    ungrouped) — deterministic 2-approx minimax placement; the coverage
    radius d2_when_added is monotone non-increasing."""
    from osm2geojson_spark.operators.geostat import k_centers

    pts = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 160).select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 2654435761) % 1009).alias("x"),
        ((F.col("c_custkey") * 2246822519 + 7) % 1013).alias("y"),
    )
    return k_centers(pts, k=6)


def _k_centers_sql() -> str:
    from osm2geojson_spark.operators.geostat import k_centers_sql

    return k_centers_sql(
        "SELECT c_custkey AS pid,"
        " (c_custkey * 2654435761) % 1009 AS x,"
        " (c_custkey * 2246822519 + 7) % 1013 AS y"
        " FROM customer WHERE c_custkey < 160",
        k=6,
    )


def q_focal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X244 (spatial_stats.focal_majority): 3x3 mode filter over the
    32x32 DEM classed into 5 landcover-ish labels (z % 5) — the
    categorical raster smoothing classic; count ties to the smallest
    label, edge cells use existing neighbors only."""
    from osm2geojson_spark.operators.spatial_stats import focal_majority

    grid = _dem32(spark).select("x", "y", (F.col("z") % 5).alias("v"))
    return focal_majority(grid)


def _focal_majority_sql() -> str:
    from osm2geojson_spark.operators.spatial_stats import focal_majority_sql

    return focal_majority_sql(
        """
SELECT i % 32 AS x, i // 32 AS y,
       (((i % 32) * 13 + (i // 32) * 29 + ((i % 32) * (i // 32)) % 7) % 97) % 5 AS v
FROM (SELECT unnest(range(0, 1024)) AS i)
"""
    )


def q_flow_accum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X243 (composition: geostat.flow_direction -> graph.tree_rollup):
    D8 FLOW ACCUMULATION over the shared 32x32 DEM — each cell's
    upstream contributing-cell count (the hydrology raster classic) is
    exactly the subtree size of the D8 drainage forest (parent =
    steepest-descent neighbor, sinks are roots), so the pointer-doubled
    ancestor closure computes it with no new kernel. subtree_w carries
    the upstream elevation sum as a free checksum."""
    from osm2geojson_spark.operators.geostat import flow_direction
    from osm2geojson_spark.operators.graph import tree_rollup

    flow = flow_direction(_dem32(spark))
    nodes = flow.select(
        (F.col("y") * 32 + F.col("x")).cast("long").alias("node_id"),
        F.when(
            F.col("down_x").isNotNull(),
            (F.col("down_y") * 32 + F.col("down_x")).cast("long"),
        ).alias("parent_id"),
        F.col("z").cast("long").alias("w"),
    )
    return tree_rollup(nodes, max_rounds=8)


def _flow_accum_sql() -> str:
    from osm2geojson_spark.operators.graph import tree_rollup_sql

    cut = _FLOW_DIR_SQL.index("\nSELECT flow.x")
    flow_with = _FLOW_DIR_SQL[_FLOW_DIR_SQL.index("WITH") + 4 : cut]
    nodes = f"""
WITH {flow_with}
SELECT CAST(flow.y * 32 + flow.x AS BIGINT) AS node_id,
       CASE WHEN flow.down_x IS NOT NULL
            THEN CAST(flow.down_y * 32 + flow.down_x AS BIGINT) END
         AS parent_id,
       CAST(flow.z AS BIGINT) AS w
FROM flow
"""
    return tree_rollup_sql(nodes)


def q_ring_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X242 (geometry.ring_validity): OGC ring validity over 40
    hexagonal rings, every 4th made a bowtie by swapping vertices 1 and
    2 — non-adjacent-edge CLRS intersection census on the PBSM edge
    join, wrap-around spike/zero-length predicates; bowties must come
    back invalid with bad pairs counted."""
    from osm2geojson_spark.operators.geometry import ring_validity

    k = F.col("p_partkey")
    offx = F.array(*[F.lit(v) for v in (10, 5, -5, -10, -5, 5)])
    offy = F.array(*[F.lit(v) for v in (0, 9, 9, 0, -9, -9)])
    verts = (
        _t(spark, sf_dir, "part").filter(k < 40)
        .select(k.alias("ring_id"))
        .select(
            "ring_id", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("seq")
        )
        .withColumn(
            "j",
            F.when(
                (F.col("ring_id") % 4 == 0) & (F.col("seq") == 1), F.lit(2)
            )
            .when(
                (F.col("ring_id") % 4 == 0) & (F.col("seq") == 2), F.lit(1)
            )
            .otherwise(F.col("seq")),
        )
        .select(
            "ring_id",
            "seq",
            (
                (F.col("ring_id") * 31) % 400
                + (1 + F.col("ring_id") % 3)
                * F.element_at(offx, F.col("j") + 1)
            ).alias("x"),
            (
                (F.col("ring_id") * 17) % 300
                + (1 + F.col("ring_id") % 3)
                * F.element_at(offy, F.col("j") + 1)
            ).alias("y"),
        )
    )
    return ring_validity(verts)


def _ring_validity_sql() -> str:
    from osm2geojson_spark.operators.geometry import ring_validity_sql

    return ring_validity_sql(
        """
SELECT ring_id, seq,
       (ring_id * 31) % 400 + (1 + ring_id % 3) * [10, 5, -5, -10, -5, 5][j + 1] AS x,
       (ring_id * 17) % 300 + (1 + ring_id % 3) * [0, 9, 9, 0, -9, -9][j + 1] AS y
FROM (
  SELECT ring_id, seq,
         CASE WHEN ring_id % 4 = 0 AND seq = 1 THEN 2
              WHEN ring_id % 4 = 0 AND seq = 2 THEN 1
              ELSE seq END AS j
  FROM (
    SELECT p_partkey AS ring_id, unnest(range(0, 6)) AS seq
    FROM part WHERE p_partkey < 40
  )
)
"""
    )


def q_gray_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X241 (multimodal.gray_world_stats): gray-world white balance
    census over 30 synthetic 16x16 RGB pixel tables (the color_quantize
    fixture) — integer channel-mean rescale with clamp accounting; one
    window sum + one rollup, no join."""
    from osm2geojson_spark.operators.multimodal import gray_world_stats

    k = F.col("p_partkey")
    imgs = _t(spark, sf_dir, "part").filter(k < 30).select(
        F.format_string("img%012d", k).alias("image_id"),
        k.alias("_i"),
    )
    px = imgs.select(
        "image_id",
        "_i",
        F.explode(F.sequence(F.lit(0), F.lit(255))).alias("p"),
    ).select(
        "image_id",
        (((F.col("p") % 16) * 3 + (F.col("p") / 16).cast("long") * 7
          + F.col("_i") * 13) % 251).alias("r"),
        (((F.col("p") % 16) * 5 + (F.col("p") / 16).cast("long") * 11
          + F.col("_i") * 17) % 241).alias("g"),
        (((F.col("p") % 16) * 7 + (F.col("p") / 16).cast("long") * 3
          + F.col("_i") * 19) % 239).alias("b"),
    )
    return gray_world_stats(px)


def _gray_world_sql() -> str:
    from osm2geojson_spark.operators.multimodal import gray_world_stats_sql

    px = """
SELECT printf('img%012d', i) AS image_id,
       ((p % 16) * 3 + (p // 16) * 7 + i * 13) % 251 AS r,
       ((p % 16) * 5 + (p // 16) * 11 + i * 17) % 241 AS g,
       ((p % 16) * 7 + (p // 16) * 3 + i * 19) % 239 AS b
FROM (
  SELECT p_partkey AS i, unnest(range(0, 256)) AS p
  FROM part WHERE p_partkey < 30
)
"""
    return gray_world_stats_sql(px)


def q_dog_keypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X234 (multimodal.dog_keypoints): single-octave
    difference-of-Gaussians blob detection (the SIFT front end) over
    300 mixed rawz/png images — zero-sum combined 5x5 integer kernel,
    strict 8-neighbor |D| maxima, threshold 400. Sparse keypoint rows
    out; pixels never shuffle."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.dog_keypoints(_synth_images(spark, sf_dir, 900, step=3))


def _dog_keypoints_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    px = """
SELECT printf('img%012d', i) AS image_id, w, w AS h,
       (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 900 AND p_partkey % 3 = 0)
)
"""
    return MM2.dog_keypoints_sql(px, thresh=400)


def q_pca_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X233 (similarity.pca_top_eigvec): dominant principal direction of
    the embedding corpus — power iteration in exact bigint/HUGEINT
    fixed-point on the quantized Gram matrix; corpus-sized work is the
    gram GEMM rollup, the O(d^2) iteration is driver-side tiny-model
    math, twin unrolls identical rounds."""
    from osm2geojson_spark.operators.similarity import pca_top_eigvec

    emb = _t(spark, sf_dir, "embeddings")
    return pca_top_eigvec(emb, "embedding", dim=_EMB_DIM, iters=12)


def _pca_top_sql() -> str:
    from osm2geojson_spark.operators.similarity import pca_top_eigvec_sql

    return pca_top_eigvec_sql(
        "SELECT vec_id, embedding FROM embeddings", dim=_EMB_DIM, iters=12
    )


def q_alpha_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X231 (geometry.alpha_shape_edges): alpha-shape boundary edges of
    the four Delaunay tile groups (same fixture as q_delaunay) at
    alpha^2 = 40_000 — concave footprints where the convex hull
    over-covers. Exact integer circumradius gate in decimal(38,0)."""
    from osm2geojson_spark.operators.geometry import alpha_shape_edges

    pts = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 160).select(
        (F.col("c_custkey") % 4).alias("grp"),
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 2654435761) % 1009).alias("x"),
        ((F.col("c_custkey") * 2246822519 + 7) % 1013).alias("y"),
    )
    return alpha_shape_edges(pts, alpha2=40_000)


def _alpha_shape_sql() -> str:
    from osm2geojson_spark.operators.geometry import alpha_shape_edges_sql

    return alpha_shape_edges_sql(
        "SELECT c_custkey % 4 AS grp, c_custkey AS pid,"
        " (c_custkey * 2654435761) % 1009 AS x,"
        " (c_custkey * 2246822519 + 7) % 1013 AS y"
        " FROM customer WHERE c_custkey < 160",
        alpha2=40_000,
    )


def q_keyword_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X229 (text.tfidf_topk): per-document top-5 TF-IDF keywords with
    the dyadic (floor-log2) idf — exact int64 scores, bit-identical
    ranking cross-engine. The fixture enriches each document with its
    source, lang and a unique marker token so document frequencies span
    1..N and the idf actually discriminates."""
    from osm2geojson_spark.functions.text import tfidf_topk

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.col("source"),
            F.col("lang"),
            F.concat(F.lit("u"), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return tfidf_topk(docs, k=5)


def _keyword_extract_sql() -> str:
    from osm2geojson_spark.functions.text import tfidf_topk_sql

    return tfidf_topk_sql(
        "SELECT doc_id,"
        " text || ' ' || source || ' ' || lang || ' u' || CAST(doc_id AS VARCHAR)"
        " AS text FROM documents",
        k=5,
    )


def q_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X267 (sketch.ams_f2): AMS second-frequency-moment sketch of the
    orders→customer key distribution — the self-join-size / skew-energy
    estimate a planner reads before sizing a salted join. 5×8 ±1-sign
    counters, integer median-of-means, exact-F2 verification columns."""
    from osm2geojson_spark.operators.sketch import ams_f2

    return ams_f2(_t(spark, sf_dir, "orders"), "o_custkey")


def _f2_sketch_sql() -> str:
    from osm2geojson_spark.operators.sketch import ams_f2_sql

    return ams_f2_sql("SELECT o_custkey FROM orders", "o_custkey")


def q_clique4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X268 (graph.four_clique_count): per-node 4-clique participation
    on the dense modular graph — triangle_count's oriented two-hop
    closure extended by a fourth all-adjacent corner, exactly one
    materialization per K4."""
    from osm2geojson_spark.operators.graph import four_clique_count

    return four_clique_count(_dense_graph(spark, sf_dir))


def _clique4_sql() -> str:
    from osm2geojson_spark.operators.graph import four_clique_count_sql

    return four_clique_count_sql(_DENSE_GRAPH_SQL)


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X269 (graph.personalized_pagerank): random walk with restart
    onto seed nodes {0,3,7,11} of the dense modular graph — seeded
    proximity ranking, bit-exact truncating int64 rounds (pagerank_int
    scheme with a seed-only restart vector)."""
    from osm2geojson_spark.operators.graph import personalized_pagerank

    seeds = spark.createDataFrame([(0,), (3,), (7,), (11,)], "node long")
    return personalized_pagerank(_dense_graph(spark, sf_dir), seeds)


def _ppr_sql() -> str:
    from osm2geojson_spark.operators.graph import personalized_pagerank_sql

    return personalized_pagerank_sql(
        _DENSE_GRAPH_SQL,
        "SELECT unnest([0, 3, 7, 11]) AS node",
    )


def q_bearing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X270 (trajectory.bearing_resultant): circular mean-resultant
    statistics of per-user step headings over the drift trajectory —
    quantized unit vectors (pinned per-row IEEE sqrt/divide/round),
    exact int64 (sx, sy) mean-direction pair, ⌊R/n⌋ concentration."""
    from osm2geojson_spark.operators.trajectory import bearing_resultant

    return bearing_resultant(_traj_pings(spark, sf_dir))


def _bearing_stats_sql() -> str:
    from osm2geojson_spark.operators.trajectory import bearing_resultant_sql

    return bearing_resultant_sql(_TRAJ_PINGS_CTE)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X272 (functions.text.pii_scan): PII census over the documents
    corpus with deterministically injected emails / dotted-quad IPs /
    international phone numbers (residue-class injection so clean docs
    stay clean) — exact match counts in the Java-regex ∩ RE2 dialect."""
    from osm2geojson_spark.functions.text import pii_scan

    d = F.col("doc_id")
    injected = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            d % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" mail u"),
                d.cast("string"),
                F.lit("@ex"),
                (d % 7).cast("string"),
                F.lit(".com"),
            ),
        )
        .when(
            d % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" ip 10."),
                (d % 256).cast("string"),
                F.lit(".0."),
                (d % 250).cast("string"),
                F.lit(" end"),
            ),
        )
        .when(
            d % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" call +1415"),
                (F.lit(1000000) + d % 1000000).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_scan(injected)


def _pii_scan_sql() -> str:
    from osm2geojson_spark.functions.text import pii_scan_sql

    return pii_scan_sql(
        "SELECT doc_id,"
        " CASE WHEN doc_id % 3 = 0 THEN text || ' mail u'"
        "   || CAST(doc_id AS VARCHAR) || '@ex'"
        "   || CAST(doc_id % 7 AS VARCHAR) || '.com'"
        " WHEN doc_id % 5 = 0 THEN text || ' ip 10.'"
        "   || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
        "   || CAST(doc_id % 250 AS VARCHAR) || ' end'"
        " WHEN doc_id % 7 = 0 THEN text || ' call +1415'"
        "   || CAST(1000000 + doc_id % 1000000 AS VARCHAR)"
        " ELSE text END AS text FROM documents"
    )


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X273 (similarity.knn_classify): leave-one-out kNN label
    prediction (k=10 cosine neighbors, majority vote, (votes DESC,
    label ASC) argmax) over the capped labeled-embedding sample — the
    LOO accuracy probe; oracle replays the ranked join + vote."""
    from osm2geojson_spark.operators.similarity import knn_classify

    emb = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 800)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
            F.col("label").cast("long").alias("label"),
        )
    )
    return knn_classify(emb, k=10)


def _knn_classify_sql() -> str:
    from osm2geojson_spark.operators.similarity import knn_classify_sql

    return knn_classify_sql(
        "SELECT vec_id, embedding::DOUBLE[] AS v,"
        " CAST(label AS BIGINT) AS label"
        " FROM embeddings WHERE vec_id < 800",
        k=10,
    )


def q_cell_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276 (cells.cell_buffer): k=2 Chebyshev grid buffer of the
    nation rectangles at res 6 — covering → k_ring dilation → distinct
    with core/halo flags; oracle derives the same set through the
    expanded-rectangle identity (independent formulations)."""
    from osm2geojson_spark.operators.cells import cell_buffer

    nk = F.col("n_nationkey")
    boxes = _t(spark, sf_dir, "nation").select(
        nk.alias("poly_id"),
        ((nk % 5) * 72.0 - 180.0).alias("min_lon"),
        (F.floor(nk / 5) * 36.0 - 90.0).alias("min_lat"),
        ((nk % 5) * 72.0 - 180.0 + 36.0).alias("max_lon"),
        (F.floor(nk / 5) * 36.0 - 90.0 + 18.0).alias("max_lat"),
    )
    return cell_buffer(boxes, res=6, k=2)


def _cell_buffer_sql() -> str:
    from osm2geojson_spark.operators.cells import cell_buffer_sql

    return cell_buffer_sql(
        "SELECT n_nationkey AS poly_id,"
        " (n_nationkey % 5) * 72.0 - 180.0 AS min_lon,"
        " (n_nationkey // 5) * 36.0 - 90.0 AS min_lat,"
        " (n_nationkey % 5) * 72.0 - 180.0 + 36.0 AS max_lon,"
        " (n_nationkey // 5) * 36.0 - 90.0 + 18.0 AS max_lat"
        " FROM nation",
        res=6,
        k=2,
    )


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278 (functions.text.url_canonicalize): URL canonicalization +
    group dedup over synthesized crawl URLs (case/port/utm/trailing-
    slash variants of the same logical page collide by construction) —
    deterministic string algebra, min-id representative kept."""
    from osm2geojson_spark.functions.text import url_canonicalize

    d = F.col("doc_id")
    urls = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.when(d % 4 == 0, F.lit("HTTP://Site")).otherwise(
                F.lit("http://site")
            ),
            (d % 7).cast("string"),
            F.lit(".example"),
            F.when(d % 5 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/page/"),
            (d % 13).cast("string"),
            F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(d % 2 == 0, F.lit("?utm_source=tw&b=2&a=1")).otherwise(
                F.lit("?a=1&b=2")
            ),
            F.when(d % 6 == 0, F.lit("#top")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return url_canonicalize(urls)


def _url_canon_sql() -> str:
    from osm2geojson_spark.functions.text import url_canonicalize_sql

    return url_canonicalize_sql(
        "SELECT doc_id,"
        " (CASE WHEN doc_id % 4 = 0 THEN 'HTTP://Site'"
        "       ELSE 'http://site' END)"
        " || CAST(doc_id % 7 AS VARCHAR) || '.example'"
        " || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)"
        " || '/page/' || CAST(doc_id % 13 AS VARCHAR)"
        " || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)"
        " || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=tw&b=2&a=1'"
        "          ELSE '?a=1&b=2' END)"
        " || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url"
        " FROM documents"
    )


def q_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X279 (multimodal.keyframe_select): per-shot keyframe selection
    over the planted-cut clip corpus (the q_shot_detect fixture) —
    shots from histogram-diff cuts, winner = exact integer L1 gradient
    sharpness pinned by (sharp DESC, frame ASC)."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import keyframe_select

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 30).select(
        F.col("p_partkey").alias("_c")
    )

    def gen(it):
        import numpy as np

        for pdf in it:
            rows = []
            for c in pdf["_c"]:
                c = int(c)
                cut = 4 + c % 5
                for f in range(12):
                    seg = 1 if f >= cut else 0
                    x = np.arange(8)
                    px = (
                        (x[None, :] * 3 + x[:, None] * 7 + c * 13 + f
                         + seg * 31) % 251
                    ).astype(np.uint8)
                    rows.append(
                        (f"clip{c:06d}", f, "rawz", IC.encode_rawz(px))
                    )
            yield pd.DataFrame(
                rows, columns=["clip_id", "frame_idx", "fmt", "bytes"]
            )

    frames = part.mapInPandas(
        gen,
        schema="clip_id string, frame_idx long, fmt string, bytes binary",
    )
    return keyframe_select(frames, thresh=40)


def _keyframes_sql() -> str:
    from osm2geojson_spark.operators.multimodal import keyframe_select_sql

    px = """
SELECT printf('clip%06d', c) AS clip_id, f AS frame_idx,
       (p // 8) AS y, (p % 8) AS x,
       ((p % 8) * 3 + (p // 8) * 7 + c * 13 + f
        + (CASE WHEN f >= 4 + c % 5 THEN 31 ELSE 0 END)) % 251 AS v
FROM (
  SELECT p_partkey AS c, ff.f, pp.p
  FROM part, unnest(range(0, 12)) ff(f), unnest(range(0, 64)) pp(p)
  WHERE p_partkey < 30
)
"""
    return keyframe_select_sql(px, thresh=40)


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X280 (dedup.boilerplate_lines): CCNet-style common-line flagging
    over documents with injected footer lines (newsletter footer on
    even ids, license line on multiples of 3) — distinct-doc frequency
    with the exact cross-multiplied 5% share gate; body lines stay
    unflagged."""
    from osm2geojson_spark.operators.dedup import boilerplate_lines

    d = _t(spark, sf_dir, "documents")
    body = d.select(
        "doc_id", F.lit(0).alias("line_no"), F.col("text").alias("line")
    )
    foot1 = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.lit(1).alias("line_no"),
        F.lit("subscribe to our newsletter").alias("line"),
    )
    foot2 = d.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.lit(2).alias("line_no"),
        F.lit("all rights reserved").alias("line"),
    )
    return boilerplate_lines(body.unionByName(foot1).unionByName(foot2))


def _boilerplate_sql() -> str:
    from osm2geojson_spark.operators.dedup import boilerplate_lines_sql

    return boilerplate_lines_sql(
        "SELECT doc_id, 0 AS line_no, text AS line FROM documents"
        " UNION ALL SELECT doc_id, 1, 'subscribe to our newsletter'"
        " FROM documents WHERE doc_id % 2 = 0"
        " UNION ALL SELECT doc_id, 2, 'all rights reserved'"
        " FROM documents WHERE doc_id % 3 = 0"
    )


def q_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X281 (dedup.tfidf_cosine_pairs): tf·idf-weighted cosine
    similarity join over char-5-gram multisets of the mutant corpus —
    dyadic idf (idf-0 grams self-prune the inverted index), exact
    integer dot/norms, one pinned cosine assembly, tau 0.5."""
    from osm2geojson_spark.operators.dedup import tfidf_cosine_pairs

    return tfidf_cosine_pairs(
        _docs_with_mutants(spark, sf_dir, 60), tau_micro=500_000
    )


def _tfidf_cosine_sql() -> str:
    from osm2geojson_spark.operators.dedup import tfidf_cosine_pairs_sql

    return tfidf_cosine_pairs_sql(_docs_mutant_cte(60), tau_micro=500_000)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X282 (dedup.containment_pairs): Broder containment join over the
    mutant corpus — the 80%-prefix mutants are near-CONTAINED in their
    bases by construction (mutant → base containment ≈ 1 even where
    Jaccard ≈ 0.8); float-free cross-multiplied directional gates at
    4/5."""
    from osm2geojson_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs_with_mutants(spark, sf_dir, 60))


def _containment_sql() -> str:
    from osm2geojson_spark.operators.dedup import containment_pairs_sql

    return containment_pairs_sql(_docs_mutant_cte(60))


def q_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X283 (sketch.compactor_quantiles): deterministic KLL-style
    compactor quantile sketch of event value cents per event_type —
    odd-rank compaction under the pinned (v, rid) order, integer
    type-1 walk at 25/50/75; the no-sort scale path."""
    from osm2geojson_spark.operators.sketch import compactor_quantiles

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.col("event_id").alias("rid"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return compactor_quantiles(ev, k=32, rounds=12)


def _kll_quantiles_sql() -> str:
    from osm2geojson_spark.operators.sketch import compactor_quantiles_sql

    return compactor_quantiles_sql(
        "SELECT event_type AS g, event_id AS rid,"
        " CAST(round(value * 100) AS BIGINT) AS v FROM events",
        k=32,
        rounds=12,
    )


def q_cost_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X284 (geostat.cost_distance): least-cost accumulation over the
    shared 32x32 DEM from 4 corner-quadrant seeds — per-step cost
    1 + min(|Δz|, 3), composed over graph.shortest_dists' bounded
    Bellman-Ford (12 hops); recursive-walk oracle."""
    from osm2geojson_spark.operators.geostat import cost_distance

    seeds = spark.createDataFrame(
        [(4, 4), (27, 4), (4, 27), (27, 27)], "x long, y long"
    )
    return cost_distance(_dem32(spark), seeds, max_hops=12, slope_cap=3)


def _cost_distance_sql() -> str:
    from osm2geojson_spark.operators.geostat import cost_distance_sql

    dem = (
        "SELECT CAST(i % 32 AS BIGINT) AS x, CAST(i // 32 AS BIGINT) AS y,"
        " CAST(((i % 32) * 13 + (i // 32) * 29 + ((i % 32) * (i // 32)) % 7)"
        " % 97 AS BIGINT) AS z"
        " FROM (SELECT unnest(range(0, 1024)) AS i)"
    )
    return cost_distance_sql(
        dem,
        "SELECT unnest([4, 27, 4, 27]) AS x, unnest([4, 4, 27, 27]) AS y",
        max_hops=12,
        slope_cap=3,
    )


def q_simrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X285 (graph.simrank_int): fixed-point SimRank (3 rounds,
    C=0.8) on an SF-capped slice of the dense modular graph (the pair
    space is inherently quadratic — the caller's subgraph is the
    knob); bit-exact truncating int64 rounds, upper triangle out."""
    from osm2geojson_spark.operators.graph import simrank_int

    part = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 1000)
    k = F.col("p_partkey")
    edges = part.select(
        (k % 211).alias("src"), (((k % 199) * 7 + 3) % 211).alias("dst")
    ).unionByName(
        part.select(
            (k % 211).alias("src"), (((k % 199) * 131 + 17) % 211).alias("dst")
        )
    )
    return simrank_int(edges, rounds=3)


def _simrank_sql() -> str:
    from osm2geojson_spark.operators.graph import simrank_sql

    return simrank_sql(
        "SELECT p_partkey % 211 AS src,"
        " ((p_partkey % 199) * 7 + 3) % 211 AS dst"
        " FROM part WHERE p_partkey < 1000"
        " UNION ALL SELECT p_partkey % 211 AS src,"
        " ((p_partkey % 199) * 131 + 17) % 211 AS dst"
        " FROM part WHERE p_partkey < 1000",
        rounds=3,
    )


def q_psnr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X286 (multimodal.psnr_gate): the north rule's decoded-pixel
    PSNR≥40dB invariant as an operator — originals vs a posterize-8
    degrade (and an exact copy on every 5th image): log-free integer
    gate sse·10⁴ ≤ 255²·n; copies flag identical."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import psnr_gate

    imgs = _synth_images(spark, sf_dir, 450, step=3).select(
        "image_id", F.col("_i").alias("ii"), "bytes", "fmt"
    )

    def degrade(it):
        import numpy as np

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = IC.decode(bytes(r.bytes), r.fmt)
                i = int(r.ii)
                if (i // 3) % 5 == 0:
                    out = px.copy()
                else:
                    out = (px // 8) * 8
                rows.append(
                    (
                        r.image_id,
                        bytes(r.bytes),
                        r.fmt,
                        IC.encode_rawz(out.astype(np.uint8)),
                        "rawz",
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "bytes_a", "fmt_a", "bytes_b", "fmt_b"],
            )

    pairs = imgs.mapInPandas(
        degrade,
        schema="image_id string, bytes_a binary, fmt_a string,"
        " bytes_b binary, fmt_b string",
    )
    return psnr_gate(pairs, factor=10_000)


def _psnr_gate_sql() -> str:
    from osm2geojson_spark.operators.multimodal import psnr_gate_sql

    px = """
SELECT printf('img%012d', i) AS image_id,
       ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 AS va,
       CASE WHEN (i // 3) % 5 = 0
            THEN ((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251
            ELSE (((p % 8) * 3 + (p // 8) * 7 + i * 13) % 251 // 8) * 8
       END AS vb
FROM (
  SELECT p_partkey AS i, pp.p
  FROM part, unnest(range(0, 64)) pp(p)
  WHERE p_partkey < 450 AND p_partkey % 3 = 0
)
"""
    return psnr_gate_sql(px, factor=10_000)


def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X289 (graph.critical_path): CPM scheduling over a 6-layer
    activity DAG built from part keys (layer = key % 6, two forward
    edge families per node, durations 1 + (key*5+2) % 13) — bounded
    max-relax rounds forward + backward, exact int64 es/ef/lf/slack,
    critical-flagged; the oracle enumerates walks in recursive CTEs."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    nodes = part.select(
        k.alias("node"), (F.lit(1) + (k * 5 + 2) % 13).cast("long").alias("dur")
    )

    def fam(mul: int, add: int):
        b0 = (k * mul + add) % n
        b = b0 - (b0 % 6) + (k % 6) + 1
        return part.filter((k % 6) < 5).select(
            k.alias("src"), b.alias("dst")
        ).filter(F.col("dst") < n)

    edges = fam(7, 3).unionByName(fam(131, 17))
    return G.critical_path(nodes, edges, max_rounds=6)


def _critical_path_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    nodes = (
        "SELECT p_partkey AS node,"
        " CAST(1 + (p_partkey * 5 + 2) % 13 AS BIGINT) AS dur FROM part"
    )

    def fam(mul: int, add: int) -> str:
        return (
            "SELECT src, dst FROM ("
            f"SELECT p_partkey AS src,"
            f" ((p_partkey * {mul} + {add}) % (SELECT COUNT(*) FROM part))"
            f" - (((p_partkey * {mul} + {add}) % (SELECT COUNT(*) FROM part)) % 6)"
            f" + (p_partkey % 6) + 1 AS dst"
            " FROM part WHERE p_partkey % 6 < 5) f"
            " WHERE dst < (SELECT COUNT(*) FROM part)"
        )

    edges = f"{fam(7, 3)} UNION ALL {fam(131, 17)}"
    return G.critical_path_sql(nodes, edges, max_rounds=6)


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X292 (retrieval.rrf_fuse): hybrid-search reciprocal rank fusion —
    per lang "query", system A ranks documents by (n_chars DESC, doc_id)
    and system B by a hash order, both truncated to depth 20; RRF merges
    with integer 1e6 DIV (60+rank) credits, top-10 pinned."""
    from pyspark.sql.window import Window as _W

    from osm2geojson_spark.operators.retrieval import rrf_fuse

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    wa = _W.partitionBy("lang").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    a = docs.select(
        F.col("lang").alias("qid"),
        F.col("doc_id").alias("doc"),
        F.row_number().over(wa).alias("rank"),
    ).filter(F.col("rank") <= 20)
    hb = (F.col("doc_id") * 2654435761) % 1000000007
    wb = _W.partitionBy("lang").orderBy(hb.asc(), F.col("doc_id"))
    b = docs.select(
        F.col("lang").alias("qid"),
        F.col("doc_id").alias("doc"),
        F.row_number().over(wb).alias("rank"),
    ).filter(F.col("rank") <= 20)
    return rrf_fuse(a.unionByName(b), k=10)


def _rrf_fusion_sql() -> str:
    from osm2geojson_spark.operators.retrieval import rrf_fuse_sql

    rankings = (
        "SELECT qid, doc, rank FROM ("
        "SELECT lang AS qid, doc_id AS doc,"
        " row_number() OVER (PARTITION BY lang"
        "   ORDER BY n_chars DESC, doc_id) AS rank FROM documents) a"
        " WHERE rank <= 20"
        " UNION ALL "
        "SELECT qid, doc, rank FROM ("
        "SELECT lang AS qid, doc_id AS doc,"
        " row_number() OVER (PARTITION BY lang"
        "   ORDER BY (doc_id * 2654435761) % 1000000007 ASC, doc_id) AS rank"
        " FROM documents) b WHERE rank <= 20"
    )
    return rrf_fuse_sql(rankings, k=10)


def q_knox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X293 (spatial_stats.knox_test): Knox space-time interaction over a
    deterministic incident set (every 5th event; planar coords hashed
    onto a 500x500 grid, naive-epoch seconds) at ds=25, dt=6h —
    forward-neighbor grid pair census, exact integer gates, null
    expectation as the exact rational ns*nt/P."""
    from osm2geojson_spark.operators.spatial_stats import knox_test

    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") % 5 == 0)
    pts = ev.select(
        F.col("event_id").alias("id"),
        ((F.col("event_id") * 37) % 500).alias("x"),
        ((F.col("event_id") * 53) % 500).alias("y"),
        F.col("ts").cast("timestamp").cast("long").alias("t"),
    )
    return knox_test(pts, ds=25, dt=21600)


def _knox_sql() -> str:
    from osm2geojson_spark.operators.spatial_stats import knox_test_sql

    events = (
        "SELECT event_id AS i, (event_id * 37) % 500 AS x,"
        " (event_id * 53) % 500 AS y,"
        " CAST(floor(epoch(ts)) AS BIGINT) AS t"
        " FROM events WHERE event_id % 5 = 0"
    )
    return knox_test_sql(events, ds=25, dt=21600)


def q_median_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X294 (geostat.median_center): per-nation geometric median of
    supplier points (Weiszfeld, 4 engine-exact rounds: IEEE sqrt +
    floor-divided integer weights, Σ(w·x) DIV Σw) next to the centroid
    seed it robustifies."""
    from osm2geojson_spark.operators.geostat import median_center

    pts = _t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("g"),
        ((F.col("s_suppkey") * 37) % 1000).alias("x"),
        ((F.col("s_suppkey") * 59) % 1000).alias("y"),
    )
    return median_center(pts, rounds=4)


def _median_center_sql() -> str:
    from osm2geojson_spark.operators.geostat import median_center_sql

    pts = (
        "SELECT s_nationkey AS g, (s_suppkey * 37) % 1000 AS x,"
        " (s_suppkey * 59) % 1000 AS y FROM supplier"
    )
    return median_center_sql(pts, rounds=4)


def q_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X295 (similarity.perceptron_train): batch perceptron linear probe
    on the embeddings table (y = +1 for labels 0-4, -1 for 5-9), four
    synchronous integer rounds — final weight vector + last-round
    misclassified count, bit-equal to the unrolled twin."""
    from osm2geojson_spark.operators.similarity import perceptron_train

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.when(F.col("label") < 5, 1).otherwise(-1).cast("long").alias("y"),
    )
    return perceptron_train(emb, rounds=4)


def _perceptron_sql() -> str:
    from osm2geojson_spark.operators.similarity import perceptron_train_sql

    emb = (
        "SELECT vec_id AS id,"
        " CASE WHEN label < 5 THEN 1 ELSE -1 END AS y, embedding"
        " FROM embeddings"
    )
    return perceptron_train_sql(emb, rounds=4)


_UNSHARP_PX = """
SELECT printf('img%012d', i) AS image_id, w, w AS h,
       (p % w) AS x, (p // w) AS y,
       ((p % w) * 3 + (p // w) * 7 + i * 13) % 251 AS v
FROM (
  SELECT i, w, unnest(range(0, w * w)) AS p
  FROM (SELECT p_partkey AS i, 8 * (1 + p_partkey % 3) AS w
        FROM part WHERE p_partkey < 300)
)
"""


def q_unsharp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X296 (multimodal.unsharp_stats): amount-1 unsharp masking over
    300 mixed rawz/png images — clamp((512v − conv5x5) >> 8), integer
    halo/clip census; floor-exact on negatives in both engines."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.unsharp_stats(_synth_images(spark, sf_dir, 300))


def _unsharp_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.unsharp_stats_sql(_UNSHARP_PX)


def q_bilateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X297 (multimodal.bilateral_stats): edge-preserving bilateral
    filter over 300 mixed rawz/png images — 3x3 binomial spatial ×
    precomputed integer range LUT, Σ(w·v) DIV Σw; both engines share
    the LUT constants so no transcendental runs anywhere."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.bilateral_stats(_synth_images(spark, sf_dir, 300))


def _bilateral_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.bilateral_stats_sql(_UNSHARP_PX)


def q_phonetic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X298 (dedup.phonetic_blocks): Soundex blocking over every word of
    part names and document texts — same-sounding spellings grouped as
    fuzzy-merge candidate blocks; the Soundex itself is engine-twinned
    column algebra (no built-in soundex on either side)."""
    from osm2geojson_spark.operators.dedup import phonetic_blocks

    pw = _t(spark, sf_dir, "part").select(
        F.explode(F.split(F.col("p_name"), " ")).alias("word")
    )
    dw = _t(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return phonetic_blocks(pw.unionByName(dw))


def _phonetic_dedup_sql() -> str:
    from osm2geojson_spark.operators.dedup import phonetic_blocks_sql

    words = (
        "SELECT unnest(string_split(p_name, ' ')) AS word FROM part"
        " UNION ALL"
        " SELECT unnest(string_split(text, ' ')) AS word FROM documents"
    )
    return phonetic_blocks_sql(words)


def q_huff_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X301 (spatial_stats.huff_shares): Huff gravity market capture —
    25 nation-derived stores vs customer demand points on a 300-grid,
    radius 60, attractiveness/d² split in exact integer micro-demand."""
    from osm2geojson_spark.operators.spatial_stats import huff_shares

    n = F.col("n_nationkey")
    stores = _t(spark, sf_dir, "nation").select(
        n.alias("store_id"),
        ((n * 47) % 300).alias("sx"),
        ((n * 31) % 300).alias("sy"),
        (1 + n % 5).alias("attr"),
    )
    c = F.col("c_custkey")
    demand = _t(spark, sf_dir, "customer").select(
        c.alias("pid"),
        ((c * 13) % 300).alias("x"),
        ((c * 29) % 300).alias("y"),
        (1 + c % 7).alias("d"),
    )
    return huff_shares(demand, stores, radius=60)


def _huff_model_sql() -> str:
    from osm2geojson_spark.operators.spatial_stats import huff_shares_sql

    demand = (
        "SELECT c_custkey AS pid, (c_custkey * 13) % 300 AS x,"
        " (c_custkey * 29) % 300 AS y, 1 + c_custkey % 7 AS d FROM customer"
    )
    stores = (
        "SELECT n_nationkey AS store_id, (n_nationkey * 47) % 300 AS sx,"
        " (n_nationkey * 31) % 300 AS sy, 1 + n_nationkey % 5 AS attr"
        " FROM nation"
    )
    return huff_shares_sql(demand, stores, radius=60)


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X302 (graph.scc_coloring): cycle detection on a directed graph
    of 5-rings (blocks of part keys) plus forward hash chords — exact
    SCC labels with component sizes via Trim + forward-backward
    coloring (O(nodes) frontier state); the oracle replays full
    recursive mutual reachability."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    ring = part.select(
        k.alias("src"),
        F.when(k % 5 == 4, k - 4).otherwise(k + 1).alias("dst"),
    ).filter(F.col("dst") < n)
    chords = part.filter(k % 3 == 0).select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    )
    return G.scc_coloring(ring.unionByName(chords))


def _scc_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT src, dst FROM ("
        "SELECT p_partkey AS src,"
        " CASE WHEN p_partkey % 5 = 4 THEN p_partkey - 4"
        " ELSE p_partkey + 1 END AS dst FROM part) r"
        " WHERE dst < (SELECT COUNT(*) FROM part)"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst"
        " FROM part WHERE p_partkey % 3 = 0"
    )
    return G.scc_sql(edges)


def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X305 (graph.betweenness_bounded): pivot-sampled Brandes
    betweenness on the undirected 2-chord part graph (pivots every
    211th key), 4-hop horizon — exact σ path counts, fixed-point
    dependency sweep; oracle = walk-enumeration + unrolled levels."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 13 + 5) % n).alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    sources = part.filter(k % 211 == 0).select(k.alias("node"))
    return G.betweenness_bounded(edges, sources, max_hops=4)


def _betweenness_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT src, dst FROM ("
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 13 + 5) % (SELECT COUNT(*) FROM part) AS dst"
        " FROM part) e WHERE src <> dst"
    )
    sources = "SELECT p_partkey AS node FROM part WHERE p_partkey % 211 = 0"
    return G.betweenness_bounded_sql(edges, sources, max_hops=4)


def q_lcs_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X307 (dedup.lcs_block_similarity): LCS fuzzy similarity between
    the first words of part names, blocked by the product noun — DP
    once per distinct value pair (never per row pair), row-vectorized
    cummax recurrence; the twin enumerates DP states recursively."""
    from osm2geojson_spark.operators.dedup import lcs_block_similarity

    parts = _t(spark, sf_dir, "part").select(
        F.split(F.col("p_name"), " ").getItem(1).alias("blk"),
        F.split(F.col("p_name"), " ").getItem(0).alias("w"),
    )
    return lcs_block_similarity(parts)


def _lcs_similarity_sql() -> str:
    from osm2geojson_spark.operators.dedup import lcs_block_similarity_sql

    rows = (
        "SELECT string_split(p_name, ' ')[2] AS blk,"
        " string_split(p_name, ' ')[1] AS w FROM part"
    )
    return lcs_block_similarity_sql(rows)


def q_undistort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X308 (multimodal.undistort_stats): barrel lens undistortion over
    300 mixed rawz/png images — integer radial model, floor-pinned NN
    inverse mapping, out-of-bounds census."""
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.undistort_stats(_synth_images(spark, sf_dir, 300))


def _undistort_sql() -> str:
    from osm2geojson_spark.operators import multimodal as MM2

    return MM2.undistort_stats_sql(_UNSHARP_PX)


def q_quadrat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X309 (spatial_stats.quadrat_test): quadrat-count CSR test on a
    customer point set with a planted cluster (30% of points packed
    into a 40-unit box) — 8×8 quadrats over [0,400)², exact rational
    chi²/VMR; VMR must exceed 1 (clustered)."""
    from osm2geojson_spark.operators.spatial_stats import quadrat_test

    c = F.col("c_custkey")
    clustered = (c % 10) < 3
    pts = _t(spark, sf_dir, "customer").select(
        F.when(clustered, (c * 7) % 40 + 100).otherwise((c * 13) % 400).alias("x"),
        F.when(clustered, (c * 11) % 40 + 200).otherwise((c * 29) % 400).alias("y"),
    )
    return quadrat_test(pts, g=8, extent=400)


def _quadrat_sql() -> str:
    from osm2geojson_spark.operators.spatial_stats import quadrat_test_sql

    pts = (
        "SELECT CASE WHEN c_custkey % 10 < 3 THEN (c_custkey * 7) % 40 + 100"
        " ELSE (c_custkey * 13) % 400 END AS x,"
        " CASE WHEN c_custkey % 10 < 3 THEN (c_custkey * 11) % 40 + 200"
        " ELSE (c_custkey * 29) % 400 END AS y FROM customer"
    )
    return quadrat_test_sql(pts, g=8, extent=400)


def q_rocchio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X311 (retrieval.rocchio_expand): pseudo-relevance-feedback query
    expansion over the BM25 top-10 for the standing query terms —
    integer Rocchio weights, top-10 expansion terms pinned."""
    from osm2geojson_spark.operators.retrieval import rocchio_expand

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return rocchio_expand(docs, _BM25_TERMS, k=10, m=10)


def _rocchio_sql() -> str:
    from osm2geojson_spark.operators.retrieval import rocchio_expand_sql

    return rocchio_expand_sql(
        "documents", H.tokens_sql("text"), _BM25_TERMS, k=10, m=10
    )


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X312 (graph.k_truss): 4-truss peeling on planted K4 blocks
    (every edge inside a block of 4 consecutive part keys) plus hash
    chord noise — the chords peel away, the cliques survive with
    support 2."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    base = k - (k % 4)
    in_block = (base + 3) < n
    cliques = None
    for a in range(4):
        for b in range(a + 1, 4):
            ed = part.filter(in_block & (k % 4 == a)).select(
                k.alias("src"), (k + (b - a)).alias("dst")
            )
            cliques = ed if cliques is None else cliques.unionByName(ed)
    noise = part.select(k.alias("src"), ((k * 7 + 3) % n).alias("dst"))
    return G.k_truss(cliques.unionByName(noise), k=4, rounds=4)


def _k_truss_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    pairs = []
    for a in range(4):
        for b in range(a + 1, 4):
            pairs.append(
                "SELECT p_partkey AS src, p_partkey + "
                f"{b - a} AS dst FROM part WHERE p_partkey % 4 = {a}"
                " AND p_partkey - (p_partkey % 4) + 3 <"
                " (SELECT COUNT(*) FROM part)"
            )
    pairs.append(
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
    )
    edges = " UNION ALL ".join(pairs)
    return G.k_truss_sql(edges, k=4, rounds=4)


def q_stable_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X313 (matching.stable_matching): synchronous Gale-Shapley over a
    blocked customer→supplier preference table ((c+s)%7 block, hash
    scores) — 8 rounds, proposer-optimal over the truncated lists."""
    from osm2geojson_spark.operators.matching import stable_matching

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("p")
    )
    s = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("a"))
    prefs = (
        c.crossJoin(F.broadcast(s))
        .filter((F.col("p") + F.col("a")) % 7 == 0)
        .select(
            "p", "a", ((F.col("p") * 31 + F.col("a") * 17) % 997).alias("s")
        )
    )
    return stable_matching(prefs, rounds=8)


def _stable_matching_sql() -> str:
    from osm2geojson_spark.operators.matching import stable_matching_sql

    prefs = (
        "SELECT c_custkey AS p, s_suppkey AS a,"
        " (c_custkey * 31 + s_suppkey * 17) % 997 AS s"
        " FROM customer, supplier"
        " WHERE c_custkey % 3 = 0 AND (c_custkey + s_suppkey) % 7 = 0"
    )
    return stable_matching_sql(prefs, rounds=8)


def q_cube_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X315: full CUBE grouping sets over orders (priority × status ×
    ALL marginals — the sibling of rollup_orders, which only walks the
    hierarchy) — exact DECIMAL sums at the boundary; NULL grouping
    cells mapped to 'ALL' so both engines hash identical primitives."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            "n",
            F.col("_total").cast("double").alias("total"),
        )
    )


_CUBE_SQL = """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def q_fs_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X316 (matching.fs_link_scores): Fellegi-Sunter scoring of
    segment-blocked hash-sampled customer pairs on three agreement
    fields (nation, balance band, key residue) — u estimated from the
    candidate set, micro-nat weights, link/possible/non banding."""
    from osm2geojson_spark.operators.matching import fs_link_scores

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("band"),
        (F.col("c_custkey") % 97).alias("res"),
    )
    a = c.select(*[F.col(x).alias(f"a_{x}") for x in c.columns])
    b = c.select(*[F.col(x).alias(f"b_{x}") for x in c.columns])
    pairs = (
        a.join(b, F.col("a_c_mktsegment") == F.col("b_c_mktsegment"))
        .filter(
            (F.col("a_c_custkey") < F.col("b_c_custkey"))
            & ((F.col("a_c_custkey") + F.col("b_c_custkey")) % 29 == 0)
        )
        .select(
            F.col("a_c_custkey").alias("id_a"),
            F.col("b_c_custkey").alias("id_b"),
            (F.col("a_c_nationkey") == F.col("b_c_nationkey")).alias("same_nat"),
            (F.col("a_band") == F.col("b_band")).alias("same_band"),
            (F.col("a_res") == F.col("b_res")).alias("same_res"),
        )
    )
    return fs_link_scores(pairs, ["same_nat", "same_band", "same_res"])


def _fs_linkage_sql() -> str:
    from osm2geojson_spark.operators.matching import fs_link_scores_sql

    pairs = (
        "SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,"
        " a.c_nationkey = b.c_nationkey AS same_nat,"
        " CAST(floor(a.c_acctbal / 100) AS BIGINT)"
        "   = CAST(floor(b.c_acctbal / 100) AS BIGINT) AS same_band,"
        " a.c_custkey % 97 = b.c_custkey % 97 AS same_res"
        " FROM customer a JOIN customer b"
        " ON a.c_mktsegment = b.c_mktsegment"
        " AND a.c_custkey < b.c_custkey"
        " AND (a.c_custkey + b.c_custkey) % 29 = 0"
    )
    return fs_link_scores_sql(pairs, ["same_nat", "same_band", "same_res"])


def q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X317 (graph.maximal_independent_set): deterministic id-priority
    Luby MIS on the undirected 2-chord part graph — selected
    representatives + knockout rounds, twin-identical."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 13 + 5) % n).alias("dst"))
    )
    return G.maximal_independent_set(edges, rounds=12)


def _mis_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey,"
        " (p_partkey * 13 + 5) % (SELECT COUNT(*) FROM part) FROM part"
    )
    return G.maximal_independent_set_sql(edges, rounds=12)


def q_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X319 (functions.text.rake_phrases): RAKE keyphrase mining over
    every 3rd document — stopword-delimited candidate phrases, exact
    integer deg/freq word scores, corpus top-15 pinned."""
    from osm2geojson_spark.functions.text import rake_phrases

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return rake_phrases(docs, top_m=15)


def _rake_sql() -> str:
    from osm2geojson_spark.functions.text import rake_phrases_sql

    return rake_phrases_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0", top_m=15
    )


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X320 (sampling.poisson_bootstrap_ci): one-pass Poisson-bootstrap
    90% CIs for per-event-type mean cents — 32 deterministic hash-
    Poisson replicates, exact fixed-point replicate means, type-1
    quantile bounds."""
    from osm2geojson_spark.operators.sampling import poisson_bootstrap_ci

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.col("event_id").alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    return poisson_bootstrap_ci(ev, b_reps=32)


def _bootstrap_ci_sql() -> str:
    from osm2geojson_spark.operators.sampling import poisson_bootstrap_ci_sql

    rows = (
        "SELECT event_type AS g, event_id AS k,"
        " CAST(round(value * 100) AS BIGINT) AS x FROM events"
    )
    return poisson_bootstrap_ci_sql(rows, b_reps=32)


def q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X321 (graph.greedy_coloring): Jones-Plassmann greedy coloring of
    the undirected 2-chord part graph — id-priority waves, relational
    mex, wave provenance."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 13 + 5) % n).alias("dst"))
    )
    return G.greedy_coloring(edges, rounds=12)


def _coloring_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey,"
        " (p_partkey * 13 + 5) % (SELECT COUNT(*) FROM part) FROM part"
    )
    return G.greedy_coloring_sql(edges, rounds=12)


def q_convex_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X327 (geometry.convex_layers): onion peeling of the convex_hull
    point cloud (8 groups, 1000-grid integer coords) — three layers of
    minimal hull vertices; twin replays the directed-edge hull
    characterization per peel."""
    from osm2geojson_spark.operators.geometry import convex_layers

    k = F.col("p_partkey")
    pts = _t(spark, sf_dir, "part").filter(k < 800).select(
        (k % 8).alias("g"),
        ((k * 7919) % 1000).alias("x"),
        ((k * 104729) % 1000).alias("y"),
    )
    return convex_layers(pts, layers=3)


def _convex_layers_sql() -> str:
    from osm2geojson_spark.operators.geometry import convex_layers_sql

    pts = (
        "SELECT p_partkey % 8 AS g, (p_partkey * 7919) % 1000 AS x,"
        " (p_partkey * 104729) % 1000 AS y FROM part WHERE p_partkey < 800"
    )
    return convex_layers_sql(pts, layers=3)


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X328 (graph.harmonic_centrality): pivot-sampled harmonic
    centrality on the undirected 2-chord part graph (pivots every
    173rd key, 4-hop horizon) — exact Σ 1e6 DIV d contributions."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 13 + 5) % n).alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    sources = part.filter(k % 173 == 0).select(k.alias("node"))
    return G.harmonic_centrality(edges, sources, max_hops=4)


def _harmonic_centrality_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT src, dst FROM ("
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey AS src,"
        " (p_partkey * 13 + 5) % (SELECT COUNT(*) FROM part) AS dst"
        " FROM part) e WHERE src <> dst"
    )
    sources = "SELECT p_partkey AS node FROM part WHERE p_partkey % 173 = 0"
    return G.harmonic_centrality_sql(edges, sources, max_hops=4)


def q_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X329 (dedup.novelty_scores): per-document shingle novelty vs the
    corpus (df == 1 fraction) over every 2nd document — mode-collapse /
    template-flood audit; exact micro ratio."""
    from osm2geojson_spark.operators.dedup import novelty_scores

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return novelty_scores(docs)


def _novelty_sql() -> str:
    from osm2geojson_spark.operators.dedup import novelty_scores_sql

    return novelty_scores_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0"
    )


def q_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X332 (functions.text.lexicon_sentiment): lexicon tone gate over
    every 5th document — broadcast weight table, exact integer score,
    pos/neg/neutral verdicts."""
    from osm2geojson_spark.functions.text import lexicon_sentiment

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    return lexicon_sentiment(docs)


def _sentiment_sql() -> str:
    from osm2geojson_spark.functions.text import lexicon_sentiment_sql

    return lexicon_sentiment_sql(
        "SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0"
    )


def q_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X333 (graph.greedy_matching): deterministic maximal matching on
    the undirected 2-chord part graph — edge-priority Luby rounds on
    the line graph, round provenance."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    edges = part.select(
        k.alias("src"), ((k * 7 + 3) % n).alias("dst")
    ).unionByName(
        part.select(k.alias("src"), ((k * 13 + 5) % n).alias("dst"))
    )
    return G.greedy_matching(edges, rounds=12)


def _matching_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT p_partkey,"
        " (p_partkey * 13 + 5) % (SELECT COUNT(*) FROM part) FROM part"
    )
    return G.greedy_matching_sql(edges, rounds=12)


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X334 (graph.reciprocity): follow-back census on a directed hash
    graph where ~1 in 3 edges has a planted reverse."""
    from osm2geojson_spark.operators import graph as G

    part = _t(spark, sf_dir, "part").select("p_partkey")
    n = part.count()
    k = F.col("p_partkey")
    fwd = part.select(k.alias("src"), ((k * 7 + 3) % n).alias("dst"))
    back = part.filter(k % 3 == 0).select(
        ((k * 7 + 3) % n).alias("src"), k.alias("dst")
    )
    return G.reciprocity(fwd.unionByName(back))


def _reciprocity_sql() -> str:
    from osm2geojson_spark.operators import graph as G

    edges = (
        "SELECT p_partkey AS src,"
        " (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part) AS dst FROM part"
        " UNION ALL SELECT (p_partkey * 7 + 3) % (SELECT COUNT(*) FROM part),"
        " p_partkey FROM part WHERE p_partkey % 3 = 0"
    )
    return G.reciprocity_sql(edges)


def q_fuzzy2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X335 (dedup.lev2_join): depth-2 FastSS fuzzy join over
    suffix-diversified part names (every 11th part) — complete
    two-deletion candidate blocking,
    exact levenshtein <= 2 verify; twin is the brute cross join."""
    from osm2geojson_spark.operators.dedup import lev2_join

    rows = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 11 == 0).select(
        F.col("p_partkey").alias("rid"),
        F.concat_ws("-", F.col("p_name"), (F.col("p_partkey") % 7).cast("string")).alias("s"),
    )
    return lev2_join(rows, "rid", "s")


def _fuzzy2_join_sql() -> str:
    from osm2geojson_spark.operators.dedup import lev2_join_sql

    return lev2_join_sql(
        "SELECT p_partkey AS rid,"
        " p_name || '-' || CAST(p_partkey % 7 AS VARCHAR) AS s"
        " FROM part WHERE p_partkey % 11 = 0",
        "rid",
        "s",
    )


# Round-5 rotation (VERDICT r4 ask #1): the registry is FROZEN — no new queries
# this round — and the driver's 50-slot correctness window is pointed at the 50
# OLDEST names never recorded in CORRECTNESS_r01–r04 (the LLM-pipeline core:
# ANN/PQ, bm25, asof/interval joins, graph, trajectory, multimodal).  The base
# dict below keeps its historical newest-first order; this list is promoted to
# positions 0–49 at call time so CORRECTNESS_r05 clears verification backlog.
_PROMOTE_R5 = [
    "interval_join", "asof_join", "mobility", "od_flows", "stay_points",
    "spatial_window", "domain_cap", "pack_sequences", "doc_chunking",
    "stratified_sample", "bm25_topk", "ann_cosine_ivfpq_res", "ann_cosine_ivfpq",
    "scrub_apply", "ann_pq_scan", "ann_cosine_pq", "embedding_coreset",
    "ann_cosine_ivf", "zonal_median", "zonal_stats", "vectorize_tiles",
    "caption_alignment", "crossmodal_dedup", "image_pipeline", "image_similarity",
    "image_sharpness", "knn_graph", "halo_gradient", "dbscan",
    "vectorize_stitched", "dedup_semantic", "bfs_hops", "rasterize", "box_iou",
    "map_match", "semivariogram", "idw", "resample_tracks", "colocation",
    "geofence_visits", "shortest_path", "kde", "st_join", "pagerank",
    "patch_extract", "adaptive_bins", "track_speed", "bbox_join", "isochrone",
    "hist_equalize",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_base()
    promoted = {name: base[name] for name in _PROMOTE_R5}
    promoted.update((k, v) for k, v in base.items() if k not in promoted)
    return promoted


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- round-4 continuation: newest first (never driver-recorded)
        "fuzzy2_join": q_fuzzy2_join,
        "reciprocity": q_reciprocity,
        "matching": q_matching,
        "sentiment": q_sentiment,
        "novelty": q_novelty,
        "harmonic_centrality": q_harmonic_centrality,
        "convex_layers": q_convex_layers,
        "coloring": q_coloring,
        "bootstrap_ci": q_bootstrap_ci,
        "rake": q_rake,
        "mis": q_mis,
        "fs_linkage": q_fs_linkage,
        "cube_metrics": q_cube_metrics,
        "stable_matching": q_stable_matching,
        "k_truss": q_k_truss,
        "rocchio": q_rocchio,
        "quadrat": q_quadrat,
        "undistort": q_undistort,
        "lcs_similarity": q_lcs_similarity,
        "betweenness": q_betweenness,
        "scc": q_scc,
        "huff_model": q_huff_model,
        "phonetic_dedup": q_phonetic_dedup,
        "bilateral": q_bilateral,
        "unsharp": q_unsharp,
        "perceptron": q_perceptron,
        "median_center": q_median_center,
        "knox": q_knox,
        "rrf_fusion": q_rrf_fusion,
        "critical_path": q_critical_path,
        "psnr_gate": q_psnr_gate,
        "simrank": q_simrank,
        "cost_distance": q_cost_distance,
        "kll_quantiles": q_kll_quantiles,
        "containment": q_containment,
        "tfidf_cosine": q_tfidf_cosine,
        "boilerplate": q_boilerplate,
        "keyframes": q_keyframes,
        "url_canon": q_url_canon,
        "cell_buffer": q_cell_buffer,
        "knn_classify": q_knn_classify,
        "pii_scan": q_pii_scan,
        "bearing_stats": q_bearing_stats,
        "ppr": q_ppr,
        "clique4": q_clique4,
        "f2_sketch": q_f2_sketch,
        "canonical_pick": q_canonical_pick,
        "l_diversity": q_l_diversity,
        "shot_detect": q_shot_detect,
        "str_partition": q_str_partition,
        "rich_club": q_rich_club,
        "label_spread": q_label_spread,
        "hilbert_ranges": q_hilbert_ranges,
        "k_centers": q_k_centers,
        "focal_majority": q_focal_majority,
        "flow_accum": q_flow_accum,
        "ring_validity": q_ring_validity,
        "gray_world": q_gray_world,
        "bpe_encode": q_bpe_encode,
        "bpe_train": q_bpe_train,
        "compress_cost": q_compress_cost,
        "home_anchors": q_home_anchors,
        "dog_keypoints": q_dog_keypoints,
        "pca_top": q_pca_top,
        "alpha_shape": q_alpha_shape,
        "keyword_extract": q_keyword_extract,
        "winnow": q_winnow,
        "clustering_coeff": q_clustering_coeff,
        "color_quantize": q_color_quantize,
        "anchor_assign": q_anchor_assign,
        "squares": q_squares,
        "viterbi": q_viterbi,
        "demosaic": q_demosaic,
        "stream_topk": q_stream_topk,
        "tree_rollup": q_tree_rollup,
        "iou_track": q_iou_track,
        "haar_energy": q_haar,
        "assortativity": q_assortativity,
        "coverage_select": q_coverage_select,
        "brief_match": q_brief_match,
        "delaunay": q_delaunay,
        "maxsim": q_maxsim,
        "dither": q_dither,
        "mask_iou": q_mask_iou,
        "fast_corners": q_fast_corners,
        "lbp": q_lbp,
        "join_counts": q_join_counts,
        "hard_negatives": q_hard_negatives,
        "scan_stat": q_scan_stat,
        "link_prediction": q_link_prediction,
        "sd_ellipse": q_sd_ellipse,
        "hough": q_hough,
        "gaussian_blur": q_gaussian_blur,
        "min_bbox": q_min_bbox,
        "mmr": q_mmr,
        "pmi": q_pmi,
        "silhouette": q_silhouette,
        "decluster": q_decluster,
        "canny_nms": q_canny,
        "ranking_eval": q_ranking_eval,
        "ssim": q_ssim,
        "morph_openclose": q_morph_openclose,
        "motion_field": q_motion_field,
        "template_match": q_template_match,
        "hll_distinct": q_hll_distinct,
        "mutual_info": q_mutual_information,
        "watershed": q_watershed,
        "frechet": q_frechet,
        "flow_dir": q_flow_dir,
        "harris": q_harris,
        "segment_intersect": q_segment_intersect,
        "viewshed": q_viewshed,
        "text_nll": q_text_nll,
        "hits": q_hits,
        "geary_c": q_geary_c,
        "integral_image": q_integral_image,
        "rle_mask": q_rle_mask,
        "morphology": q_morphology,
        "hist_match": q_hist_match,
        "min_seam": q_min_seam,
        "token_budget": q_token_budget,
        "block_motion": q_block_motion,
        "image_entropy": q_image_entropy,
        "polylabel": q_polylabel,
        "centroid": q_centroid,
        "dct_phash": q_dct_phash,
        "embedding_clusters": q_embedding_clusters,
        "hillshade": q_hillshade,
        "label_noise": q_label_noise,
        "centroid_margin": q_centroid_margin,
        "mosaic_crop": q_mosaic_crop,
        "cdc_chunks_arrow": q_cdc_chunks_arrow,
        "cdc_chunks": q_cdc_chunks,
        "zipf_fit": q_zipf_fit,
        "gravity_fit": q_gravity_fit,
        "quadtree_plan": q_quadtree_plan,
        "track_nll": q_track_nll,
        "dirty_pyramid": q_dirty_pyramid,
        "compaction_plan": q_compaction_plan,
        "isolines": q_isolines,
        "resize_bilinear": q_resize_bilinear,
        "cusum_stream": q_cusum_stream,
        "profile": q_profile,
        "snm_dedup": q_snm_dedup,
        "gram_matrix": q_gram_matrix,
        "cms_join_card": q_cms_join_card,
        "fuzzy_join": q_fuzzy_join,
        "bloom_semijoin": q_bloom_semijoin,
        "warp_affine": q_warp_affine,
        "geodesic_area": q_geodesic_area,
        "distance_transform": q_distance_transform,
        "hog": q_hog,
        "cms_topk": q_cms_topk,
        "pps_sample": q_pps_sample,
        "k_core": q_k_core,
        "triangles": q_triangles,
        "median_filter": q_median_filter,
        "theta_distinct": q_theta_distinct,
        "st_dbscan": q_st_dbscan,
        "glcm": q_glcm,
        "hexbin": q_hexbin,
        "lpa": q_lpa,
        "chaikin": q_chaikin,
        "otsu": q_otsu,
        "image_moments": q_image_moments,
        "ripleys_k": q_ripleys_k,
        "clark_evans": q_clark_evans,
        "location_entropy": q_location_entropy,
        "kanon_cells": q_kanon_cells,
        "covisitation": q_covisitation,
        "decayed_heatmap": q_decayed_heatmap,
        "track_bearing": q_track_bearing,
        "voronoi": q_voronoi,
        "quadkey_layout": q_quadkey_layout,
        "sobel_edges": q_sobel_edges,
        "emerging_hotspots": q_emerging_hotspots,
        "convoys": q_convoys,
        "trips": q_trips,
        "lof": q_lof,
        "dtw": q_dtw,
        "spatial_outliers": q_spatial_outliers,
        "geofence_events": q_geofence_events,
        "cell_transitions": q_cell_transitions,
        "reverse_geocode": q_reverse_geocode,
        "hist_equalize": q_hist_equalize,
        "isochrone": q_isochrone,
        "bbox_join": q_bbox_join,
        "track_speed": q_track_speed,
        "adaptive_bins": q_adaptive_bins,
        "patch_extract": q_patch_extract,
        "pagerank": q_pagerank,
        "st_join": q_st_join,
        "kde": q_kde,
        "shortest_path": q_shortest_path,
        "geofence_visits": q_geofence_visits,
        "colocation": q_colocation,
        "resample_tracks": q_resample_tracks,
        "idw": q_idw,
        "semivariogram": q_semivariogram,
        "map_match": q_map_match,
        "box_iou": q_box_iou,
        "rasterize": q_rasterize,
        "bfs_hops": q_bfs_hops,
        # --- never driver-recorded (round-3 verdict ask #1): first, so a
        # budget-capped sweep records them before the long-verified tail
        "dedup_semantic": q_dedup_semantic,
        "vectorize_stitched": q_vectorize_stitched,
        "dbscan": q_dbscan,
        "halo_gradient": q_halo_gradient,
        "knn_graph": q_knn_graph,
        "image_sharpness": q_image_sharpness,
        "image_similarity": q_image_similarity,
        "image_pipeline": q_image_pipeline,
        "crossmodal_dedup": q_crossmodal_dedup,
        "caption_alignment": q_caption_alignment,
        "vectorize_tiles": q_vectorize_tiles,
        "zonal_stats": q_zonal_stats,
        "zonal_median": q_zonal_median,
        "ann_cosine_ivf": q_ann_cosine_ivf,
        "embedding_coreset": q_embedding_coreset,
        "ann_cosine_pq": q_ann_cosine_pq,
        "ann_pq_scan": q_ann_pq_scan,
        "scrub_apply": q_scrub_apply,
        "ann_cosine_ivfpq": q_ann_cosine_ivfpq,
        "ann_cosine_ivfpq_res": q_ann_cosine_ivfpq_res,
        "bm25_topk": q_bm25_topk,
        "stratified_sample": q_stratified_sample,
        "doc_chunking": q_doc_chunking,
        "pack_sequences": q_pack_sequences,
        "domain_cap": q_domain_cap,
        "spatial_window": q_spatial_window,
        "stay_points": q_stay_points,
        "od_flows": q_od_flows,
        "mobility": q_mobility,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        # --- recorded in r1/r2 but absent from r3
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_cosine_lsh": q_ann_cosine_lsh,
        "text_analysis": q_text_analysis,
        "quality_topk": q_quality_topk,
        "events_window": q_events_window,
        "sessionize": q_sessionize,
        "user_stats": q_user_stats,
        "events_json": q_events_json,
        "value_percentiles": q_value_percentiles,
        "rollup_orders": q_rollup_orders,
        "regional_revenue": q_regional_revenue,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        # --- green in CORRECTNESS_r03
        "way_assembly": q_way_assembly,
        "relation_assembly": q_relation_assembly,
        "classifier": q_classifier,
        "used_refs_antijoin": q_used_refs_antijoin,
        "cell_encode": q_cell_encode,
        "cell_histogram": q_cell_histogram,
        "sphere_cell_histogram": q_sphere_cell_histogram,
        "hilbert_layout": q_hilbert_layout,
        "pip_join": q_pip_join,
        "pip_join_sphere": q_pip_join_sphere,
        "within_distance": q_within_distance,
        "within_distance_sphere": q_within_distance_sphere,
        "sampled_range_join": q_sampled_range_join,
        "simplify_vertices": q_simplify_vertices,
        "dissolve": q_dissolve,
        "clip_polygons": q_clip_polygons,
        "convex_hull": q_convex_hull,
        "hausdorff": q_hausdorff,
        "line_interpolate": q_line_interpolate,
        "morans_i": q_morans_i,
        "hotspots": q_hotspots,
        "focal_stats": q_focal_stats,
        "lisa": q_lisa,
        "areal_interpolate": q_areal_interpolate,
        "subdivide": q_subdivide,
        "geohash_layout": q_geohash_layout,
        "spatial_rollup": q_spatial_rollup,
        "skew_salted_join": q_skew_salted_join,
        "knn": q_knn,
        "knn_sphere": q_knn_sphere,
        "tile_vector_join": q_tile_vector_join,
        "tile_vector_join_sphere": q_tile_vector_join_sphere,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "repeated_ngrams": q_repeated_ngrams,
        "scrub_spans": q_scrub_spans,
        "decontaminate": q_decontaminate,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_embedding": q_dedup_embedding,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_histogram": q_multimodal_histogram,
        "multimodal_augment": q_multimodal_augment,
        "tile_pyramid": q_tile_pyramid,
        "tile_pyramid2": q_tile_pyramid2,
        "image_dhash_dedup": q_image_dhash_dedup,
        "image_dhash_near": q_image_dhash_near,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "fuzzy2_join": _fuzzy2_join_sql(),
        "reciprocity": _reciprocity_sql(),
        "matching": _matching_sql(),
        "sentiment": _sentiment_sql(),
        "novelty": _novelty_sql(),
        "harmonic_centrality": _harmonic_centrality_sql(),
        "convex_layers": _convex_layers_sql(),
        "coloring": _coloring_sql(),
        "bootstrap_ci": _bootstrap_ci_sql(),
        "rake": _rake_sql(),
        "mis": _mis_sql(),
        "fs_linkage": _fs_linkage_sql(),
        "cube_metrics": _CUBE_SQL,
        "stable_matching": _stable_matching_sql(),
        "k_truss": _k_truss_sql(),
        "rocchio": _rocchio_sql(),
        "quadrat": _quadrat_sql(),
        "undistort": _undistort_sql(),
        "lcs_similarity": _lcs_similarity_sql(),
        "betweenness": _betweenness_sql(),
        "scc": _scc_sql(),
        "huff_model": _huff_model_sql(),
        "phonetic_dedup": _phonetic_dedup_sql(),
        "bilateral": _bilateral_sql(),
        "unsharp": _unsharp_sql(),
        "perceptron": _perceptron_sql(),
        "median_center": _median_center_sql(),
        "knox": _knox_sql(),
        "rrf_fusion": _rrf_fusion_sql(),
        "critical_path": _critical_path_sql(),
        "psnr_gate": _psnr_gate_sql(),
        "simrank": _simrank_sql(),
        "cost_distance": _cost_distance_sql(),
        "kll_quantiles": _kll_quantiles_sql(),
        "containment": _containment_sql(),
        "tfidf_cosine": _tfidf_cosine_sql(),
        "boilerplate": _boilerplate_sql(),
        "keyframes": _keyframes_sql(),
        "url_canon": _url_canon_sql(),
        "cell_buffer": _cell_buffer_sql(),
        "knn_classify": _knn_classify_sql(),
        "pii_scan": _pii_scan_sql(),
        "bearing_stats": _bearing_stats_sql(),
        "ppr": _ppr_sql(),
        "clique4": _clique4_sql(),
        "f2_sketch": _f2_sketch_sql(),
        "canonical_pick": _canonical_pick_sql(),
        "l_diversity": _l_diversity_sql(),
        "shot_detect": _shot_detect_sql(),
        "str_partition": _str_partition_sql(),
        "rich_club": _rich_club_sql(),
        "label_spread": _label_spread_sql(),
        "hilbert_ranges": _hilbert_ranges_sql(),
        "k_centers": _k_centers_sql(),
        "focal_majority": _focal_majority_sql(),
        "flow_accum": _flow_accum_sql(),
        "ring_validity": _ring_validity_sql(),
        "gray_world": _gray_world_sql(),
        "bpe_encode": _bpe_encode_sql(),
        "bpe_train": _bpe_train_sql(),
        "compress_cost": _compress_cost_sql(),
        "home_anchors": _home_anchors_sql(),
        "dog_keypoints": _dog_keypoints_sql(),
        "pca_top": _pca_top_sql(),
        "alpha_shape": _alpha_shape_sql(),
        "keyword_extract": _keyword_extract_sql(),
        "winnow": _winnow_sql(),
        "clustering_coeff": _clustering_coeff_sql(),
        "color_quantize": _color_quantize_sql(),
        "anchor_assign": _anchor_assign_sql(),
        "squares": _squares_sql(),
        "viterbi": _viterbi_sql(),
        "demosaic": _demosaic_sql(),
        "stream_topk": _stream_topk_sql(),
        "tree_rollup": _tree_rollup_sql(),
        "iou_track": _iou_track_sql(),
        "haar_energy": _haar_sql(),
        "assortativity": _assortativity_sql(),
        "coverage_select": _coverage_select_sql(),
        "brief_match": _brief_match_sql(),
        "delaunay": _delaunay_sql(),
        "maxsim": _maxsim_sql(),
        "dither": _dither_sql(),
        "mask_iou": _mask_iou_sql(),
        "fast_corners": _fast_corners_sql(),
        "lbp": _lbp_sql(),
        "join_counts": _join_counts_sql(),
        "hard_negatives": _hard_negatives_sql(),
        "scan_stat": _scan_stat_sql(),
        "link_prediction": _link_prediction_sql(),
        "sd_ellipse": _sd_ellipse_sql(),
        "hough": _hough_sql(),
        "gaussian_blur": _gaussian_blur_sql(),
        "min_bbox": _min_bbox_sql(),
        "mmr": _mmr_sql(),
        "pmi": _pmi_sql(),
        "silhouette": _silhouette_sql(),
        "decluster": _decluster_sql(),
        "canny_nms": _canny_sql(),
        "ranking_eval": _ranking_eval_sql(),
        "ssim": _SSIM_SQL,
        "morph_openclose": _MORPH_OPENCLOSE_SQL,
        "motion_field": _MOTION_FIELD_SQL,
        "template_match": _TEMPLATE_MATCH_SQL,
        "hll_distinct": _hll_distinct_sql(),
        "mutual_info": _MUTUAL_INFO_SQL,
        "watershed": _WATERSHED_SQL,
        "frechet": _FRECHET_SQL,
        "flow_dir": _FLOW_DIR_SQL,
        "harris": _HARRIS_SQL,
        "segment_intersect": _SEGMENT_INTERSECT_SQL,
        "viewshed": _VIEWSHED_SQL,
        "text_nll": _TEXT_NLL_SQL,
        "hits": _hits_sql(),
        "geary_c": _geary_c_sql(),
        "integral_image": _integral_image_sql(),
        "rle_mask": _RLE_MASK_SQL,
        "morphology": _MORPHOLOGY_SQL,
        "hist_match": _HIST_MATCH_SQL,
        "min_seam": _MIN_SEAM_SQL,
        "token_budget": _TOKEN_BUDGET_SQL,
        "block_motion": _BLOCK_MOTION_SQL,
        "image_entropy": _IMAGE_ENTROPY_SQL,
        "polylabel": _POLYLABEL_SQL,
        "centroid": _CENTROID_SQL,
        "dct_phash": _dct_phash_sql(),
        "embedding_clusters": _EMB_CLUSTERS_SQL,
        "hillshade": _HILLSHADE_SQL,
        "label_noise": _LABEL_NOISE_SQL,
        "centroid_margin": _CENTROID_MARGIN_SQL,
        "mosaic_crop": _mosaic_crop_sql(),
        "cdc_chunks_arrow": _cdc_chunks_sql(),
        "cdc_chunks": _cdc_chunks_sql(),
        "zipf_fit": _zipf_fit_sql(),
        "gravity_fit": _gravity_fit_sql(),
        "quadtree_plan": _quadtree_plan_sql(),
        "track_nll": _track_nll_sql(),
        "dirty_pyramid": _dirty_pyramid_sql(),
        "compaction_plan": _compaction_plan_sql(),
        "isolines": _isolines_sql(),
        "resize_bilinear": _resize_bilinear_sql(),
        "cusum_stream": _cusum_stream_sql(),
        "profile": _profile_sql(),
        "snm_dedup": _snm_dedup_sql(),
        "gram_matrix": _gram_matrix_sql(),
        "cms_join_card": _cms_join_card_sql(),
        "fuzzy_join": _fuzzy_join_sql(),
        "bloom_semijoin": _bloom_semijoin_sql(),
        "warp_affine": _warp_affine_sql(),
        "geodesic_area": _geodesic_area_sql(),
        "distance_transform": _DISTANCE_TRANSFORM_SQL,
        "hog": _hog_sql(),
        "cms_topk": _cms_topk_sql(),
        "pps_sample": _pps_sample_sql(),
        "k_core": _k_core_sql(),
        "triangles": _triangles_sql(),
        "median_filter": _MEDIAN_FILTER_SQL,
        "theta_distinct": _theta_distinct_sql(),
        "st_dbscan": _st_dbscan_sql(),
        "glcm": _glcm_sql(),
        "hexbin": _hexbin_sql(),
        "lpa": _lpa_sql(),
        "chaikin": _CHAIKIN_SQL,
        "otsu": _otsu_sql(),
        "image_moments": _image_moments_sql(),
        "ripleys_k": _ripleys_k_sql(),
        "clark_evans": _clark_evans_sql(),
        "trips": _trips_sql(),
        "lof": _lof_sql(),
        "spatial_outliers": _spatial_outliers_sql(),
        "geofence_events": _geofence_events_sql(),
        "cell_transitions": _cell_transitions_sql(),
        "reverse_geocode": _reverse_geocode_sql(),
        "hist_equalize": _HIST_EQUALIZE_SQL,
        "isochrone": _isochrone_sql(),
        "bbox_join": _bbox_join_sql(),
        "track_speed": _track_speed_sql(),
        "adaptive_bins": _adaptive_bins_sql(),
        "patch_extract": _PATCH_EXTRACT_SQL,
        "pagerank": _pagerank_sql(),
        "st_join": _st_join_sql(),
        "kde": _kde_sql(),
        "shortest_path": _shortest_path_sql(),
        "geofence_visits": _geofence_visits_sql(),
        "idw": _idw_sql(),
        "semivariogram": _semivariogram_sql(),
        "map_match": _map_match_sql(),
        "box_iou": _box_iou_sql(),
        "rasterize": _rasterize_sql(),
        "bfs_hops": _bfs_hops_sql(),
        "resample_tracks": _resample_tracks_sql(),
        "dtw": _dtw_sql(),
        "colocation": _colocation_sql(),
        "convoys": _convoys_sql(),
        "dedup_semantic": _dedup_semantic_sql(),
        "vectorize_stitched": _VECTORIZE_STITCHED_SQL,
        "dbscan": _dbscan_sql(),
        "halo_gradient": _HALO_GRADIENT_SQL,
        "knn_graph": _knn_graph_sql(),
        "way_assembly": _WAY_ASSEMBLY_SQL,
        "relation_assembly": _RELATION_ASSEMBLY_SQL,
        "classifier": _classifier_oracle_sql(),
        "used_refs_antijoin": (
            "SELECT p_partkey FROM part WHERE p_partkey NOT IN "
            "(SELECT l_partkey FROM lineitem WHERE l_orderkey % 50 = 0)"
        ),
        "cell_encode": _CELL_ENCODE_SQL,
        "cell_histogram": _CELL_HISTOGRAM_SQL,
        "sphere_cell_histogram": _sphere_cell_histogram_sql(),
        "hilbert_layout": _hilbert_layout_sql(),
        "pip_join": _PIP_JOIN_SQL,
        "pip_join_sphere": _PIP_JOIN_SQL,
        "within_distance": _WITHIN_DISTANCE_SQL,
        "within_distance_sphere": _WITHIN_DISTANCE_SQL,
        "sampled_range_join": _SAMPLED_RANGE_SQL,
        "simplify_vertices": _SIMPLIFY_SQL,
        "dissolve": _DISSOLVE_SQL,
        "clip_polygons": _CLIP_SQL,
        "convex_hull": _CONVEX_HULL_SQL,
        "hausdorff": _HAUSDORFF_SQL,
        "line_interpolate": _LINE_INTERPOLATE_SQL,
        "morans_i": _morans_i_sql(),
        "hotspots": _hotspots_sql(),
        "emerging_hotspots": _emerging_hotspots_sql(),
        "sobel_edges": _sobel_edges_sql(),
        "voronoi": _voronoi_sql(),
        "decayed_heatmap": _decayed_heatmap_sql(),
        "covisitation": _covisitation_sql(),
        "kanon_cells": _kanon_cells_sql(),
        "location_entropy": _location_entropy_sql(),
        "track_bearing": _track_bearing_sql(),
        "quadkey_layout": _quadkey_layout_sql(),
        "focal_stats": _focal_stats_sql(),
        "lisa": _lisa_sql(),
        "areal_interpolate": _AREAL_SQL,
        "subdivide": _SUBDIVIDE_SQL,
        "geohash_layout": _geohash_layout_sql(),
        "spatial_rollup": _SPATIAL_ROLLUP_SQL,
        "skew_salted_join": _SKEW_JOIN_SQL,
        "knn": _KNN_SQL,
        "knn_sphere": _KNN_SQL,
        "tile_vector_join": _TILE_JOIN_SQL,
        "tile_vector_join_sphere": _TILE_JOIN_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": _jaccard_sql(_docs_mutant_cte(60), 0.5),
        "repeated_ngrams": _repeated_ngrams_sql(),
        "scrub_spans": _scrub_spans_sql(),
        "decontaminate": _decontaminate_sql(),
        "dedup_minhash_lsh": _minhash_lsh_sql(_docs_mutant_cte(60), 0.5),
        "dedup_simhash": _simhash_sql("doc_id < 120", 3),
        "dedup_clusters": _dedup_clusters_sql(),
        "dedup_pipeline": _dedup_pipeline_sql(),
        "dedup_embedding": _dedup_embedding_sql(),
        "multimodal_decode": _MULTIMODAL_SQL,
        "multimodal_resize": _MULTIMODAL_RESIZE_SQL,
        "multimodal_histogram": _MULTIMODAL_HIST_SQL,
        "multimodal_augment": _MULTIMODAL_AUGMENT_SQL,
        "tile_pyramid": _TILE_PYRAMID_SQL,
        "tile_pyramid2": _TILE_PYRAMID2_SQL,
        "image_dhash_dedup": _IMAGE_DHASH_SQL,
        "image_dhash_near": _IMAGE_DHASH_NEAR_SQL,
        "image_sharpness": _IMAGE_SHARPNESS_SQL,
        "image_similarity": _IMAGE_SIMILARITY_SQL,
        "image_pipeline": _IMAGE_PIPELINE_SQL,
        "crossmodal_dedup": _CROSSMODAL_DEDUP_SQL,
        "caption_alignment": _caption_alignment_sql(),
        "vectorize_tiles": _VECTORIZE_SQL,
        "zonal_stats": _ZONAL_STATS_SQL,
        "zonal_median": _ZONAL_MEDIAN_SQL,
        "ann_cosine_topk": _ANN_SQL,
        "ann_cosine_lsh": _ann_lsh_sql(),
        "ann_cosine_ivf": _ann_ivf_sql(),
        "embedding_coreset": _embedding_coreset_sql(),
        "ann_cosine_pq": _ann_pq_sql(),
        "ann_pq_scan": _ann_pq_sql(),
        "scrub_apply": _scrub_apply_sql(),
        "ann_cosine_ivfpq": _ann_ivfpq_sql(),
        "ann_cosine_ivfpq_res": _ann_ivfpq_res_sql(),
        "bm25_topk": _bm25_sql(),
        "text_analysis": _TEXT_SQL,
        "quality_topk": _QUALITY_TOPK_SQL,
        "stratified_sample": _stratified_sample_sql(),
        "doc_chunking": _doc_chunking_sql(),
        "pack_sequences": _pack_sequences_sql(),
        "domain_cap": _domain_cap_sql(),
        "events_window": _EVENTS_SQL,
        "spatial_window": _spatial_window_sql(),
        "stay_points": _stays_sql("SELECT user_id, stay_seq, cell_id, n_pings, dur_s FROM seq"),
        "od_flows": _od_flows_sql(),
        "mobility": _mobility_sql(),
        "sessionize": _SESSIONIZE_SQL,
        "user_stats": _USER_STATS_SQL,
        "asof_join": _ASOF_JOIN_SQL,
        "interval_join": _INTERVAL_JOIN_SQL,
        "events_json": _EVENTS_JSON_SQL,
        "value_percentiles": _PERCENTILES_SQL,
        "rollup_orders": _ROLLUP_SQL,
        "regional_revenue": _REGIONAL_REVENUE_SQL,
        "pricing_summary": _PRICING_SQL,
        "top_customers": _TOP_CUSTOMERS_SQL,
    }
