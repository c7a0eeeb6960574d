"""Deterministic synthetic image+caption table (the BASELINE.json input_hint
payload: 10^12-row notional scale, small-scale here).

Schema (exact input_hint shape):
    image_id string, bytes binary, w int, h int, fmt string,
    caption string, phash bigint

``phash`` is the perceptual-hash stand-in that the spatial layer decodes to a
(lon, lat) point: the point is quantized to 31+31 bits,

    lon_q = floor((lon+180)/360 * 2^31),  lat_q = floor((lat+90)/180 * 2^31)
    phash = lat_q * 2^31 + lon_q

and decoding returns bin centers. Encoding/decoding are closed-form integer
arithmetic, so they run JVM-side as column expressions AND have byte-identical
ANSI-SQL equivalents for the DuckDB oracle.

Point placement is a seedless modular-arithmetic sequence of the row index
(exact in int64 for n < 2^31, identical in Spark and DuckDB), uniform over a
configurable bbox so spatial joins against fixture polygons have known
answers.

All generation is distributed: ``spark.range(n)`` + column expressions; only
the pixel/zlib encode runs in an Arrow-batched pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import imagecodec
from .local import local_frame

Q = 1 << 31
_LON_M1, _LON_M2 = 2654435761, 1000003
_LAT_M1, _LAT_M2 = 2246822519, 999983

WORLD_BBOX = (-180.0, -90.0, 180.0, 90.0)


# ------------------------------------------------------------ point <-> i


def lon_expr(i: Column, bbox=WORLD_BBOX) -> Column:
    lo, _, hi, _ = bbox
    u = (i * F.lit(_LON_M1) % F.lit(_LON_M2)).cast("double") / F.lit(float(_LON_M2))
    return F.lit(lo) + F.lit(hi - lo) * u


def lat_expr(i: Column, bbox=WORLD_BBOX) -> Column:
    _, lo, _, hi = bbox
    u = ((i * F.lit(_LAT_M1) + F.lit(7)) % F.lit(_LAT_M2)).cast("double") / F.lit(float(_LAT_M2))
    return F.lit(lo) + F.lit(hi - lo) * u


def lon_sql(i: str, bbox=WORLD_BBOX) -> str:
    # parenthesized exactly like lon_expr so both engines run the identical
    # IEEE op sequence: lo + range * (m / M)
    lo, _, hi, _ = bbox
    return f"({lo} + ({hi} - {lo}) * ((({i} * {_LON_M1}) % {_LON_M2}) / {_LON_M2}.0))"


def lat_sql(i: str, bbox=WORLD_BBOX) -> str:
    _, lo, _, hi = bbox
    return f"({lo} + ({hi} - {lo}) * ((({i} * {_LAT_M1} + 7) % {_LAT_M2}) / {_LAT_M2}.0))"


# ------------------------------------------------------------ phash codec


def phash_encode(lon: Column, lat: Column) -> Column:
    lon_q = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(Q)))
    lat_q = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(Q)))
    lon_q = F.least(F.lit(Q - 1), F.greatest(F.lit(0), lon_q)).cast("long")
    lat_q = F.least(F.lit(Q - 1), F.greatest(F.lit(0), lat_q)).cast("long")
    return lat_q * F.lit(Q) + lon_q


def phash_lon(phash) -> Column:
    """Decoded bin-center longitude."""
    phash = F.col(phash) if isinstance(phash, str) else phash
    return ((phash % F.lit(Q)).cast("double") + F.lit(0.5)) / F.lit(float(Q)) * F.lit(360.0) - F.lit(180.0)


def phash_lat(phash) -> Column:
    phash = F.col(phash) if isinstance(phash, str) else phash
    # shiftright, not double division: phash can exceed 2^53
    return (F.shiftright(phash, 31).cast("double") + F.lit(0.5)) / F.lit(float(Q)) * F.lit(180.0) - F.lit(90.0)


def phash_encode_sql(lon: str, lat: str) -> str:
    lon_q = f"least({Q - 1}, greatest(0, CAST(floor(({lon} + 180.0) / 360.0 * {Q}.0) AS BIGINT)))"
    lat_q = f"least({Q - 1}, greatest(0, CAST(floor(({lat} + 90.0) / 180.0 * {Q}.0) AS BIGINT)))"
    return f"({lat_q} * {Q} + {lon_q})"


def phash_lon_sql(phash: str) -> str:
    return f"((({phash}) % {Q} + 0.5) / {Q}.0 * 360.0 - 180.0)"


def phash_lat_sql(phash: str) -> str:
    return f"(((({phash}) // {Q}) + 0.5) / {Q}.0 * 180.0 - 90.0)"


# ------------------------------------------------------------- the table


def synthetic_osm_frames(spark: SparkSession, n_rel: int):
    """Deterministic OSM element corpus at scale: ``n_rel`` multipolygon
    relations, each = 8 nodes + 2 open 'outer' way chains forming a
    rectangle (+ a 1x1 'inner' hole way for even keys). Exercises the full
    resolve/assemble pipeline (node join, linemerge, role grouping, hole
    subtraction) with closed-form ground truth: area = w*h - (1 if hole).

    Returns an ElementFrames. Id spaces are disjoint ACROSS TYPES (nodes
    n*100+c, ways 1e9+n*10+k, relations 2e9+n) because the used-refs dedup
    is an id-only anti join (the reference's cross-type-collision quirk) —
    colliding ids would silently drop converted relations."""
    from pyspark.sql import functions as F

    from .normalize import ElementFrames, OTHERS_SCHEMA

    base = spark.range(0, n_rel).select(F.col("id").alias("n"))
    n = F.col("n")
    # rectangles on a 0.4 x 0.45 deg grid covering the world, size <= grid
    x0 = (n % 890).cast("double") * F.lit(0.4) - F.lit(178.0)
    y0 = ((F.floor(n / 890) % 390)).cast("double") * F.lit(0.45) - F.lit(88.0)
    wd = F.lit(0.2) + (n % 3).cast("double") * F.lit(0.05)
    ht = F.lit(0.2) + (n % 5).cast("double") * F.lit(0.02)

    def corner(c, lon, lat):
        return F.struct(F.lit(c).alias("c"), lon.alias("lon"), lat.alias("lat"))

    i1 = F.lit(0.05)
    outer_corners = [
        corner(0, x0, y0),
        corner(1, x0 + wd, y0),
        corner(2, x0 + wd, y0 + ht),
        corner(3, x0, y0 + ht),
    ]
    inner_corners = [
        corner(4, x0 + i1, y0 + i1),
        corner(5, x0 + 2 * i1, y0 + i1),
        corner(6, x0 + 2 * i1, y0 + 2 * i1),
        corner(7, x0 + i1, y0 + 2 * i1),
    ]
    # inner-hole nodes exist only where the hole way exists (even keys) —
    # otherwise they'd survive the used-refs filter as stray Points
    corners = F.when(n % 2 == 0, F.array(*outer_corners, *inner_corners)).otherwise(
        F.array(*outer_corners)
    )
    meta = [
        F.lit(None).cast("array<struct<k:string,v:string>>").alias("tags"),
        F.lit(None).cast("string").alias("timestamp"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("long").alias("changeset"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("long").alias("uid"),
    ]
    nodes = base.select(n, F.explode(corners).alias("p")).select(
        F.lit("d").alias("doc_id"),
        (n * 100 + F.col("p.c")).alias("seq"),
        (n * 100 + F.col("p.c")).alias("id"),
        F.col("p.lon").alias("lon"),
        F.col("p.lat").alias("lat"),
        *meta,
    )

    WAY_BASE = 1_000_000_000
    REL_BASE = 2_000_000_000

    def way(widx, *cs):
        return F.struct(
            (n * 10 + widx + WAY_BASE).alias("id"),
            F.array(*[n * 100 + c for c in cs]).alias("nds"),
        )

    ways_arr = F.when(
        n % 2 == 0,
        F.array(way(1, 0, 1, 2), way(2, 2, 3, 0), way(3, 4, 5, 6, 7, 4)),
    ).otherwise(F.array(way(1, 0, 1, 2), way(2, 2, 3, 0)))
    ways = base.select(n, F.explode(ways_arr).alias("w")).select(
        F.lit("d").alias("doc_id"),
        F.col("w.id").alias("seq"),
        F.col("w.id").alias("id"),
        F.col("w.nds").alias("nodes"),
        F.lit(None).cast("array<struct<lon:double,lat:double>>").alias("geometry"),
        F.lit(None).cast("struct<lon:double,lat:double>").alias("center"),
        F.lit(None).cast(
            "struct<minlat:double,minlon:double,maxlat:double,maxlon:double>"
        ).alias("bounds"),
        *meta,
    )

    def member(pos, widx, role):
        return F.struct(
            F.lit(pos).alias("pos"),
            F.lit("way").alias("mtype"),
            (n * 10 + widx + WAY_BASE).alias("ref"),
            F.lit(role).alias("role"),
            F.lit(None).cast("array<struct<lon:double,lat:double>>").alias("geometry"),
            F.lit(None).cast("double").alias("lon"),
            F.lit(None).cast("double").alias("lat"),
        )

    members = F.when(
        n % 2 == 0,
        F.array(member(0, 1, "outer"), member(1, 2, "outer"), member(2, 3, "inner")),
    ).otherwise(F.array(member(0, 1, "outer"), member(1, 2, "outer")))
    rels = base.select(
        F.lit("d").alias("doc_id"),
        (n + REL_BASE).alias("seq"),
        (n + REL_BASE).alias("id"),
        members.alias("members"),
        F.lit(None).cast("struct<lon:double,lat:double>").alias("center"),
        F.lit(None).cast(
            "struct<minlat:double,minlon:double,maxlat:double,maxlon:double>"
        ).alias("bounds"),
        F.array(
            F.struct(F.lit("type").alias("k"), F.lit("multipolygon").alias("v"))
        ).alias("tags"),
        F.lit(None).cast("string").alias("timestamp"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("long").alias("changeset"),
        F.lit(None).cast("string").alias("user"),
        F.lit(None).cast("long").alias("uid"),
    )
    return ElementFrames(nodes, ways, rels, local_frame(spark, [], OTHERS_SCHEMA), 0)


@pandas_udf(T.BinaryType())
def _encode_image_fmt_udf(i: pd.Series, w: pd.Series, h: pd.Series, fmt: pd.Series) -> pd.Series:
    """Format-aware encoder: same deterministic pixels, container per row
    ('rawz' or real 'png' — functions/imagecodec.encode)."""
    out = []
    for idx, ww, hh, f in zip(i, w, h, fmt):
        px = imagecodec.synth_pixels(int(idx), int(ww), int(hh))
        out.append(imagecodec.encode(px, str(f)))
    return pd.Series(out)


def synthetic_images(
    spark: SparkSession,
    n: int,
    bbox=WORLD_BBOX,
    num_partitions: int | None = None,
    with_bytes: bool = True,
) -> DataFrame:
    """The image+caption payload table at the input_hint schema."""
    df = spark.range(0, n, numPartitions=num_partitions)
    i = F.col("id")
    sizes = [16, 32, 64]
    w = (
        F.when(i % 3 == 0, sizes[0]).when(i % 3 == 1, sizes[1]).otherwise(sizes[2])
    ).cast("int")
    lon = lon_expr(i, bbox)
    lat = lat_expr(i, bbox)
    df = df.select(
        F.format_string("img%012d", i).alias("image_id"),
        i.alias("_i"),
        w.alias("w"),
        w.alias("h"),
        # mixed wire formats: every 7th image is a real PNG (stdlib codec),
        # the rest rawz — downstream decode must handle both
        F.when(i % 7 == 0, F.lit("png")).otherwise(F.lit("rawz")).alias("fmt"),
        F.concat(F.lit("caption for img"), i.cast("string")).alias("caption"),
        phash_encode(lon, lat).alias("phash"),
    )
    if with_bytes:
        df = df.withColumn(
            "bytes",
            _encode_image_fmt_udf(F.col("_i"), F.col("w"), F.col("h"), F.col("fmt")),
        )
    else:
        df = df.withColumn("bytes", F.lit(None).cast("binary"))
    return df.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "_i")
