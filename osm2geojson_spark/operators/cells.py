"""Hierarchical spatial cell index (E1) — resolutions 0..26, default 7-12.

An S2-style discrete global grid implemented from scratch as a 2^r x 2^r
equirectangular quad grid (no h3/s2 wheels exist in this environment; the
engine needs encode / parent / k-ring / covering, all of which this grid
provides with pure integer math):

    x       = floor((lon + 180) / 360 * 2^r)   clamped to [0, 2^r-1]
    y       = floor((lat +  90) / 180 * 2^r)   clamped
    cell_id = (r << 58) | (x << 29) | y

Everything is a Spark **column expression** — cell encoding runs JVM-side in
whole-stage codegen with zero Python involvement, and the same closed-form
arithmetic serves as the DuckDB correctness oracle. For physical clustering
a Morton (Z-order) key interleaves x/y so range-partitioned writes keep
spatial locality.

Reference linkage: the reference has no spatial index; this layer is mandated
by BASELINE.json:6,14 on top of the assembled osm2geojson polygons.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

RES_MIN, RES_MAX = 0, 26
DEFAULT_RES = 9

_X_SHIFT = 29
_R_SHIFT = 58


def _grid_n(res: int) -> int:
    return 1 << res


def cell_x(lon: Column, res: int) -> Column:
    n = _grid_n(res)
    raw = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def cell_y(lat: Column, res: int) -> Column:
    n = _grid_n(res)
    raw = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), raw)).cast("long")


def pack_cell(res: int, x: Column, y: Column) -> Column:
    return (F.lit(res).cast("long") * F.lit(1 << _R_SHIFT)) + (x * F.lit(1 << _X_SHIFT)) + y


def pack_cell_py(res: int, x: int, y: int) -> int:
    """Driver-side twin of pack_cell (batch-id enumeration in plans/tile_job)."""
    return (res << _R_SHIFT) + (x << _X_SHIFT) + y


def cell_id(lon: Column, lat: Column, res: int = DEFAULT_RES) -> Column:
    """Point -> cell id at resolution ``res`` (pure arithmetic, codegen-able)."""
    return pack_cell(res, cell_x(lon, res), cell_y(lat, res))


def cell_res(cell: Column) -> Column:
    return F.shiftright(cell, _R_SHIFT)  # exact (double division loses bits > 2^53)


def cell_xy(cell: Column) -> tuple[Column, Column]:
    rem = cell % F.lit(1 << _R_SHIFT)
    return F.shiftright(rem, _X_SHIFT), rem % F.lit(1 << _X_SHIFT)


def parent_cell(cell: Column, child_res: int, parent_res: int) -> Column:
    """Coarsen a cell id (child_res -> parent_res <= child_res)."""
    assert parent_res <= child_res
    shift = child_res - parent_res
    x, y = cell_xy(cell)
    return pack_cell(parent_res, F.shiftright(x, shift), F.shiftright(y, shift))


def k_ring(cell: Column, res: int, k: int = 1) -> Column:
    """array<long> of all cells within Chebyshev distance k (the (2k+1)^2
    block, clamped at grid edges, x wrapping at the antimeridian).

    Built with sequence()+transform so the expression stays O(1) in k —
    a literal (2k+1)^2 when-chain blows up Catalyst for wide rings."""
    n = _grid_n(res)
    x, y = cell_xy(cell)
    dys = F.sequence(
        F.greatest(F.lit(0), y - F.lit(k)), F.least(F.lit(n - 1), y + F.lit(k))
    )
    dxs = F.sequence(F.lit(-k), F.lit(k))
    return F.flatten(
        F.transform(
            dxs,
            lambda dx: F.transform(
                dys, lambda ny: pack_cell(res, (x + dx + F.lit(n)) % F.lit(n), ny)
            ),
        )
    )


def covering_cells(
    min_lon: Column, min_lat: Column, max_lon: Column, max_lat: Column, res: int
) -> Column:
    """array<long> of cells covering a bbox (footprints/polygons): the
    [x0..x1] x [y0..y1] block, built JVM-side with sequence()+transform.

    Antimeridian: a bbox given with ``min_lon > max_lon`` (the GeoJSON RFC
    7946 §5.2 convention for boxes crossing 180°) covers the wrapped x range
    [x0..n-1] ++ [0..x1], mirroring how ``k_ring`` wraps x.

    The caller is responsible for keeping res coarse enough that coverings
    stay small (the engine picks res so max covering <= ~4k cells; dense
    polygons use a finer PIP refinement inside the join kernel E2).
    """
    n = _grid_n(res)
    x0, x1 = cell_x(min_lon, res), cell_x(max_lon, res)
    y0, y1 = cell_y(min_lat, res), cell_y(max_lat, res)
    # a wrapped box whose two x ranges [x0..n-1] ++ [0..x1] would meet or
    # overlap (x1 + 1 >= x0 — near-full-longitude disks at high latitude)
    # degrades to the single full band, so NO cell is ever emitted twice:
    # within_distance_join's "no pair can match twice" invariant rests on
    # this array being duplicate-free (round-3 ADVICE, low)
    xs = F.when(
        min_lon > max_lon,
        F.when(x1 + 1 >= x0, F.sequence(F.lit(0), F.lit(n - 1))).otherwise(
            F.concat(F.sequence(x0, F.lit(n - 1)), F.sequence(F.lit(0), x1))
        ),
    ).otherwise(F.sequence(x0, x1))
    ys = F.sequence(y0, y1)
    return F.flatten(
        F.transform(xs, lambda xx: F.transform(ys, lambda yy: pack_cell(res, xx, yy)))
    )


def morton_key(cell: Column, res: int) -> Column:
    """Z-order interleave of (x, y) — physical sort key for spatial locality
    in range partitioning / Parquet file layout."""
    x, y = cell_xy(cell)
    key = F.lit(0).cast("long")
    for b in range(res):
        key = key + F.shiftleft(
            F.shiftright(x, b) % 2, 2 * b + 1
        ) + F.shiftleft(F.shiftright(y, b) % 2, 2 * b)
    return key


def quadkey_key(cell: Column, res: int) -> Column:
    """Quadkey tile-address STRING (the Bing-maps base-4 scheme applied to
    this engine's equirectangular grid): ``res`` digits MSB-first, digit =
    x_bit + 2*y_bit. The defining property (pinned in tests/test_layout):
    a parent cell's quadkey is every descendant's PREFIX, so prefix
    matching = spatial containment — the string-keyed sharding twin of
    ``morton_key`` for stores whose range scans are lexicographic
    (HBase/Bigtable row keys, S3 prefixes, Elasticsearch terms). Pure
    column arithmetic, no UDF."""
    x, y = cell_xy(cell)
    digits = [
        (F.shiftright(x, b) % 2 + (F.shiftright(y, b) % 2) * 2).cast("string")
        for b in range(res - 1, -1, -1)
    ]
    return F.concat(*digits)


def quadkey_key_sql(cell_expr: str, res: int) -> str:
    """DuckDB twin of `quadkey_key` — same digits via //, % and ||."""
    x = f"((({cell_expr}) % {1 << _R_SHIFT}) // {1 << _X_SHIFT})"
    y = f"(({cell_expr}) % {1 << _X_SHIFT})"
    digits = [
        f"CAST(((({x}) // {1 << b}) % 2) + 2 * ((({y}) // {1 << b}) % 2)"
        f" AS VARCHAR)"
        for b in range(res - 1, -1, -1)
    ]
    return "(" + " || ".join(digits) + ")"


def hilbert_d_py(x: int, y: int, res: int) -> int:
    """Reference Hilbert xy -> d (public-spec algorithm) for tests."""
    rx = ry = 0
    d = 0
    s = 1 << (res - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s >>= 1
    return d


def hilbert_key(cell: Column, res: int) -> Column:
    """Hilbert-curve distance of the cell — the S2-style space-filling sort
    key. Better locality than Morton (no quadrant jumps), so neighboring
    cells land in neighboring Parquet row groups.

    The 12-level bit transform mutates (x, y) each level, which explodes a
    pure column-expression tree (~3^res nodes) — so this one runs as a
    vectorized Arrow UDF over NumPy int64 arrays; it is used on write paths
    (clustering), never in per-query hot loops."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    # note: no type hints — `from __future__ import annotations` stringifies
    # them and the UDF inferencer can't resolve the local pd import
    @pandas_udf(T.LongType())
    def _hilbert(cells_s):
        c = cells_s.to_numpy(dtype=np.int64)
        rem = c % (1 << _R_SHIFT)
        x = rem >> _X_SHIFT
        y = rem % (1 << _X_SHIFT)
        d = np.zeros_like(x)
        s = np.int64(1 << (res - 1))
        while s > 0:
            rx = ((x & s) > 0).astype(np.int64)
            ry = ((y & s) > 0).astype(np.int64)
            d += s * s * ((3 * rx) ^ ry)
            flip = (ry == 0) & (rx == 1)
            x = np.where(flip, s - 1 - x, x)
            y = np.where(flip, s - 1 - y, y)
            swap = ry == 0
            x, y = np.where(swap, y, x), np.where(swap, x, y)
            s >>= 1
        return pd.Series(d)

    return _hilbert(cell)


def cell_id_sql(lon_expr: str, lat_expr: str, res: int = DEFAULT_RES) -> str:
    """The identical encoding as an ANSI-SQL snippet (DuckDB oracle parity)."""
    n = _grid_n(res)
    x = f"greatest(0, least({n - 1}, CAST(floor(({lon_expr} + 180.0) / 360.0 * {n}.0) AS BIGINT)))"
    y = f"greatest(0, least({n - 1}, CAST(floor(({lat_expr} + 90.0) / 180.0 * {n}.0) AS BIGINT)))"
    return f"(CAST({res} AS BIGINT) * {1 << _R_SHIFT} + {x} * {1 << _X_SHIFT} + {y})"


def morton_key_sql(cell_expr: str, res: int) -> str:
    """DuckDB twin of `morton_key`: the same interleave via //, % and *
    (no engine-specific bit ops)."""
    x = f"(({cell_expr}) % {1 << _R_SHIFT}) // {1 << _X_SHIFT}"
    y = f"(({cell_expr}) % {1 << _X_SHIFT})"
    terms = [
        f"((({x}) // {1 << b}) % 2) * {1 << (2 * b + 1)}"
        f" + ((({y}) // {1 << b}) % 2) * {1 << (2 * b)}"
        for b in range(res)
    ]
    return "(" + " + ".join(terms) + ")"


def hilbert_cte_sql(source_sql: str, res: int, cols: str = "cell_id") -> str:
    """DuckDB twin of `hilbert_key`: the per-level (x, y) state mutation is
    unrolled into one chained CTE per level with uniquely-suffixed column
    names (no lateral alias ambiguity). ``source_sql`` must yield columns
    ``{cols}, x0, y0``; the result exposes ``{cols}, hilbert``.

    Level arithmetic mirrors hilbert_d_py exactly: rx/ry test the s-bit of
    x/y with a two's-complement bitwise AND — NOT (v // s) % 2, because the
    s−1−x rotation drives intermediate coordinates negative and the kernel
    then bit-tests those negatives; the quadrant digit (3·rx) XOR ry is
    CASE-expanded to {ry, 3−ry}, and flip-then-swap becomes two nested
    CASEs."""
    parts = [f"h0 AS ({source_sql})"]
    k = 0
    for level in range(res):
        s = 1 << (res - 1 - level)
        x, y = f"x{k}", f"y{k}"
        rx = f"(CASE WHEN (({x}) & {s}) != 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (({y}) & {s}) != 0 THEN 1 ELSE 0 END)"
        d_term = f"{s * s} * (CASE WHEN {rx} = 0 THEN {ry} ELSE 3 - ({ry}) END)"
        d_prev = f"d{k}" if k else "0"
        nx = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - {y} ELSE {y} END) "
            f"ELSE {x} END"
        )
        ny = (
            f"CASE WHEN {ry} = 0 THEN "
            f"(CASE WHEN {rx} = 1 THEN {s - 1} - {x} ELSE {x} END) "
            f"ELSE {y} END"
        )
        parts.append(
            f"h{k + 1} AS (SELECT {cols}, {nx} AS x{k + 1}, {ny} AS y{k + 1}, "
            f"{d_prev} + {d_term} AS d{k + 1} FROM h{k})"
        )
        k += 1
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT {cols}, d{k} AS hilbert FROM h{k}"
    )


def cell_res_py(cell: int) -> int:
    return cell >> _R_SHIFT


def compact_cells_py(
    rows: list[tuple[int, int]], res: int
) -> list[tuple[int, int]]:
    """Compact a per-polygon cell set (H3 ``compactCells`` analogue): any 4
    sibling cells carried by the same polygon collapse to their parent,
    applied bottom-up until fixpoint. Input rows are (cell_id, poly_id)
    all at ``res``; output is a mixed-resolution antichain per polygon
    covering exactly the same area.

    Scale rationale: an interior covering holds ~area/cell_area cells, but
    its compacted form holds ~O(perimeter/cell_width) — for a country-sized
    polygon at res 10+ that is orders of magnitude fewer broadcast rows.
    Consumers probe each resolution present (see point_in_polygon_join's
    ``compact_interior``); per polygon at most ONE compacted cell can
    contain a given point (antichain), so join multiplicity is unchanged."""
    cur: set[tuple[int, int]] = {(int(c), int(p)) for c, p in rows}
    out: list[tuple[int, int]] = []
    for r in range(res, 0, -1):
        level = [(c, p) for c, p in cur if cell_res_py(c) == r]
        rest = cur - set(level)
        promoted: dict[tuple[int, int], int] = {}
        for c, p in level:
            x = (c >> _X_SHIFT) & ((1 << (_R_SHIFT - _X_SHIFT)) - 1)
            y = c & ((1 << _X_SHIFT) - 1)
            key = (pack_cell_py(r - 1, x >> 1, y >> 1), p)
            promoted[key] = promoted.get(key, 0) + 1
        keep: set[tuple[int, int]] = set()
        for (pc, p), n in promoted.items():
            if n == 4:
                rest.add((pc, p))
            else:
                px = (pc >> _X_SHIFT) & ((1 << (_R_SHIFT - _X_SHIFT)) - 1)
                py = pc & ((1 << _X_SHIFT) - 1)
                for dx in (0, 1):
                    for dy in (0, 1):
                        cand = (pack_cell_py(r, (px << 1) + dx, (py << 1) + dy), p)
                        if cand in cur:
                            keep.add(cand)
        cur = rest | keep
        if not any(cell_res_py(c) == r - 1 for c, _ in cur):
            break
    out = sorted(cur)
    return out


# ----------------------------------------------------------------- geohash

_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_key(lon: Column, lat: Column, precision: int = 6) -> Column:
    """Standard public GEOHASH string (base-32, lon bit first) as PURE
    column arithmetic — the third cell scheme next to the flat grid and
    the sphere grid, added for ecosystem compatibility: geohash prefixes
    are the de-facto write-clustering / shard key in Elasticsearch, Redis
    and many tile stores, so emitting them lets this engine's outputs
    co-locate with existing geo corpora.

    Bit t (0 = MSB) of the 5*precision-bit stream is a longitude bit for
    even t, latitude for odd t; each 5-bit group indexes the base-32
    alphabet. Everything is floor/div/mod arithmetic on the two quantized
    integers — codegen-able, and the SQL twin (geohash_key_sql) replays it
    digit for digit."""
    assert 1 <= precision <= 12
    total = 5 * precision
    lonbits = (total + 1) // 2
    latbits = total // 2
    ix = (
        F.greatest(
            F.lit(0),
            F.least(
                F.lit((1 << lonbits) - 1),
                F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(1 << lonbits))),
            ),
        )
    ).cast("long")
    iy = (
        F.greatest(
            F.lit(0),
            F.least(
                F.lit((1 << latbits) - 1),
                F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(1 << latbits))),
            ),
        )
    ).cast("long")
    alphabet = F.array(*[F.lit(c) for c in _GEOHASH32])
    chars = []
    for k in range(precision):
        val: Column = F.lit(0)
        for j in range(5):
            t = 5 * k + j
            if t % 2 == 0:  # longitude bit, position t//2 from the MSB
                shift = lonbits - 1 - t // 2
                bit = F.shiftright(ix, shift) % 2
            else:
                shift = latbits - 1 - t // 2
                bit = F.shiftright(iy, shift) % 2
            val = val + bit * F.lit(1 << (4 - j))
        chars.append(F.element_at(alphabet, (val + 1).cast("int")))
    return F.concat(*chars)


def geohash_key_sql(lon_expr: str, lat_expr: str, precision: int = 6) -> str:
    """DuckDB twin of geohash_key — identical quantization and bit
    arithmetic via //, %."""
    total = 5 * precision
    lonbits = (total + 1) // 2
    latbits = total // 2
    ix = (
        f"greatest(0, least({(1 << lonbits) - 1}, CAST(floor(({lon_expr} + 180.0)"
        f" / 360.0 * {float(1 << lonbits)}) AS BIGINT)))"
    )
    iy = (
        f"greatest(0, least({(1 << latbits) - 1}, CAST(floor(({lat_expr} + 90.0)"
        f" / 180.0 * {float(1 << latbits)}) AS BIGINT)))"
    )
    chars = []
    for k in range(precision):
        terms = []
        for j in range(5):
            t = 5 * k + j
            if t % 2 == 0:
                shift = lonbits - 1 - t // 2
                terms.append(f"((_gh_ix // {1 << shift}) % 2) * {1 << (4 - j)}")
            else:
                shift = latbits - 1 - t // 2
                terms.append(f"((_gh_iy // {1 << shift}) % 2) * {1 << (4 - j)}")
        chars.append(f"substr('{_GEOHASH32}', CAST({' + '.join(terms)} AS INTEGER) + 1, 1)")
    concat = " || ".join(chars)
    return (
        f"(SELECT {concat} FROM (SELECT {ix} AS _gh_ix, {iy} AS _gh_iy) _gh)"
    )


def adaptive_cells(
    points: DataFrame,
    cap: int,
    res_min: int,
    res_max: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_decision: bool = True,
) -> DataFrame:
    """QUADTREE-STYLE ADAPTIVE BINNING — every point is assigned its
    COARSEST ancestor cell in [res_min, res_max] whose total point count
    is <= ``cap`` (or its res_max cell when even that is overfull): the
    adaptive spatial histogram / load-balanced partition map (dense
    cities split fine, oceans stay coarse — the classic quadtree split
    rule, which this reproduces exactly because counts are monotone down
    the hierarchy: a cell is the split frontier iff every coarser
    ancestor is overfull and it is not).

    Returns the input columns + (cell_id, res) of the assigned cell.

    Exactness: the res_max cell is computed ONCE from the coordinates;
    every coarser ancestor derives from it by integer shifts
    (parent_cell), never by re-flooring scaled doubles — so engines
    cannot disagree at cell boundaries through double rounding, and the
    SQL twin replays the identical integer walk.

    Scale: ONE count shuffle at res_max (map-side combinable), then the
    per-level rollups and the decision table are CELL-level relations
    (|distinct cells|, collapsing 4x per level) — points are touched
    again only by the final single equi-join on their res_max cell. At
    10^12 points that is two point-sized shuffles total, independent of
    the level count."""
    assert res_min <= res_max
    pts = points.withColumn(
        "_cmax", cell_id(F.col(lon_col), F.col(lat_col), res_max)
    )
    # materialize the res_max counts ONCE: every level rollup and the
    # decision table derive from this cell-level relation — without the
    # checkpoint each of the (res_max - res_min) branches re-scans the
    # point source and repeats the count shuffle (measured 6x slower)
    counts = (
        pts.groupBy("_cmax")
        .agg(F.count(F.lit(1)).alias(f"_n{res_max}"))
        .localCheckpoint(eager=False)
    )
    # decision table: per distinct res_max cell, the count of every
    # ancestor level (cell-level rollups, 4x smaller per step up)
    dec = counts
    lvl = counts.select(
        F.col("_cmax").alias("_c"), F.col(f"_n{res_max}").alias("_n")
    )
    for r in range(res_max - 1, res_min - 1, -1):
        lvl = (
            lvl.select(parent_cell(F.col("_c"), r + 1, r).alias("_c"), "_n")
            .groupBy("_c")
            .agg(F.sum("_n").alias("_n"))
        )
        dec = dec.join(
            lvl.select(
                F.col("_c").alias(f"_a{r}"), F.col("_n").alias(f"_n{r}")
            ),
            parent_cell(F.col("_cmax"), res_max, r) == F.col(f"_a{r}"),
        ).drop(f"_a{r}")
    # coarsest level with count <= cap wins; res_max is the fallback
    final_res = F.lit(res_max)
    final_cell = F.col("_cmax")
    for r in range(res_max - 1, res_min - 1, -1):
        hit = F.col(f"_n{r}") <= F.lit(cap)
        final_res = F.when(hit, F.lit(r)).otherwise(final_res)
        final_cell = F.when(
            hit, parent_cell(F.col("_cmax"), res_max, r)
        ).otherwise(final_cell)
    dec = dec.select(
        "_cmax",
        final_cell.alias("cell_id"),
        final_res.cast("int").alias("res"),
    )
    # the decision table has one row per DISTINCT res_max cell — broadcast
    # while that fits (4^res_max worst case; real corpora are far sparser);
    # set False to take the cell-keyed shuffle join at extreme res_max
    dec = F.broadcast(dec) if broadcast_decision else dec
    return pts.join(dec, "_cmax").drop("_cmax")


def adaptive_cells_sql(
    points_cte: str, cap: int, res_min: int, res_max: int
) -> str:
    """DuckDB twin of adaptive_cells: cell at res_max once via
    cell_id_sql, ancestors by integer // shifts, per-level counts as
    window sums over the ancestor key, coarsest-fit CASE chain.
    ``points_cte`` must yield (lon, lat)."""
    cmax = cell_id_sql("lon", "lat", res_max)
    xs = f"((_cmax % {1 << _R_SHIFT}) // {1 << _X_SHIFT})"
    ys = f"(_cmax % {1 << _X_SHIFT})"

    def anc(r: int) -> str:
        d = 1 << (res_max - r)
        return (
            f"(CAST({r} AS BIGINT) * {1 << _R_SHIFT}"
            f" + ({xs} // {d}) * {1 << _X_SHIFT} + {ys} // {d})"
        )

    ancestor_cols = ", ".join(
        f"{anc(r)} AS _a{r}" for r in range(res_min, res_max)
    )
    count_cols = ", ".join(
        f"CAST(sum(1) OVER (PARTITION BY _a{r}) AS BIGINT) AS _n{r}"
        for r in range(res_min, res_max)
    )
    case_cell = "CASE "
    case_res = "CASE "
    for r in range(res_min, res_max):
        case_cell += f"WHEN _n{r} <= {cap} THEN _a{r} "
        case_res += f"WHEN _n{r} <= {cap} THEN {r} "
    case_cell += "ELSE _cmax END"
    case_res += f"ELSE {res_max} END"
    sep = ", " if ancestor_cols else ""
    return f"""
WITH p AS ({points_cte}),
pc AS (SELECT lon, lat, {cmax} AS _cmax FROM p),
pa AS (SELECT lon, lat, _cmax{sep}{ancestor_cols} FROM pc),
pn AS (SELECT *, {count_cols} FROM pa)
SELECT lon, lat, {case_cell} AS cell_id, CAST({case_res} AS INTEGER) AS res
FROM pn
"""


def kanon_cells(
    points: DataFrame,
    k: int,
    res_min: int,
    res_max: int,
    lon_col: str = "lon",
    lat_col: str = "lat",
    broadcast_decision: bool = True,
) -> DataFrame:
    """K-ANONYMITY SPATIAL PUBLISHING with hierarchical RESIDUAL
    suppression — the coarsen-until-anonymous rule behind privacy-
    preserving location releases (mobility reports, census small-area
    suppression), done right: a point is published at the finest cell
    whose RESIDUAL population (points not already published at a finer
    level) reaches ``k``; residuals below k carry UP to the parent, and
    whatever is still below k at res_min is suppressed.

    The residual rule is the load-bearing part. The naive "finest
    ancestor with total count >= k" leaks: a cell with 6 points of which
    5 sit in one anonymous child publishes that child at the fine level
    and strands ONE point alone at the parent — a published group of
    size 1. Carrying residuals instead guarantees every distinct
    published (cell_id, res) group has >= k members (pinned in tests).

    Returns the input columns + (cell_id, res, suppressed); cell_id/res
    NULL when suppressed. The dual of ``adaptive_cells`` (cap above vs
    floor below), sharing its exactness rule: the res_max cell is
    computed once from the coordinates, every ancestor derives by
    integer shifts — no re-floored doubles, so the SQL twin replays the
    identical integer walk.

    Scale: ONE map-side-combinable count shuffle at res_max; the
    publish/carry recursion runs on cell-level relations (4x smaller per
    level, res_max - res_min joins of tiny tables); points are touched
    again only by the final equi-join on their res_max cell against the
    broadcast decision table. Two point-sized shuffles total."""
    assert res_min <= res_max
    pts = points.withColumn(
        "_cmax", cell_id(F.col(lon_col), F.col(lat_col), res_max)
    )
    counts = (
        pts.groupBy("_cmax")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)  # every level derives from it
    )
    # bottom-up publish/carry over cell-level relations: lvl holds the
    # RESIDUAL count per cell at resolution r
    dec = counts.select("_cmax")
    lvl = counts.select(F.col("_cmax").alias("_c"), F.col("_n").alias("_resid"))
    for r in range(res_max, res_min - 1, -1):
        pub_r = lvl.filter(F.col("_resid") >= k).select(
            F.col("_c").alias(f"_p{r}"), F.lit(True).alias(f"_pub{r}")
        )
        anc = (
            F.col("_cmax") if r == res_max
            else parent_cell(F.col("_cmax"), res_max, r)
        )
        dec = dec.join(pub_r, anc == F.col(f"_p{r}"), "left").drop(f"_p{r}")
        if r > res_min:
            lvl = (
                lvl.filter(F.col("_resid") < k)
                .select(
                    parent_cell(F.col("_c"), r, r - 1).alias("_c"), "_resid"
                )
                .groupBy("_c")
                .agg(F.sum("_resid").alias("_resid"))
            )
    # finest published ancestor wins (built coarse -> fine so the
    # outermost WHEN — res_max — is tried first); none -> suppressed
    final_cell = F.lit(None).cast("long")
    final_res = F.lit(None).cast("int")
    for r in range(res_min, res_max + 1):
        hit = F.col(f"_pub{r}").isNotNull()
        cell_r = (
            F.col("_cmax") if r == res_max
            else parent_cell(F.col("_cmax"), res_max, r)
        )
        final_cell = F.when(hit, cell_r).otherwise(final_cell)
        final_res = F.when(hit, F.lit(r)).otherwise(final_res)
    dec = dec.select(
        "_cmax",
        final_cell.alias("cell_id"),
        final_res.cast("int").alias("res"),
        final_res.isNull().alias("suppressed"),
    )
    dec = F.broadcast(dec) if broadcast_decision else dec
    return pts.join(dec, "_cmax").drop("_cmax")


def kanon_cells_sql(points_cte: str, k: int, res_min: int, res_max: int) -> str:
    """DuckDB twin of kanon_cells — ancestors by // shifts, the same
    bottom-up publish/carry recursion unrolled as sequential CTEs with
    per-level filtered window sums. ``points_cte`` must yield (lon, lat)."""
    cmax = cell_id_sql("lon", "lat", res_max)
    xs = f"((_cmax % {1 << _R_SHIFT}) // {1 << _X_SHIFT})"
    ys = f"(_cmax % {1 << _X_SHIFT})"

    def anc(r: int) -> str:
        if r == res_max:
            return "_cmax"
        d = 1 << (res_max - r)
        return (
            f"(CAST({r} AS BIGINT) * {1 << _R_SHIFT}"
            f" + ({xs} // {d}) * {1 << _X_SHIFT} + {ys} // {d})"
        )

    ancestor_cols = "".join(
        f", {anc(r)} AS _a{r}" for r in range(res_min, res_max)
    )
    # level res_max: residual = the plain cell count
    ctes = [
        f"pc AS (SELECT lon, lat, {cmax} AS _cmax{ancestor_cols} FROM p)",
        f"l{res_max} AS (SELECT *, "
        f"CAST(sum(1) OVER (PARTITION BY _cmax) AS BIGINT) >= {k}"
        f" AS _pub{res_max} FROM pc)",
    ]
    finer: list[int] = [res_max]
    for r in range(res_max - 1, res_min - 1, -1):
        not_finer = " AND ".join(f"NOT _pub{f}" for f in finer)
        ctes.append(
            f"l{r} AS (SELECT *, coalesce(CAST(sum(CASE WHEN {not_finer}"
            f" THEN 1 ELSE 0 END) OVER (PARTITION BY _a{r}) AS BIGINT), 0)"
            f" >= {k} AS _pub{r} FROM l{r + 1})"
        )
        finer.append(r)
    case_cell = "CASE "
    case_res = "CASE "
    for r in range(res_max, res_min - 1, -1):
        prev = "".join(f"NOT _pub{f} AND " for f in range(res_max, r, -1))
        case_cell += f"WHEN {prev}_pub{r} THEN {anc(r)} "
        case_res += f"WHEN {prev}_pub{r} THEN {r} "
    case_cell += "ELSE NULL END"
    case_res += "ELSE NULL END"
    body = ",\n".join(ctes)
    return f"""
WITH p AS ({points_cte}),
{body}
SELECT lon, lat, {case_cell} AS cell_id,
       CAST({case_res} AS INTEGER) AS res,
       ({case_res}) IS NULL AS suppressed
FROM l{res_min}
"""


# --- hexagonal binning (pointy-top axial grid, the H3/hexbin analogue) ---

_HEX_OFF = 1 << 28  # axial coords packed biased into one int64


def _hex_round_exprs(x, y, size: float):
    """Shared axial fractional coords + cube rounding, expressed with the
    exact op sequence both engines replay. ``floor(v + 0.5)`` stands in
    for round() so no rounding-MODE ambiguity exists (half always rounds
    up, identically in Spark and DuckDB). Returns (q, r) integer Columns.

    Pointy-top axial mapping (Red Blob Games' canonical formulas):
        qf = (sqrt(3)/3 * x - 1/3 * y) / size
        rf = (2/3 * y) / size
    then cube-round (q + r + s = 0 with the largest-error component
    recomputed from the other two)."""
    s3 = math.sqrt(3.0)
    qf = (F.lit(s3 / 3.0) * x - F.lit(1.0 / 3.0) * y) / F.lit(float(size))
    rf = (F.lit(2.0 / 3.0) * y) / F.lit(float(size))
    sf = -qf - rf
    rq = F.floor(qf + F.lit(0.5))
    rr = F.floor(rf + F.lit(0.5))
    rs = F.floor(sf + F.lit(0.5))
    dq = F.abs(rq.cast("double") - qf)
    dr = F.abs(rr.cast("double") - rf)
    ds = F.abs(rs.cast("double") - sf)
    q = F.when((dq > dr) & (dq > ds), -rr - rs).otherwise(rq)
    r = F.when(
        ~((dq > dr) & (dq > ds)) & (dr > ds), -rq - rs
    ).otherwise(rr)
    return q.cast("long"), r.cast("long")


def hex_cell(lon: Column, lat: Column, size_deg: float) -> Column:
    """HEXAGONAL BIN ID — pointy-top hexagonal tessellation of the
    lon/lat plane with circumradius ``size_deg`` degrees, the hexbin /
    H3-style layout that complements the square (cell_id), geohash,
    quadkey and cube-sphere families: hexes have uniform center-to-center
    distance to all 6 neighbors (squares: 2 distances over 8), which is
    why density viz and movement models prefer them.

    Axial (q, r) from the canonical fractional mapping + cube rounding;
    both biased by 2^28 and packed q * 2^30 + r into one int64 (valid for
    |q|, |r| < 2^28 — any size_deg >= ~1e-6). Pure column arithmetic
    (codegen), no UDF; ``hex_cell_sql`` replays the identical op
    sequence, including floor(v + 0.5) in place of round() so no
    rounding-mode ambiguity exists."""
    q, r = _hex_round_exprs(lon, lat, size_deg)
    return (q + F.lit(_HEX_OFF)) * F.lit(1 << 30) + (r + F.lit(_HEX_OFF))


def hex_qr(cell: Column) -> tuple[Column, Column]:
    """Unpack a hex_cell id back to axial (q, r)."""
    return (
        F.shiftright(cell, 30) - F.lit(_HEX_OFF),
        cell % F.lit(1 << 30) - F.lit(_HEX_OFF),
    )


def hex_center(cell: Column, size_deg: float) -> tuple[Column, Column]:
    """Hex center (lon, lat) of a hex_cell id — the inverse axial map."""
    q, r = hex_qr(cell)
    s3 = math.sqrt(3.0)
    lon = F.lit(float(size_deg)) * (
        F.lit(s3) * q.cast("double") + F.lit(s3 / 2.0) * r.cast("double")
    )
    lat = F.lit(float(size_deg)) * (F.lit(1.5) * r.cast("double"))
    return lon, lat


def hex_cell_sql(lon: str, lat: str, size_deg: float) -> str:
    """DuckDB twin of hex_cell — same fractional mapping, same
    floor(v + 0.5) cube rounding, same packing."""
    s3 = math.sqrt(3.0)
    qf = f"(({s3 / 3.0!r} * {lon} - {1.0 / 3.0!r} * {lat}) / {float(size_deg)!r})"
    rf = f"(({2.0 / 3.0!r} * {lat}) / {float(size_deg)!r})"
    sf = f"(-{qf} - {rf})"
    rq = f"floor({qf} + 0.5)"
    rr = f"floor({rf} + 0.5)"
    rs = f"floor({sf} + 0.5)"
    dq = f"abs({rq} - {qf})"
    dr = f"abs({rr} - {rf})"
    ds = f"abs({rs} - {sf})"
    big_q = f"({dq} > {dr} AND {dq} > {ds})"
    q = f"(CASE WHEN {big_q} THEN -{rr} - {rs} ELSE {rq} END)"
    r = (
        f"(CASE WHEN NOT {big_q} AND {dr} > {ds}"
        f" THEN -{rq} - {rs} ELSE {rr} END)"
    )
    return (
        f"((CAST({q} AS BIGINT) + {_HEX_OFF}) * {1 << 30}"
        f" + (CAST({r} AS BIGINT) + {_HEX_OFF}))"
    )


def dirty_pyramid(
    changed: DataFrame,
    base_res: int,
    min_res: int,
    cell_col: str = "cell_id",
) -> DataFrame:
    """INCREMENTAL PYRAMID INVALIDATION — the minimal DISTINCT set of
    pyramid tiles that must be recomputed after a batch of base-cell
    changes: every ancestor of a changed cell at each level in
    [min_res, base_res]. This is the planning step of an incremental
    tile refresh (the alternative to re-running tile_pyramid over the
    whole table when 0.01% of cells changed).

    Returns (level, tile) distinct rows; join against the tile store to
    drive the rewrite, or aggregate per level for a change budget.

    Ancestors are derived by INTEGER SHIFTS of the packed x/y (never
    re-floored doubles), so a tile id here is bit-identical to what
    cell_id/parent_cell produce at that level. One explode (levels per
    changed row) + ONE hash-aggregate shuffle for the distinct; the
    volume collapses geometrically at coarse levels and partial
    aggregation dedups map-side, so the shuffle carries ~|changed
    cells| rows, not |changed| * levels."""
    assert RES_MIN <= min_res <= base_res <= RES_MAX
    arr = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("level"),
                parent_cell(F.col("_c"), base_res, r).alias("tile"),
            )
            for r in range(min_res, base_res + 1)
        ]
    )
    return (
        changed.select(F.col(cell_col).alias("_c"))
        .select(F.explode(arr).alias("e"))
        .select("e.level", "e.tile")
        .distinct()
    )


def hilbert_ranges(
    spark,
    lon0: float,
    lat0: float,
    lon1: float,
    lat1: float,
    res: int = DEFAULT_RES,
):
    """(key_lo, key_hi, n_cells) — HILBERT RANGE PLANNING: the minimal
    set of CONTIGUOUS Hilbert-key intervals covering a bbox at ``res``.
    This is how a spatial predicate becomes a manifest/row-group
    key-range scan on a Hilbert-clustered table (q_hilbert_layout's
    write layout): each output row is one contiguous key interval, so a
    reader issues |ranges| range scans instead of |cells| point lookups
    — the S2/Z-order "coverings to scan ranges" planning primitive.

    Exactness: the bbox corners quantize with the SAME clamp-floor
    formula as cell_id (driver-side scalars — the bbox is a literal);
    keys come from the shared Hilbert kernel; islands are the classic
    key − row_number() constant-run trick — all integer.

    Scale: the covering is PLANNER metadata (bounded by the bbox at the
    chosen res, never data-sized), so the global-order window over it
    is deliberate and cheap; the ranges then drive partition pruning on
    the data-sized table."""
    n = _grid_n(res)

    def qx(lon):
        return max(0, min(n - 1, int(math.floor((lon + 180.0) / 360.0 * n))))

    def qy(lat):
        return max(0, min(n - 1, int(math.floor((lat + 90.0) / 180.0 * n))))

    x0, x1 = qx(lon0), qx(lon1)
    y0, y1 = qy(lat0), qy(lat1)
    h = y1 - y0 + 1
    cells_df = spark.range((x1 - x0 + 1) * h).select(
        (
            F.lit(res) * (1 << _R_SHIFT)
            + (F.lit(x0) + F.expr(f"id DIV {h}")) * (1 << _X_SHIFT)
            + (F.lit(y0) + F.col("id") % h)
        ).alias("cell_id")
    )
    keyed = cells_df.select(hilbert_key(F.col("cell_id"), res).alias("key"))
    w = Window.orderBy(F.col("key").asc())
    isl = keyed.withColumn(
        "_isl", F.col("key") - F.row_number().over(w)
    )
    return (
        isl.groupBy("_isl")
        .agg(
            F.min("key").cast("long").alias("key_lo"),
            F.max("key").cast("long").alias("key_hi"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
        .drop("_isl")
    )


def hilbert_ranges_sql(
    lon0: float, lat0: float, lon1: float, lat1: float, res: int = DEFAULT_RES
) -> str:
    """DuckDB twin of hilbert_ranges — same driver-side quantization,
    the unrolled Hilbert CTE chain, identical island trick."""
    n = _grid_n(res)

    def qx(lon):
        return max(0, min(n - 1, int(math.floor((lon + 180.0) / 360.0 * n))))

    def qy(lat):
        return max(0, min(n - 1, int(math.floor((lat + 90.0) / 180.0 * n))))

    x0, x1 = qx(lon0), qx(lon1)
    y0, y1 = qy(lat0), qy(lat1)
    h = y1 - y0 + 1
    total = (x1 - x0 + 1) * h
    src = f"""
SELECT CAST({res} AS BIGINT) * {1 << _R_SHIFT}
         + ({x0} + i // {h}) * {1 << _X_SHIFT} + ({y0} + i % {h}) AS cell_id,
       {x0} + i // {h} AS x0, {y0} + i % {h} AS y0
FROM (SELECT unnest(range(0, {total})) AS i)
"""
    body = hilbert_cte_sql(src, res, cols="cell_id")
    return f"""
WITH hr AS ({body}),
hr_isl AS (
  SELECT hilbert AS key,
         hilbert - row_number() OVER (ORDER BY hilbert ASC) AS isl
  FROM hr
)
SELECT CAST(min(key) AS BIGINT) AS key_lo,
       CAST(max(key) AS BIGINT) AS key_hi,
       CAST(count(*) AS BIGINT) AS n_cells
FROM hr_isl GROUP BY isl
"""


def cell_buffer(
    boxes: DataFrame,
    res: int,
    k: int = 1,
    id_col: str = "poly_id",
    bbox_cols: tuple = ("min_lon", "min_lat", "max_lon", "max_lat"),
) -> DataFrame:
    """(poly_id, cell_id, is_core) — GRID BUFFER by k-ring dilation:
    every cell within Chebyshev distance k of a footprint's covering,
    flagged core (in the covering itself) vs halo (added by the
    buffer). The scale-path analogue of ST_Buffer for join expansion —
    "match points NEAR this polygon, not only inside it" — at cell
    resolution instead of exact geometry (the engine's uniform
    tradeoff: buffer the covering, refine exactly inside the join
    kernel, cf. within_distance_join which buffers per-point disks).

    Pure integer cell algebra (covering_cells block → per-cell k_ring →
    distinct): morphological DILATION on the cell grid, x wrapping at
    the antimeridian, y clamped at the poles. The DuckDB twin
    deliberately uses the OTHER formulation — a k-expanded bbox range
    product (dilation of a rectangle block IS the expanded rectangle)
    — so the engines agree through independent derivations, the
    skyline two-formulations discipline.

    Scale: explode(covering) × (2k+1)² candidate cells per footprint
    before the distinct; keep res coarse enough that coverings stay
    ≤ ~4k cells (the covering_cells contract). One distinct shuffle;
    the is_core flag is a leftsemi-shaped join on (poly, cell)."""
    lon0, lat0, lon1, lat1 = (F.col(c) for c in bbox_cols)
    core = boxes.select(
        F.col(id_col).alias("poly_id"),
        F.explode(covering_cells(lon0, lat0, lon1, lat1, res)).alias(
            "cell_id"
        ),
    ).distinct()
    dilated = (
        core.select(
            "poly_id",
            F.explode(k_ring(F.col("cell_id"), res, k)).alias("cell_id"),
        )
        .distinct()
    )
    return (
        dilated.join(
            core.withColumn("_core", F.lit(True)), ["poly_id", "cell_id"], "left"
        )
        .select(
            "poly_id",
            "cell_id",
            F.coalesce(F.col("_core"), F.lit(False)).alias("is_core"),
        )
    )


def cell_buffer_sql(
    boxes_cte: str,
    res: int,
    k: int = 1,
) -> str:
    """DuckDB twin of cell_buffer via the expanded-rectangle identity
    (dilating a [x0..x1]×[y0..y1] block by Chebyshev k is the
    [x0−k..x1+k]×[clamp(y0−k)..clamp(y1+k)] block, x wrapped mod n).
    ``boxes_cte`` -> (poly_id, min_lon, min_lat, max_lon, max_lat),
    boxes not antimeridian-crossing (min_lon <= max_lon)."""
    n = _grid_n(res)
    cx = (
        lambda e: f"greatest(0, least({n - 1},"
        f" CAST(floor(({e} + 180.0) / 360.0 * {n}.0) AS BIGINT)))"
    )
    cy = (
        lambda e: f"greatest(0, least({n - 1},"
        f" CAST(floor(({e} + 90.0) / 180.0 * {n}.0) AS BIGINT)))"
    )
    return f"""
WITH cb_src AS ({boxes_cte}),
cb_rng AS (
  SELECT poly_id,
         {cx('min_lon')} AS x0, {cx('max_lon')} AS x1,
         {cy('min_lat')} AS y0, {cy('max_lat')} AS y1
  FROM cb_src
),
cb_cells AS (
  SELECT DISTINCT poly_id,
         ((xx % {n}) + {n}) % {n} AS x, yy AS y,
         (xx BETWEEN x0 AND x1) AND (yy BETWEEN y0 AND y1) AS is_core
  FROM cb_rng,
       unnest(range(x0 - {k}, x1 + {k} + 1)) AS ux(xx),
       unnest(range(greatest(0, y0 - {k}),
                    least({n - 1}, y1 + {k}) + 1)) AS uy(yy)
)
SELECT poly_id,
       CAST({res} AS BIGINT) * {1 << _R_SHIFT}
         + x * {1 << _X_SHIFT} + y AS cell_id,
       is_core
FROM cb_cells
"""
