"""Multimodal (image/video) column operators.

Media travels as opaque ``binary`` columns with typed metadata (w, h, fmt) —
exactly the input_hint payload shape. All processing is Arrow-batched
``mapInPandas``: schema, partitioning, UDF signature and batch shaping are
production-real; only external codecs are stubbed (the package depends on
no image library — see functions/imagecodec.decode_external), while the
'rawz' lossless codec path is fully implemented and tested.

Operators:
* decode_stats     — decode + per-image stats (mean/std/min/max)
* resize_images    — nearest-neighbor resize, re-encoded (rawz)
* histogram_features — 16-bin intensity histogram as array<double>
* dhash_features   — perceptual difference hash (64-bit), the image-dedup key
* augment_images   — deterministic augmentation (flips, rot90, center crop)
* tile_pyramid     — raster pyramid rollup (quadrant stitch + 2x2 avg pool)

Arrow batch sizing note: callers tune
``spark.sql.execution.arrow.maxRecordsPerBatch`` so bytes-batches stay
~64-128MB (SURVEY §4.2 #4).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import imagecodec


def decode_stats(images: DataFrame) -> DataFrame:
    """(image_id, w, h, px_sum, px_mean, px_std, px_min, px_max, decode_ok).

    ``px_sum``/``px_min``/``px_max`` are exact integers — the oracle-safe
    columns (no float rounding-mode ambiguity across engines)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.float64)
                    rows.append(
                        (
                            r.image_id,
                            int(r.w),
                            int(r.h),
                            int(px.sum()),
                            round(float(px.mean()), 6),
                            round(float(px.std()), 6),
                            int(px.min()),
                            int(px.max()),
                            True,
                        )
                    )
                except NotImplementedError:
                    rows.append(
                        (r.image_id, int(r.w), int(r.h), None, None, None, None, None, False)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "w", "h", "px_sum", "px_mean", "px_std",
                    "px_min", "px_max", "decode_ok",
                ],
            )

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, w int, h int, px_sum long, px_mean double,"
            " px_std double, px_min long, px_max long, decode_ok boolean"
        ),
    )


def decode_gate(images: DataFrame, passthrough: list[str]) -> DataFrame:
    """(*passthrough, decode_ok): the fused decode-validity gate for
    pipelines that only need "did it decode" plus a few small key columns
    downstream (the flagship spatial job gates on decode_ok and keeps just
    ``phash``).

    Versus ``decode_stats`` + join-back-on-image_id this (a) sends NO
    string ids through the Arrow boundary in either direction — only the
    bytes in and the narrow passthrough columns out, (b) needs no second
    scan of the table and (c) no equi-join/shuffle to reunite the gate
    with the payload row — the per-row bytes cross the memory bus exactly
    once. On the 4-core-executor weak-scaling runs the removed join +
    string traffic is pure bus headroom (round-3 verdict ask #6)."""
    cols = list(passthrough)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ok = np.zeros(len(pdf), dtype=bool)
            fmts = pdf["fmt"].to_numpy()
            bufs = pdf["bytes"].to_numpy()
            for i in range(len(pdf)):
                try:
                    imagecodec.decode(bytes(bufs[i]), fmts[i])
                    ok[i] = True
                except NotImplementedError:
                    pass
            out = pdf[cols].copy()
            out["decode_ok"] = ok
            yield out

    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in images.select(*cols).schema.fields
    ) + ", decode_ok boolean"
    return images.select(*cols, "bytes", "fmt").mapInPandas(fn, schema=schema)


def extract_patches(
    images: DataFrame, patch: int, with_bytes: bool = True
) -> DataFrame:
    """PATCH EXTRACTION — ViT-style patchification for training-data prep:
    each image is cut into the non-overlapping ``patch`` x ``patch`` grid
    (row-major; ragged right/bottom edges are DROPPED — the standard
    crop-to-multiple convention) and every patch becomes its own row:

        (image_id, px_x, px_y, patch_w, patch_h, px_sum, px_min, px_max,
         n_patches, bytes?)

    with (px_x, px_y) the patch's grid position, exact-int stats pinning
    every pixel's routing into the right patch, ``n_patches`` the image's
    total patch count (so downstream samplers can weight per-image), and
    ``bytes`` the patch re-encoded lossless (rawz) ready to be shuffled /
    written as its own training example. Undecodable rows are dropped
    (gate upstream with decode_gate to account for them).

    Plan shape: ONE mapInPandas over the image table — decode, a single
    vectorized reshape/transpose (no per-pixel Python), per-patch
    reductions inside the batch. Output fan-out is (w//p)*(h//p) rows per
    image but each carries only patch-sized bytes: total bytes out <=
    bytes in. No shuffle at all — patch rows inherit the input
    partitioning; repartition downstream only if the training writer
    needs size-balanced files."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "image_id", "px_x", "px_y", "patch_w", "patch_h",
            "px_sum", "px_min", "px_max", "n_patches",
        ]
        if with_bytes:
            cols.append("bytes")
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                h, w = px.shape
                ny, nx = h // patch, w // patch
                if ny == 0 or nx == 0:
                    continue
                grid = (
                    px[: ny * patch, : nx * patch]
                    .reshape(ny, patch, nx, patch)
                    .transpose(0, 2, 1, 3)
                )  # (ny, nx, patch, patch)
                flat = grid.reshape(ny, nx, -1).astype(np.int64)
                sums = flat.sum(axis=2)
                mins = flat.min(axis=2)
                maxs = flat.max(axis=2)
                for gy in range(ny):
                    for gx in range(nx):
                        row = [
                            r.image_id, gx, gy, patch, patch,
                            int(sums[gy, gx]), int(mins[gy, gx]),
                            int(maxs[gy, gx]), int(ny * nx),
                        ]
                        if with_bytes:
                            row.append(
                                imagecodec.encode_rawz(
                                    np.ascontiguousarray(grid[gy, gx])
                                )
                            )
                        rows.append(tuple(row))
            yield pd.DataFrame(rows, columns=cols)

    schema = (
        "image_id string, px_x int, px_y int, patch_w int, patch_h int,"
        " px_sum long, px_min long, px_max long, n_patches long"
    )
    if with_bytes:
        schema += ", bytes binary"
    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        fn, schema=schema
    )


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize; output re-encoded rawz."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs = [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                ys = (np.arange(out_h) * px.shape[0] // out_h).clip(0, px.shape[0] - 1)
                xs = (np.arange(out_w) * px.shape[1] // out_w).clip(0, px.shape[1] - 1)
                ids.append(r.image_id)
                blobs.append(imagecodec.encode_rawz(px[np.ix_(ys, xs)]))
            yield pd.DataFrame(
                {"image_id": ids, "bytes": blobs, "w": out_w, "h": out_h, "fmt": "rawz"}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


def histogram_features(images: DataFrame, bins: int = 16) -> DataFrame:
    """(image_id, hist array<double>) — normalized intensity histogram, the
    feature-extraction stage a training pipeline would feed to an encoder."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        edges = np.linspace(0, 256, bins + 1)
        for pdf in it:
            ids, hists = [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                h, _ = np.histogram(px, bins=edges)
                hists.append((h / max(1, px.size)).round(6).tolist())
                ids.append(r.image_id)
            yield pd.DataFrame({"image_id": ids, "hist": hists})

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, hist array<double>"
    )


def sharpness_features(images: DataFrame) -> DataFrame:
    """(image_id, lap_energy, lap_count) — integer-exact Laplacian energy,
    the blur gate of an image-curation pipeline (low energy = blurry/flat).

    L(x, y) = 4*p(x,y) - p(x-1,y) - p(x+1,y) - p(x,y-1) - p(x,y+1) over
    interior pixels; ``lap_energy`` = sum(L^2) and ``lap_count`` =
    (w-2)*(h-2).  Everything stays int64 (|L| <= 1020 so each term
    <= ~1.04e6; a 4096x4096 image sums to < 2^54), so the score is exact on
    both engines and a DuckDB twin can recompute it from the deterministic
    pixel formula.  Arrow-batched mapInPandas; the vectorized NumPy stencil
    touches each pixel once and pixel bytes never shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, energies, counts = [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                c = px[1:-1, 1:-1]
                lap = 4 * c - px[:-2, 1:-1] - px[2:, 1:-1] - px[1:-1, :-2] - px[1:-1, 2:]
                ids.append(r.image_id)
                energies.append(int((lap * lap).sum()))
                counts.append(int(lap.size))
            yield pd.DataFrame(
                {"image_id": ids, "lap_energy": energies, "lap_count": counts}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, lap_energy long, lap_count long"
    )


def dhash_px(px: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    """dHash of one decoded pixel array (the shared kernel of
    dhash_features and streaming.streaming_image_dedup)."""
    weights = np.uint64(1) << np.arange(hash_w * hash_h, dtype=np.uint64)
    ys = (np.arange(hash_h) * px.shape[0] // hash_h).clip(0, px.shape[0] - 1)
    xs = (np.arange(hash_w + 1) * px.shape[1] // (hash_w + 1)).clip(
        0, px.shape[1] - 1
    )
    g = px[np.ix_(ys, xs)]
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    val = np.bitwise_or.reduce(np.where(bits, weights, np.uint64(0)))
    return int(np.uint64(val).astype(np.int64))


def dhash_features(images: DataFrame, hash_w: int = 8, hash_h: int = 8) -> DataFrame:
    """(image_id, dhash) — difference hash: nearest-neighbor sample to a
    (hash_h, hash_w+1) grid, take the horizontal gradient sign, pack the
    hash_w*hash_h bits row-major into an int64 (bit k = row*hash_w + col;
    bit 63 wraps to the sign, two's complement). Perceptually identical
    images collide; a hamming-ball join on the hash gives near-dup candidate
    pairs without comparing pixels. The sampling index map is the same
    floor(t*src/dst) map as resize_images, so dhash(resize(img)) ==
    dhash(img) for integer downscales."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, hashes = [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                hashes.append(dhash_px(px, hash_w, hash_h))
                ids.append(r.image_id)
            yield pd.DataFrame({"image_id": ids, "dhash": pd.array(hashes, dtype="int64")})

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, dhash long"
    )


_AUG_OPS = ("hflip", "vflip", "rot90", "crop_cc")


def augment_images(images: DataFrame, op: str) -> DataFrame:
    """Deterministic image augmentation (the training-set expansion stage):
    ``hflip``/``vflip`` (mirror), ``rot90`` (counter-clockwise quarter
    turn), ``crop_cc`` (center crop to w//2 x h//2). Pure pixel remaps —
    no interpolation — so every output pixel equals some input pixel and
    an oracle can recompute any position-dependent statistic exactly.
    Output re-encoded rawz; same Arrow-batched mapInPandas shape as
    resize_images."""
    if op not in _AUG_OPS:
        raise ValueError(f"op must be one of {_AUG_OPS}")

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, blobs, ws, hs = [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if op == "hflip":
                    out = px[:, ::-1]
                elif op == "vflip":
                    out = px[::-1, :]
                elif op == "rot90":
                    out = np.rot90(px)
                else:  # crop_cc
                    h0, w0 = px.shape
                    ch, cw = max(1, h0 // 2), max(1, w0 // 2)
                    y0 = (h0 - ch) // 2
                    x0 = (w0 - cw) // 2
                    out = px[y0 : y0 + ch, x0 : x0 + cw]
                ids.append(r.image_id)
                blobs.append(imagecodec.encode_rawz(np.ascontiguousarray(out)))
                hs.append(out.shape[0])
                ws.append(out.shape[1])
            yield pd.DataFrame(
                {"image_id": ids, "bytes": blobs, "w": ws, "h": hs, "fmt": "rawz"}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, bytes binary, w int, h int, fmt string"
    )


# ----------------------------------------------------------- tile pyramid


def tile_pyramid_level(tiles: DataFrame, res: int) -> DataFrame:
    """One raster-pyramid rollup level: images keyed by their res-``res``
    flat-grid cell become parent tiles at ``res - 1``.

    Each parent stitches its <= 4 children into a 2W x 2H canvas by
    cell-grid quadrant — child cell (x, y): x & 1 picks the left/right
    half, y & 1 the vertical half with image row 0 at the TOP of the tile
    (odd y = northern child = upper canvas rows); missing children are
    zero tiles. The canvas is 2x2 average-pooled back to W x H in float64
    and re-encoded rawz. ``px_sum`` is the pooled-tile sum BEFORE uint8
    rounding = (integer child pixel total) / 4 — an exact dyadic rational,
    so the DuckDB oracle reproduces it bit-for-bit from the child sums.

    Plan: ONE shuffle per level (hash repartition by parent cell +
    in-partition sort), then a consecutive-group mapInPandas kernel
    (assemble.py's batched-kernel pattern — applyInPandas would pay ~ms of
    Python per group, ruinous at millions of parents). Input columns:
    ``cell_id, w, h, fmt, bytes`` — one tile per cell, uniform w x h per
    level. Output: the same shape at the parent res, plus
    ``n_children, px_sum``."""
    from . import cells

    x, y = cells.cell_xy(F.col("cell_id"))
    prepped = tiles.select(
        cells.parent_cell(F.col("cell_id"), res, res - 1).alias("parent"),
        ((x % 2) + (y % 2) * 2).cast("int").alias("quad"),
        "w", "h", "fmt", "bytes",
    )
    prepped = prepped.repartition("parent").sortWithinPartitions("parent", "quad")

    COLS = ("parent", "quad", "w", "h", "fmt", "bytes")

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf = None
        out = {k: [] for k in ("cell_id", "n_children", "px_sum", "w", "h", "bytes")}

        def emit(g, s, e):
            w, h = int(g["w"][s]), int(g["h"][s])
            canvas = np.zeros((2 * h, 2 * w), dtype=np.float64)
            for k in range(s, e):
                px = imagecodec.decode(bytes(g["bytes"][k]), g["fmt"][k]).astype(
                    np.float64
                )
                q = int(g["quad"][k])
                dx, dy = q & 1, q >> 1
                r0 = (1 - dy) * h  # odd y (north) -> top rows
                canvas[r0 : r0 + h, dx * w : dx * w + w] = px
            pooled = canvas.reshape(h, 2, w, 2).sum(axis=(1, 3)) * 0.25
            out["cell_id"].append(int(g["parent"][s]))
            out["n_children"].append(e - s)
            out["px_sum"].append(float(pooled.sum()))
            out["w"].append(w)
            out["h"].append(h)
            out["bytes"].append(
                imagecodec.encode_rawz(
                    np.clip(np.rint(pooled), 0, 255).astype(np.uint8)
                )
            )

        def flush():
            pdf = pd.DataFrame(
                {
                    "cell_id": pd.array(out["cell_id"], dtype="int64"),
                    "n_children": pd.array(out["n_children"], dtype="int32"),
                    "px_sum": pd.array(out["px_sum"], dtype="float64"),
                    "w": pd.array(out["w"], dtype="int32"),
                    "h": pd.array(out["h"], dtype="int32"),
                    "fmt": "rawz",
                    "bytes": out["bytes"],
                }
            )
            for k in out:
                out[k] = []
            return pdf

        for pdf in it:
            if len(pdf) == 0:
                continue
            g = {c: pdf[c].to_numpy() for c in COLS}
            if buf is not None:
                g = {c: np.concatenate([buf[c], g[c]]) for c in COLS}
                buf = None
            keys = g["parent"]
            bounds = np.flatnonzero(keys[1:] != keys[:-1]) + 1
            starts = np.concatenate([[0], bounds])
            ends = np.concatenate([bounds, [len(keys)]])
            # the last group may continue in the next Arrow batch — carry it
            for s, e in zip(starts[:-1], ends[:-1]):
                emit(g, int(s), int(e))
            s = int(starts[-1])
            buf = {c: g[c][s:] for c in COLS}
            if len(out["cell_id"]) >= 256:
                yield flush()
        if buf is not None and len(buf["parent"]):
            emit(buf, 0, len(buf["parent"]))
        yield flush()

    return prepped.mapInPandas(
        fn,
        schema=(
            "cell_id long, n_children int, px_sum double, w int, h int,"
            " fmt string, bytes binary"
        ),
    )


def tile_pyramid(tiles: DataFrame, res: int, levels: int = 1) -> DataFrame:
    """``levels`` successive rollups (res -> res - levels); returns the last
    level. Each level is one shuffle + one Arrow kernel pass; from level 2
    on, child pixels are the uint8-rounded re-encodes of the level below
    (the standard lossy pyramid contract)."""
    out = tiles
    for step in range(levels):
        out = tile_pyramid_level(out, res - step)
    return out


def zonal_stats(
    images: DataFrame,
    polys_df: DataFrame,
    deg_per_px: float = 1e-4,
    res: int = 6,
    mode: str = "bbox",
    grid: str = "flat",
) -> DataFrame:
    """ZONAL STATISTICS — per-zone aggregates over the PIXELS of every
    raster tile intersecting the zone (the raster half of a zonal-rollup
    GIS stage; the reference's users reach it through rasterio/shapely —
    here it fuses the engine's raster<->vector join with the Arrow decode
    path).

    ``images`` carries the input_hint payload shape (image_id, bytes, w, h,
    fmt, phash); zones are ``polygons_to_df`` rows. Returns one row per
    zone: (poly_id, n_tiles, px_cnt, px_sum, px_min, px_max) over pixels
    whose CENTER falls inside the zone — px stats are exact integers.

    Pixel grid convention: tile row 0 is the southmost scanline, so pixel
    (x, y) has center (fminx + (x+0.5)*deg_per_px, fminy + (y+0.5)*deg_per_px)
    — the exact expressions the driver oracle replays in SQL.

    ``mode="bbox"`` tests centers against the zone's bbox (EXACT zonal
    stats when zones are axis-aligned boxes — the oracle fixture);
    ``mode="polygon"`` runs the vectorized even-odd ray cast over all zone
    rings (general zones; pinned by pytest against a brute oracle).

    Scale shape: candidate (tile, zone) pairs come from the covering-cell
    raster_vector_join (broadcast zones, no shuffle of pixel bytes beyond
    the image_id equi-join); each pair decodes once and reduces to 6
    numbers inside the Arrow batch, and the final per-zone rollup is one
    combiner-friendly groupBy of those 6-number rows."""
    from ..functions import geom as _geom
    from ..functions import kernels as _K
    from .spatial_join import raster_vector_join, tile_footprints

    fp = tile_footprints(images, deg_per_px)
    pairs = raster_vector_join(fp, polys_df, res=res, grid=grid)
    tiles = pairs.join(
        fp.select("image_id", "bytes", "fmt", "fminx", "fminy"), "image_id"
    )
    zones = polys_df.select("poly_id", "gpb", "minx", "miny", "maxx", "maxy")
    work = tiles.join(F.broadcast(zones), "poly_id")

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ring_cache: dict[int, list[np.ndarray]] = {}
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                h_, w_ = px.shape
                cx = r.fminx + (np.arange(w_, dtype=np.float64) + 0.5) * deg_per_px
                cy = r.fminy + (np.arange(h_, dtype=np.float64) + 0.5) * deg_per_px
                if mode == "bbox":
                    mx = (cx >= r.minx) & (cx <= r.maxx)
                    my = (cy >= r.miny) & (cy <= r.maxy)
                    sub = px[np.ix_(my, mx)].ravel()
                else:
                    pid = int(r.poly_id)
                    if pid not in ring_cache:
                        ring_cache[pid] = [
                            np.asarray(ring, dtype=np.float64)
                            for ring, _is_hole in _geom.all_rings(bytes(r.gpb))
                        ]
                    gx, gy = np.meshgrid(cx, cy)
                    pts = np.column_stack([gx.ravel(), gy.ravel()])
                    inside = np.zeros(len(pts), dtype=bool)
                    for ring in ring_cache[pid]:  # even-odd over all rings
                        inside ^= _K.points_in_ring(pts, ring)
                    sub = px.ravel()[inside]
                if sub.size:
                    rows.append(
                        (
                            int(r.poly_id),
                            1,
                            int(sub.size),
                            int(sub.sum(dtype=np.int64)),
                            int(sub.min()),
                            int(sub.max()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["poly_id", "n_tiles", "px_cnt", "px_sum", "px_min", "px_max"],
            )

    part = work.mapInPandas(
        fn,
        schema="poly_id long, n_tiles long, px_cnt long, px_sum long,"
        " px_min long, px_max long",
    )
    return part.groupBy("poly_id").agg(
        F.sum("n_tiles").alias("n_tiles"),
        F.sum("px_cnt").alias("px_cnt"),
        F.sum("px_sum").alias("px_sum"),
        F.min("px_min").alias("px_min"),
        F.max("px_max").alias("px_max"),
    )


def caption_alignment(images: DataFrame, bins: int = 16, tau: float = 0.25) -> DataFrame:
    """IMAGE-TEXT ALIGNMENT score per (image, caption) row — the curation
    gate a LAION-style pipeline runs with CLIP (keep pairs whose embedding
    cosine clears a threshold). No model weights exist in this sandbox, so
    the two encoders are DETERMINISTIC STAND-INS with the real wiring
    shape: the image side embeds to its ``bins``-bin intensity histogram
    (dyadic k/64 shares for 8x8 tiles), the text side to per-bucket token
    counts (token 60-bit md5 mod ``bins`` — exact integers), and the score
    is their cosine. Swapping in real CLIP towers changes only the two
    feature maps; the join/score/filter plan is production-real.

    Returns (image_id, score, keep) with keep = score >= tau.

    Plan: both feature sides are long-form (id, bin, value) rows — the dot
    product is one equi-join on (id, bin) + a combiner-friendly rollup,
    never a dense-vector shuffle; norms reduce each side independently.
    All products are exact dyadics/integers, so both engines' sums agree
    bit-for-bit in any order and the only inexact steps (sqrt, divide) are
    single identically-ordered IEEE ops."""
    from ..functions import hashing as _H
    from ..functions import text as _TXT

    hist = histogram_features(images, bins=bins)
    img_long = hist.select(
        "image_id", F.posexplode("hist").alias("bin", "share")
    ).filter(F.col("share") > 0)
    txt_long = (
        images.select(
            "image_id", F.explode(_H.tokens_col(F.col("caption"))).alias("tok")
        )
        .select(
            "image_id", F.pmod(_TXT.md5_long(F.col("tok")), F.lit(bins)).alias("bin")
        )
        .groupBy("image_id", "bin")
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    dots = (
        img_long.join(txt_long, ["image_id", "bin"])
        .groupBy("image_id")
        .agg(F.sum(F.col("share") * F.col("cnt")).alias("dot"))
    )
    ni = hist.select(
        "image_id",
        F.aggregate("hist", F.lit(0.0), lambda a, x: a + x * x).alias("n2i"),
    )
    nt = txt_long.groupBy("image_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("n2t")
    )
    score = F.coalesce(F.col("dot"), F.lit(0.0)) / (
        F.sqrt("n2i") * F.sqrt("n2t")
    )
    return (
        ni.join(nt, "image_id")
        .join(dots, "image_id", "left")
        .select(
            "image_id",
            F.round(score, 6).alias("score"),
            (score >= F.lit(tau)).alias("keep"),
        )
    )


def vectorize_images(images: DataFrame, threshold: int = 128) -> DataFrame:
    """RASTER -> VECTOR polygonization (the GDAL ``polygonize`` stage, the
    inverse of zonal_stats' vector->raster direction): threshold each tile
    to a boolean mask, trace the mask into polygons with
    kernels.vectorize_mask (4-connected parts, 8-connected holes, the
    standard raster duality), and emit per-image topology + geometry:
    (image_id, n_parts, n_holes, area_px, perimeter_px, gpb MultiPolygon
    in pixel coordinates).

    area_px equals the hot-pixel count by construction (shoelace of shells
    minus holes — the kernel's internal consistency check) and
    perimeter_px the boundary unit-edge count; both exact integers, so a
    DuckDB twin can pin them from first principles (recursive flood fill +
    adjacent-pair counting) without sharing any tracing code.

    Embarrassingly parallel Arrow pass — no shuffle; edge extraction is
    vectorized and the ring walk is O(perimeter)."""
    from ..functions import geom as _geom
    from ..functions import kernels as _K

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                polys = _K.vectorize_mask(px >= threshold)
                area = 0.0
                perim = 0
                for p in polys:
                    for ring in p:
                        area += _K.signed_area(ring)
                        d = np.abs(np.diff(ring, axis=0))
                        perim += int(d.sum())
                rows.append(
                    (
                        r.image_id,
                        len(polys),
                        sum(len(p) - 1 for p in polys),
                        int(round(area)),
                        perim,
                        _geom.multipolygon(polys) if polys else None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "n_parts", "n_holes", "area_px",
                    "perimeter_px", "gpb",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, n_parts long, n_holes long, area_px long,"
        " perimeter_px long, gpb binary",
    )


# sqrt(1/2) * 1000: the exact milli-pixel length of a diagonal marching-
# squares segment (midpoint of one cell edge to the midpoint of an
# adjacent edge) — kept as one shared literal so the Spark kernel and the
# DuckDB oracle round the identical double
DIAG_SEG_MPX = 707.1067811865476


def isoline_images(images: DataFrame, levels=(96, 160)) -> DataFrame:
    """MARCHING-SQUARES ISOLINE EXTRACTION (midpoint variant) — the
    contour / isoline stage of a raster layer (GDAL ``contour``,
    matplotlib ``contour``): for each iso level T, every 2x2 pixel block
    is classified by which corners are >= T and emits 0, 1 or 2 contour
    segments joining edge midpoints. Complements vectorize_images
    (region POLYGONIZATION) with the LINE form of raster->vector.

    Midpoint segments have exactly two lengths — 1 pixel (the two hot
    corners are an adjacent pair: the contour crosses opposite cell
    edges) or sqrt(1/2) pixels (one or three hot corners, or each half
    of a saddle: adjacent cell edges) — so the per-image output is
    EXACT INTEGERS (n_segments, n_straight, n_diag) plus a milli-pixel
    total length derived from them by one shared double multiply
    (``DIAG_SEG_MPX``), reproducible bit-for-bit by a pure-SQL oracle
    with no tracing logic in common. Saddle blocks (two diagonal hot
    corners) always contribute two diagonal segments regardless of the
    ambiguity resolution, so the counts are disambiguation-free.

    Returns (image_id, level, n_segments, n_straight, n_diag,
    length_mpx), one row per image per level.

    Scale: embarrassingly parallel mapInPandas — no shuffle; the block
    classification is whole-image vectorized NumPy (four shifted views +
    boolean algebra), O(pixels) per level."""
    lv = sorted(int(t) for t in levels)
    assert lv, "at least one iso level"

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                for t in lv:
                    hot = px >= t
                    a = hot[:-1, :-1]  # top-left corner of each block
                    b = hot[:-1, 1:]  # top-right
                    c = hot[1:, :-1]  # bottom-left
                    d = hot[1:, 1:]  # bottom-right
                    h = (
                        a.astype(np.int64) + b.astype(np.int64)
                        + c.astype(np.int64) + d.astype(np.int64)
                    )
                    saddle = (a & d & ~b & ~c) | (b & c & ~a & ~d)
                    n_saddle = int(saddle.sum())
                    n_straight = int(((h == 2) & ~saddle).sum())
                    n_single = int(((h == 1) | (h == 3)).sum())
                    n_diag = n_single + 2 * n_saddle
                    rows.append(
                        (
                            r.image_id,
                            t,
                            n_straight + n_diag,
                            n_straight,
                            n_diag,
                            n_straight * 1000 + int(round(n_diag * DIAG_SEG_MPX)),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "level", "n_segments", "n_straight",
                    "n_diag", "length_mpx",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, level long, n_segments long,"
        " n_straight long, n_diag long, length_mpx long",
    )


def _label_components_batch(masks: np.ndarray) -> np.ndarray:
    """(B, H, W) bool -> (B, H, W) int64 local 4-connected component
    labels: each hot pixel's label is the MINIMUM row-major pixel index
    reachable within its component (cold pixels get -1). Vectorized
    min-propagation across the whole batch — the NumPy stand-in for the
    two-pass union-find a production tile kernel uses; iterations bound =
    the longest geodesic path in any tile of the batch."""
    B, H, W = masks.shape
    big = np.int64(H * W)
    idx = np.arange(H * W, dtype=np.int64).reshape(1, H, W)
    lbl = np.where(masks, idx, big)
    while True:
        nb = np.full((4, B, H, W), big, dtype=np.int64)
        nb[0, :, 1:, :] = lbl[:, :-1, :]
        nb[1, :, :-1, :] = lbl[:, 1:, :]
        nb[2, :, :, 1:] = lbl[:, :, :-1]
        nb[3, :, :, :-1] = lbl[:, :, 1:]
        new = np.where(masks, np.minimum(lbl, nb.min(axis=0)), big)
        if np.array_equal(new, lbl):
            break
        lbl = new
    return np.where(masks, lbl, np.int64(-1))


def vectorize_stitched(
    images: DataFrame,
    threshold: int = 128,
    tx_col: str = "tile_x",
    ty_col: str = "tile_y",
    max_iter: int = 20,
) -> DataFrame:
    """CROSS-TILE raster->vector region stitching: the input rows are tiles
    of one uniform mosaic (``tx_col``/``ty_col`` grid coordinates, all
    tiles the same w x h), and hot regions (pixel >= ``threshold``) that
    cross tile borders are merged into GLOBAL regions. Output one row per
    stitched region: (region_id = the global (gy << 32 | gx) key of its
    minimum pixel, area_px, n_tiles touched, global bbox).

    This is the scale shape of planetary-scale vectorization (the
    round-3 session notes' "vectorize_mask at scale" item): pixels never
    leave their tile — the Arrow kernel labels each tile locally
    (vectorized min-propagation; production kernels use two-pass
    union-find, same contract) and emits only O(components) summary rows
    plus O(perimeter) boundary-strip rows. Stitching is an equi-join of
    strips on (border, position) — two hot pixels facing each other across
    a tile edge link their components — and region resolution is
    dedup.duplicate_clusters' min-label propagation over the REGION graph
    (tiny vs pixels; O(region diameter in tiles) rounds). The final rollup
    is one groupBy. No step is quadratic in pixels, tiles, or regions; the
    pixel bytes cross the bus exactly once (localCheckpoint below the
    kernel so the edge join and the label loop never re-decode).

    The DuckDB twin shares NO stitching logic: it floods the whole mosaic
    as one flat pixel grid with a recursive CTE (tests + driver oracle)."""
    from .dedup import duplicate_clusters

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            # group same-sized tiles so the batch labeling vectorizes
            by_size: dict[tuple, list[tuple]] = {}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                by_size.setdefault(px.shape, []).append((int(r.tx), int(r.ty), px))
            for (h, w), tiles in by_size.items():
                masks = np.stack([t[2] >= threshold for t in tiles])
                lbls = _label_components_batch(masks)
                for (tx, ty, _), lbl in zip(tiles, lbls):
                    gx0, gy0 = tx * w, ty * h
                    hot = lbl >= 0
                    if not hot.any():
                        continue
                    ys, xs = np.nonzero(hot)
                    loc = lbl[ys, xs]
                    gkey = ((gy0 + ys).astype(np.int64) << 32) | (gx0 + xs)
                    for lv in np.unique(loc):
                        m = loc == lv
                        cys, cxs = ys[m], xs[m]
                        key = int(gkey[m].min())
                        strips = []
                        for cy, cx in zip(cys.tolist(), cxs.tolist()):
                            if cx == 0:
                                strips.append((0, tx, gy0 + cy))
                            if cx == w - 1:
                                strips.append((0, tx + 1, gy0 + cy))
                            if cy == 0:
                                strips.append((1, ty, gx0 + cx))
                            if cy == h - 1:
                                strips.append((1, ty + 1, gx0 + cx))
                        out.append(
                            (
                                key,
                                int(m.sum()),
                                gx0 + int(cxs.min()),
                                gy0 + int(cys.min()),
                                gx0 + int(cxs.max()),
                                gy0 + int(cys.max()),
                                tx,
                                ty,
                                strips,
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "key", "area", "min_gx", "min_gy", "max_gx", "max_gy",
                    "tx", "ty", "strips",
                ],
            )

    comps = (
        images.select(
            F.col(tx_col).cast("int").alias("tx"),
            F.col(ty_col).cast("int").alias("ty"),
            "bytes",
            "fmt",
        )
        .mapInPandas(
            fn,
            schema="key long, area long, min_gx int, min_gy int,"
            " max_gx int, max_gy int, tx int, ty int,"
            " strips array<struct<orient:int,b:int,pos:long>>",
        )
        .localCheckpoint(eager=False)
    )
    strips = comps.select("key", F.explode("strips").alias("s")).select(
        "key", "s.orient", "s.b", "s.pos"
    )
    # only the two tiles adjacent to a border emit the same (orient, b,
    # pos), and within one tile a border pixel belongs to exactly one
    # component — so key_a < key_b pairs are always cross-tile links
    edges = (
        strips.alias("a")
        .join(strips.alias("b"), ["orient", "b", "pos"])
        .filter(F.col("a.key") < F.col("b.key"))
        .select(F.col("a.key").alias("id_a"), F.col("b.key").alias("id_b"))
        .distinct()
    )
    # pointer doubling: stitched regions can be long tile chains
    # (coastlines), so O(log diameter) rounds instead of O(diameter)
    labels = duplicate_clusters(
        comps.select("key"), edges, id_col="key", max_iter=max_iter,
        shortcut=True,
    )
    return (
        comps.join(labels, "key")
        .groupBy(F.col("cluster_id").alias("region_id"))
        .agg(
            F.sum("area").alias("area_px"),
            F.countDistinct("tx", "ty").alias("n_tiles"),
            F.min("min_gx").alias("min_gx"),
            F.min("min_gy").alias("min_gy"),
            F.max("max_gx").alias("max_gx"),
            F.max("max_gy").alias("max_gy"),
        )
    )


def halo_exchange_gradient(
    images: DataFrame,
    tx_col: str = "tile_x",
    ty_col: str = "tile_y",
) -> DataFrame:
    """Per-tile focal gradient with CROSS-TILE HALO EXCHANGE — the other
    fundamental distributed-raster primitive next to vectorize_stitched's
    component stitching. A central-difference stencil (|p[x+1]-p[x-1]| +
    |p[y+1]-p[y-1]|) needs each tile's 1-pixel border from its four
    neighbors; shipping whole neighbor tiles would shuffle the corpus, so
    instead every tile emits its four edge strips ADDRESSED TO the
    receiving neighbor (O(perimeter) rows), one groupBy assembles each
    tile's halo map, and a second Arrow pass pads the decoded tile with
    its halos and runs the stencil fully vectorized. Output per tile:
    (tile_x, tile_y, grad_sum, n_valid) over the pixels whose four
    neighbors exist globally (mosaic-border pixels are excluded) — exact
    int64, so the DuckDB twin computes the same stencil on the flat global
    grid with four self-joins.

    Scale notes: two decode passes (strip emit + stencil) — at production
    tile sizes the strips are ~4/TS of the pixel volume, so the halo
    shuffle is negligible; if decode itself dominates, persist the decoded
    tiles between the passes (same plan shape). Corners are not needed for
    the 4-neighbor cross stencil; an 8-neighbor kernel would add the four
    diagonal 1x1 corner strips to the same exchange."""
    spark = images.sparkSession

    base = images.select(
        F.col(tx_col).cast("int").alias("tx"),
        F.col(ty_col).cast("int").alias("ty"),
        "bytes",
        "fmt",
    )

    def strips_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                tx, ty = int(r.tx), int(r.ty)
                rows.append((tx + 1, ty, "L", [int(v) for v in px[:, -1]]))
                rows.append((tx - 1, ty, "R", [int(v) for v in px[:, 0]]))
                rows.append((tx, ty + 1, "T", [int(v) for v in px[-1, :]]))
                rows.append((tx, ty - 1, "B", [int(v) for v in px[0, :]]))
            yield pd.DataFrame(rows, columns=["tx", "ty", "side", "vals"])

    strips = base.mapInPandas(
        strips_fn, schema="tx int, ty int, side string, vals array<int>"
    )
    # one array column per side (exactly one strip per (tile, side) can
    # exist, so max-of-non-null selects it); arrays cross Arrow cleanly
    # where a map column would land in pandas as tuple lists
    halos = strips.groupBy("tx", "ty").agg(
        *[
            F.max(F.when(F.col("side") == s, F.col("vals"))).alias(f"halo_{s}")
            for s in ("L", "R", "T", "B")
        ]
    )

    def stencil_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                h, w = px.shape
                pad = np.full((h + 2, w + 2), -1, dtype=np.int64)
                pad[1:-1, 1:-1] = px
                if r.halo_L is not None:
                    pad[1:-1, 0] = np.asarray(r.halo_L)
                if r.halo_R is not None:
                    pad[1:-1, -1] = np.asarray(r.halo_R)
                if r.halo_T is not None:
                    pad[0, 1:-1] = np.asarray(r.halo_T)
                if r.halo_B is not None:
                    pad[-1, 1:-1] = np.asarray(r.halo_B)
                c = pad[1:-1, 1:-1]
                left, right = pad[1:-1, :-2], pad[1:-1, 2:]
                up, down = pad[:-2, 1:-1], pad[2:, 1:-1]
                valid = (left >= 0) & (right >= 0) & (up >= 0) & (down >= 0) & (c >= 0)
                grad = np.abs(right - left) + np.abs(down - up)
                rows.append(
                    (int(r.tx), int(r.ty), int(grad[valid].sum()), int(valid.sum()))
                )
            yield pd.DataFrame(
                rows, columns=["tile_x", "tile_y", "grad_sum", "n_valid"]
            )

    return (
        base.join(halos, ["tx", "ty"], "left")
        .mapInPandas(
            stencil_fn,
            schema="tile_x int, tile_y int, grad_sum long, n_valid long",
        )
    )


def zonal_value_counts(
    images: DataFrame,
    polys_df: DataFrame,
    deg_per_px: float = 1e-4,
    res: int = 6,
) -> DataFrame:
    """Per-zone HISTOGRAM of pixel values: (poly_id, val, cnt) for every
    distinct uint8 value among pixels whose centers fall in the zone's
    bbox — the exact-percentile building block (uint8 pixels have <= 256
    distinct values, so per-zone medians/quantiles reduce to an integer
    histogram walk instead of a sort of the raw pixels; the histogram is
    the only thing that shuffles).

    Same pairing plan as zonal_stats (covering-cell raster join, broadcast
    zones, pixels reduced inside the Arrow batch); each (tile, zone) pair
    emits its non-zero bincount rows and one combiner-friendly rollup sums
    them per zone."""
    from .spatial_join import raster_vector_join, tile_footprints

    fp = tile_footprints(images, deg_per_px)
    pairs = raster_vector_join(fp, polys_df, res=res)
    tiles = pairs.join(
        fp.select("image_id", "bytes", "fmt", "fminx", "fminy"), "image_id"
    )
    zones = polys_df.select("poly_id", "minx", "miny", "maxx", "maxy")
    work = tiles.join(F.broadcast(zones), "poly_id")

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                h_, w_ = px.shape
                cx = r.fminx + (np.arange(w_, dtype=np.float64) + 0.5) * deg_per_px
                cy = r.fminy + (np.arange(h_, dtype=np.float64) + 0.5) * deg_per_px
                mx = (cx >= r.minx) & (cx <= r.maxx)
                my = (cy >= r.miny) & (cy <= r.maxy)
                sub = px[np.ix_(my, mx)].ravel()
                if sub.size:
                    bc = np.bincount(sub, minlength=256)
                    for val in np.nonzero(bc)[0]:
                        rows.append((int(r.poly_id), int(val), int(bc[val])))
            yield pd.DataFrame(rows, columns=["poly_id", "val", "cnt"])

    part = work.mapInPandas(fn, schema="poly_id long, val long, cnt long")
    return part.groupBy("poly_id", "val").agg(F.sum("cnt").alias("cnt"))


def zonal_median(
    images: DataFrame, polys_df: DataFrame, deg_per_px: float = 1e-4, res: int = 6
) -> DataFrame:
    """(poly_id, px_cnt, median_val) — exact LOWER median per zone (the
    ceil(n/2)-th smallest pixel value), computed as a cumulative walk over
    the zonal value-count histogram: one window over <= 256 rows per zone,
    never a sort of raw pixels."""
    hist = zonal_value_counts(images, polys_df, deg_per_px, res)
    w = Window.partitionBy("poly_id").orderBy("val")
    tot = Window.partitionBy("poly_id")
    ranked = hist.select(
        "poly_id",
        "val",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    return (
        ranked.filter(F.col("cum") * 2 >= F.col("n") + (F.col("n") % 2))
        .groupBy("poly_id")
        .agg(F.first("n").alias("px_cnt"), F.min("val").alias("median_val"))
        .select("poly_id", "px_cnt", "median_val")
    )


def resize_bilinear(
    images: DataFrame, out_w: int, out_h: int, with_bytes: bool = True
) -> DataFrame:
    """(image_id, w, h, px_sum, px_min, px_max[, bytes, fmt]) — BILINEAR
    resize in exact 8.8 FIXED-POINT arithmetic (half-pixel centers, the
    torchvision/OpenCV align_corners=False convention):

        s_fp = clamp(((2*t + 1) * S * 128) // out_S - 128, >= 0)
        i0 = s_fp >> 8 ; frac = s_fp & 255 ; i1 = min(i0 + 1, S - 1)
        out = ((256-fy) * ((256-fx) p00 + fx p01)
               + fy * ((256-fx) p10 + fx p11) + 32768) >> 16

    Every step is integer (floor divisions on non-negative values), so
    the resampled pixels are bit-identical across engines and
    partitionings — the property NN resize (resize_images) has and
    float bilinear loses. The standard encoder-input downscale where
    NN aliasing is unacceptable.

    Scale: decode_stats' shape — one vectorized 4-tap gather per image
    inside mapInPandas; bytes out ~ out_w*out_h when with_bytes."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def axis_map(n_out: int, n_src: int):
            t = np.arange(n_out, dtype=np.int64)
            fp = ((2 * t + 1) * n_src * 128) // n_out - 128
            fp = np.maximum(fp, 0)
            i0 = fp >> 8
            frac = fp & 255
            i1 = np.minimum(i0 + 1, n_src - 1)
            return i0, i1, frac

        for pdf in it:
            out = {
                "image_id": [], "w": [], "h": [],
                "px_sum": [], "px_min": [], "px_max": [],
            }
            if with_bytes:
                out["bytes"] = []
                out["fmt"] = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                hh, ww = px.shape
                x0, x1, fx = axis_map(out_w, ww)
                y0, y1, fy = axis_map(out_h, hh)
                p00 = px[np.ix_(y0, x0)]
                p01 = px[np.ix_(y0, x1)]
                p10 = px[np.ix_(y1, x0)]
                p11 = px[np.ix_(y1, x1)]
                top = (256 - fx)[None, :] * p00 + fx[None, :] * p01
                bot = (256 - fx)[None, :] * p10 + fx[None, :] * p11
                val = ((256 - fy)[:, None] * top + fy[:, None] * bot + 32768) >> 16
                out["image_id"].append(r.image_id)
                out["w"].append(out_w)
                out["h"].append(out_h)
                out["px_sum"].append(int(val.sum()))
                out["px_min"].append(int(val.min()))
                out["px_max"].append(int(val.max()))
                if with_bytes:
                    out["bytes"].append(
                        imagecodec.encode_rawz(val.astype(np.uint8))
                    )
                    out["fmt"].append("rawz")
            yield pd.DataFrame(out)

    schema = "image_id string, w int, h int, px_sum long, px_min long, px_max long"
    if with_bytes:
        schema += ", bytes binary, fmt string"
    return images.select("image_id", "bytes", "fmt").mapInPandas(fn, schema=schema)


def quadtree_plan(
    images: DataFrame, tau: int = 300, width: int | None = None
) -> DataFrame:
    """VARIANCE-PRUNED QUADTREE COMPRESSION PLAN — the adaptive-tiling
    analysis of an image corpus (the planning stage of quadtree codecs
    and of level-of-detail tile serving): starting from the whole tile,
    a node is a LEAF when its pixel variance is <= ``tau``, else it
    splits into four quadrants, recursively down to single pixels
    (variance 0 — always leaves). Flat regions collapse into few big
    leaves; detailed regions decompose.

    Exactness: the variance gate is evaluated as the INTEGER inequality

        n * sum(x^2) - sum(x)^2 <= tau * n^2      (<=> var <= tau)

    from exact block sums, so there is no float anywhere and a pure-SQL
    oracle replays it from grouped pixel aggregates. A node is a leaf
    iff its own gate passes and every ancestor's gate FAILS (top-down
    recursion linearized — no tree walk needed).

    Returns one row per image: (image_id, leaves_s for each block size s
    in w, w/2, .., 1, n_leaves). Requires square power-of-two tiles.

    Scale: embarrassingly parallel mapInPandas; per level one reshaped
    block-sum over the image (vectorized), log2(w) levels. The 10^12-row
    sweep is scan-shaped; downstream LOD writers consume the counts."""
    assert tau >= 0

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                h, w = px.shape
                assert h == w and (w & (w - 1)) == 0, "square power-of-two"
                x = px.astype(np.int64)
                x2 = x * x
                # per level: fail = n*Q - S^2 > tau*n^2; leaf = pass & all
                # ancestors fail (ancestor_fail tracked as a growing mask)
                anc_fail = None  # ancestor-fail mask at current block grid
                leaves = []
                s = w
                while s >= 1:
                    nb = w // s
                    S = x.reshape(nb, s, nb, s).sum(axis=(1, 3))
                    Q = x2.reshape(nb, s, nb, s).sum(axis=(1, 3))
                    n = s * s
                    fail = n * Q - S * S > tau * n * n
                    ok = ~fail
                    if anc_fail is None:
                        leaf = ok
                        anc_fail = fail
                    else:
                        leaf = ok & anc_fail
                        anc_fail = anc_fail & fail
                    leaves.append(int(leaf.sum()))
                    if s > 1:
                        anc_fail = np.repeat(
                            np.repeat(anc_fail, 2, axis=0), 2, axis=1
                        )
                    s //= 2
                rows.append((r.image_id, *leaves, sum(leaves)))
            n_levels = len(rows[0]) - 2 if rows else 0
            yield pd.DataFrame(
                rows,
                columns=["image_id"]
                + [f"leaves_l{i}" for i in range(n_levels)]
                + ["n_leaves"],
            )

    # the output schema needs the level count up front; pass ``width``
    # to keep planning action-free, else it is probed with one tiny job
    import math as _m

    w0 = width if width is not None else images.select(F.max("w")).first()[0]
    n_levels = int(_m.log2(int(w0))) + 1
    cols = ", ".join(f"leaves_l{i} long" for i in range(n_levels))
    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema=f"image_id string, {cols}, n_leaves long"
    )


def mosaic_crop(
    tiles: DataFrame,
    x0: int,
    y0: int,
    x1: int,
    y1: int,
    tile_w: int = 8,
    tx_col: str = "tile_x",
    ty_col: str = "tile_y",
) -> DataFrame:
    """WINDOWED READ of a tiled image layer — extract the pixel region
    [x0, x1) x [y0, y1) in GLOBAL mosaic coordinates from uniform
    ``tile_w`` x ``tile_w`` tiles (the renderer / training-crop primitive
    over a tile store: the region straddles tile borders, so each
    touched tile contributes its intersection).

    Tiles NOT intersecting the window are pruned by a plain filter on
    the (tx, ty) grid columns BEFORE any decode — the partition-pruning
    shape of the cell-partitioned layout (plans/layout.py); at 10^12
    tiles that filter is the difference between reading four tiles and
    reading the planet.

    Output is ONE row of exact-integer region evidence: (w, h, n_px,
    sum_v, sum_v2, possum) where possum = sum(v * (gx * mosaic_stride +
    gy + 1)) pins every pixel's PLACEMENT (a misplaced tile or an
    off-by-one crop changes it), summed in int64 so it is
    partition-order-free. mosaic_stride = tile_w * 2^20 keeps positions
    unique for any practical mosaic width.

    Scale: filter -> per-tile Arrow crop (decode only the touched
    tiles) -> one combinable global rollup. No shuffle of pixels."""
    assert x0 < x1 and y0 < y1
    stride = tile_w * (1 << 20)
    tx0, tx1 = x0 // tile_w, (x1 - 1) // tile_w
    ty0, ty1 = y0 // tile_w, (y1 - 1) // tile_w
    touched = tiles.filter(
        (F.col(tx_col) >= tx0)
        & (F.col(tx_col) <= tx1)
        & (F.col(ty_col) >= ty0)
        & (F.col(ty_col) <= ty1)
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r[2]), r[3])
                if px.ndim == 3:
                    px = px[..., 0]
                gx0, gy0 = int(r[0]) * tile_w, int(r[1]) * tile_w
                cx0, cx1 = max(x0, gx0), min(x1, gx0 + tile_w)
                cy0, cy1 = max(y0, gy0), min(y1, gy0 + tile_w)
                if cx0 >= cx1 or cy0 >= cy1:
                    continue
                sub = px[cy0 - gy0 : cy1 - gy0, cx0 - gx0 : cx1 - gx0].astype(
                    np.int64
                )
                gxs = np.arange(cx0, cx1, dtype=np.int64)[None, :]
                gys = np.arange(cy0, cy1, dtype=np.int64)[:, None]
                pos = gxs * stride + gys + 1
                rows.append(
                    (
                        int(sub.size),
                        int(sub.sum()),
                        int((sub * sub).sum()),
                        int((sub * pos).sum()),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["n_px", "sum_v", "sum_v2", "possum"]
            )

    parts = touched.select(tx_col, ty_col, "bytes", "fmt").mapInPandas(
        fn, schema="n_px long, sum_v long, sum_v2 long, possum long"
    )
    # coalesce: a window with NO stored tiles (sparse mosaic) is a valid
    # all-zero read, not a NULL row
    return parts.agg(
        F.lit(x1 - x0).cast("long").alias("w"),
        F.lit(y1 - y0).cast("long").alias("h"),
        F.coalesce(F.sum("n_px"), F.lit(0)).cast("long").alias("n_px"),
        F.coalesce(F.sum("sum_v"), F.lit(0)).cast("long").alias("sum_v"),
        F.coalesce(F.sum("sum_v2"), F.lit(0)).cast("long").alias("sum_v2"),
        F.coalesce(F.sum("possum"), F.lit(0)).cast("long").alias("possum"),
    )


def hillshade_stats(
    images: DataFrame,
    altitude_deg: float = 45.0,
    azimuth_deg: float = 315.0,
    z_scale: float = 1.0,
) -> DataFrame:
    """HORN HILLSHADE (the standard GIS illumination of an elevation
    raster — ESRI/GDAL ``hillshade``): per interior pixel the 3x3 Horn
    gradients and the illumination value for a light source at
    (altitude, azimuth), rolled up per image.

    Exactness: the Horn gradients are INTEGER convolutions — gx8 =
    (tr + 2r + br) - (tl + 2l + bl), gy8 = (bl + 2b + br) - (tl + 2t +
    tr) — summed as exact int64 (sum and sum-of-abs are order-free).
    The illumination

        shade = cos(zen)  + sin(zen) * sqrt((gx8/8)^2 + (gy8/8)^2)
                * cos(az - aspect)   ... collapsed to the standard
        shade = (cosZ + sinZ * (-sin(az)*gx8/8 - cos(az)*gy8/8))
                / sqrt(1 + (gx8/8)^2 + (gy8/8)^2)     (clamped at 0)

    (gradients divided by ``8 * z_scale`` — z_scale is the vertical
    unit per pixel, the GDAL ``-s`` flag) is quantized per pixel — round(shade * 1e6) as int64 from the two
    exact ints — before the order-free per-image sum (the house scheme);
    n_lit counts shade > 0 pixels exactly.

    Returns (image_id, n_interior, sum_abs_gx8, sum_abs_gy8,
    sum_shade_micro, n_lit).

    Scale: one Arrow pass, vectorized shifted views, no shuffle — the
    relief-rendering sweep of a 10^12-tile DEM runs at decode speed."""
    zen = math.radians(90.0 - altitude_deg)
    az = math.radians(azimuth_deg)
    cz, sz = math.cos(zen), math.sin(zen)
    ca, sa = math.cos(az), math.sin(az)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                z = px.astype(np.int64)
                tl, t_, tr = z[:-2, :-2], z[:-2, 1:-1], z[:-2, 2:]
                l_, r_ = z[1:-1, :-2], z[1:-1, 2:]
                bl, b_, br = z[2:, :-2], z[2:, 1:-1], z[2:, 2:]
                gx8 = (tr + 2 * r_ + br) - (tl + 2 * l_ + bl)
                gy8 = (bl + 2 * b_ + br) - (tl + 2 * t_ + tr)
                gx = gx8 / (8.0 * z_scale)
                gy = gy8 / (8.0 * z_scale)
                shade = (cz + sz * (-sa * gx - ca * gy)) / np.sqrt(
                    1.0 + gx * gx + gy * gy
                )
                shade = np.maximum(shade, 0.0)
                sm = np.round(shade * 1e6).astype(np.int64)
                rows.append(
                    (
                        r.image_id,
                        int(gx8.size),
                        int(np.abs(gx8).sum()),
                        int(np.abs(gy8).sum()),
                        int(sm.sum()),
                        int((sm > 0).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "n_interior", "sum_abs_gx8",
                    "sum_abs_gy8", "sum_shade_micro", "n_lit",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, n_interior long, sum_abs_gx8 long,"
        " sum_abs_gy8 long, sum_shade_micro long, n_lit long",
    )


DCT_Q = 4096  # dyadic quantization of the DCT basis (12 bits)


def dct_basis_q(n: int = 8) -> np.ndarray:
    """Orthonormal DCT-II basis with every entry rounded to a multiple of
    1/DCT_Q — exactly representable in float64 AND as short decimal SQL
    literals (the rh_plane_matrix trick applied to the JPEG basis). With
    8-bit pixels every product/sum in the transform is then EXACT in
    float64 (12+12+8 significant bits and dyadic scales stay far inside
    the 53-bit significand), so DCT coefficients are exact multiples of
    1/DCT_Q^2 and cross-engine comparisons are integer, not float."""
    k = np.arange(n)
    u = k[:, None]
    m = np.sqrt(2.0 / n) * np.cos((2 * k[None, :] + 1) * u * np.pi / (2 * n))
    m[0, :] = np.sqrt(1.0 / n)
    return np.round(m * DCT_Q) / DCT_Q


def dct_phash(images: DataFrame) -> DataFrame:
    """PERCEPTUAL HASH (the classic pHash design: 2-D DCT, low-frequency
    AC coefficients thresholded against their own average) computed
    EXACTLY: the quantized basis (``dct_basis_q``) makes every
    coefficient an exact multiple of 1/DCT_Q^2, so ``c_int = C *
    DCT_Q^2`` is an int64 and the threshold test is the pure-integer
    inequality ``63 * c_i > S_ac - c_i`` (c_i against the mean of all 63
    AC coefficients without division). No float comparison anywhere —
    the hash is bit-identical across engines, partitionings and BLAS
    summation orders by CONSTRUCTION, which is what lets phash-keyed
    dedup joins run as exact groupBys.

    Bit i (row-major AC order, skipping DC) is set iff coefficient i is
    above the AC average. Returns (image_id, phash64, n_ac_pos).

    Works on 8x8 tiles (the standard pHash takes the low 8x8 of a 32x32
    DCT — for the engine's 8x8 fixtures the transform IS the low block).

    Scale: one Arrow pass, two tiny matmuls per image, no shuffle."""
    Mq = dct_basis_q(8)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                assert px.shape == (8, 8), "dct_phash expects 8x8 tiles"
                C = Mq @ px.astype(np.float64) @ Mq.T
                c_int = np.rint(C * (DCT_Q * DCT_Q)).astype(np.int64)
                ac = c_int.ravel()[1:]  # row-major, DC dropped
                s_ac = int(ac.sum())
                bits = 63 * ac > (s_ac - ac)
                ph = int(
                    sum(1 << i for i, b in enumerate(bits.tolist()) if b)
                )
                rows.append((r.image_id, ph, int(bits.sum())))
            yield pd.DataFrame(
                rows, columns=["image_id", "phash64", "n_ac_pos"]
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, phash64 long, n_ac_pos long"
    )


def rle_mask(images: DataFrame, threshold: int = 128) -> DataFrame:
    """RUN-LENGTH ENCODE the binary mask (pixel >= threshold) of each
    image in row-major order — COCO-style mask compression, the wire
    format of segmentation labels in vision training sets. One output
    row per run of consecutive 1-pixels: (image_id, start_pos, run_len)
    with start_pos = y * w + x of the run's first pixel. Runs are pure
    integer positions, so a SQL twin recomputes them with the classic
    gaps-and-islands grouping (pos - dense rank over mask pixels).

    Scale: scan-shaped mapInPandas; runs are found with one np.diff
    over the flat mask per image (no per-pixel Python). Output size is
    O(boundary length), typically 50-500x smaller than the mask — this
    is the compression that makes 10^12 segmentation labels shippable.
    Pixel bytes never shuffle; downstream joins key on image_id."""

    thr = int(threshold)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                m = (px.ravel() >= thr).astype(np.int8)
                # boundaries: prepend/append 0 so every run has both edges
                d = np.diff(np.concatenate(([0], m, [0])))
                starts = np.flatnonzero(d == 1)
                ends = np.flatnonzero(d == -1)
                for s, e in zip(starts.tolist(), ends.tolist()):
                    rows.append((r.image_id, int(s), int(e - s)))
            yield pd.DataFrame(
                rows, columns=["image_id", "start_pos", "run_len"]
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, start_pos long, run_len long"
    )


def psnr_gate(
    pairs: DataFrame,
    factor: int = 10_000,
) -> DataFrame:
    """(image_id, n_px, sse, pass_gate, identical) — PSNR QUALITY GATE
    between two encodings of the same image: the per-row invariant the
    north rule pins ("decoded-pixel allclose, PSNR ≥ 40 dB for lossy")
    made an operator. ``factor`` = 10^(psnr_db/10) (10_000 ⇔ 40 dB).

    Log-free gate: PSNR ≥ db  ⇔  10·log10(255²·n/sse) ≥ db
                              ⇔  sse · factor ≤ 255² · n

    — an exact integer inequality (sse = Σ(a−b)², n = pixel count), so
    the pass/fail set is bit-identical in any engine; log10's last ulp
    never enters. identical (sse = 0) is the lossless-roundtrip check.
    Shape mismatches yield sse = NULL / pass_gate = false (a resize is
    never "within PSNR").

    Input: (image_id, bytes_a, fmt_a, bytes_b, fmt_b).

    Scale: one Arrow pass per pair batch, one output row per image —
    pixels never shuffle. Run it beside every lossy re-encode /
    augment / transcode stage as the release gate."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r.bytes_a), r.fmt_a)
                b = imagecodec.decode(bytes(r.bytes_b), r.fmt_b)
                if a.shape != b.shape:
                    rows.append((r.image_id, int(a.size), None, False, False))
                    continue
                d = a.astype(np.int64) - b.astype(np.int64)
                sse = int((d * d).sum())
                n = int(a.size)
                rows.append(
                    (
                        r.image_id,
                        n,
                        sse,
                        sse * factor <= 65025 * n,
                        sse == 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "n_px", "sse", "pass_gate", "identical"],
            )

    return pairs.select(
        "image_id", "bytes_a", "fmt_a", "bytes_b", "fmt_b"
    ).mapInPandas(
        fn,
        schema="image_id string, n_px long, sse long, pass_gate boolean,"
        " identical boolean",
    )


def psnr_gate_sql(px_pairs_cte: str, factor: int = 10_000) -> str:
    """DuckDB twin of psnr_gate over aligned pixel rows
    (image_id, va, vb) — identical integer gate (same-shape pairs)."""
    return f"""
WITH pg_px AS ({px_pairs_cte})
SELECT image_id, CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum((va - vb) * (va - vb)) AS BIGINT) AS sse,
       sum((va - vb) * (va - vb)) * {factor} <= 65025 * count(*)
         AS pass_gate,
       sum((va - vb) * (va - vb)) = 0 AS identical
FROM pg_px GROUP BY image_id
"""


