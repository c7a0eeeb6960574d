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


def equalize_images(images: DataFrame, with_bytes: bool = True) -> DataFrame:
    """HISTOGRAM EQUALIZATION — the classic contrast normalization applied
    per image before training/feature extraction. Pure integer transfer
    function, so every output pixel is engine-exact:

        cdf(v)  = #pixels <= v                      (per image)
        out(v)  = ((cdf(v) - cdf_min) * 255) // (n - cdf_min)

    with cdf_min = cdf at the image's min value (= its count) and n the
    pixel count; constant images (n == cdf_min) map to 0. Returns
    (image_id, w, h, px_sum, px_min, px_max [, bytes]) where the stats
    are over the EQUALIZED pixels (exact int64 — the oracle columns) and
    ``bytes`` is the equalized image re-encoded lossless (rawz).

    One mapInPandas; the per-image histogram/CDF is a 256-bin bincount +
    cumsum (vectorized, never a pixel sort), the remap a single LUT
    gather. Scan-shaped: no shuffle, bytes out ~= bytes in."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["image_id", "w", "h", "px_sum", "px_min", "px_max"]
        if with_bytes:
            cols.append("bytes")
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                n = px.size
                hist = np.bincount(px.ravel(), minlength=256)
                cdf = hist.cumsum()
                cdf_min = int(cdf[int(px.min())])
                if n == cdf_min:
                    lut = np.zeros(256, dtype=np.uint8)
                else:
                    lut = (
                        (cdf.astype(np.int64) - cdf_min) * 255 // (n - cdf_min)
                    ).clip(0, 255).astype(np.uint8)
                eq = lut[px]
                row = [
                    r.image_id, int(r.w), int(r.h),
                    int(eq.astype(np.int64).sum()), int(eq.min()), int(eq.max()),
                ]
                if with_bytes:
                    row.append(imagecodec.encode_rawz(eq))
                rows.append(tuple(row))
            yield pd.DataFrame(rows, columns=cols)

    schema = "image_id string, w int, h int, px_sum long, px_min long, px_max long"
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


def sobel_stats(images: DataFrame, threshold: int = 256) -> DataFrame:
    """(image_id, grad_l1, edge_count, interior_count) — integer-exact
    Sobel gradient energy and edge density, the texture/edge gate of an
    image-curation pipeline (complements ``sharpness_features``: Laplacian
    energy measures focus, Sobel L1 measures structure).

    For each interior pixel (x, y) with p(x, y) the 8-bit intensity:

        Gx = (p(x+1,y-1) + 2 p(x+1,y) + p(x+1,y+1))
           - (p(x-1,y-1) + 2 p(x-1,y) + p(x-1,y+1))
        Gy = (p(x-1,y+1) + 2 p(x,y+1) + p(x+1,y+1))
           - (p(x-1,y-1) + 2 p(x,y-1) + p(x+1,y-1))
        g  = |Gx| + |Gy|                      (L1 magnitude — stays int)

    ``grad_l1`` = sum g, ``edge_count`` = #(g >= ``threshold``),
    ``interior_count`` = (w-2)*(h-2). All int64 (g <= 2040, so a 4096^2
    image sums < 2^45) — exact on both engines, and a DuckDB twin can
    recompute every neighbor from the deterministic pixel formula.

    Scale: Arrow-batched mapInPandas, the NumPy stencil touches each pixel
    once, pixel bytes never shuffle — scan-shaped like decode_stats."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, l1s, edges, counts = [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                gx = (
                    px[:-2, 2:] + 2 * px[1:-1, 2:] + px[2:, 2:]
                    - px[:-2, :-2] - 2 * px[1:-1, :-2] - px[2:, :-2]
                )
                gy = (
                    px[2:, :-2] + 2 * px[2:, 1:-1] + px[2:, 2:]
                    - px[:-2, :-2] - 2 * px[:-2, 1:-1] - px[:-2, 2:]
                )
                g = np.abs(gx) + np.abs(gy)
                ids.append(r.image_id)
                l1s.append(int(g.sum()))
                edges.append(int((g >= threshold).sum()))
                counts.append(int(g.size))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "grad_l1": l1s,
                    "edge_count": edges,
                    "interior_count": counts,
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, grad_l1 long, edge_count long,"
            " interior_count long"
        ),
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


def otsu_threshold(images: DataFrame) -> DataFrame:
    """OTSU BINARIZATION THRESHOLD per image — the classic automatic
    foreground/background split (Otsu 1979), the gate in front of
    ``vectorize_images``' fixed-threshold mask and a standard document/
    scan-quality feature.

    For each candidate t in [0, 254] with background = pixels <= t:
    w0/w1 the class populations, s0/s1 the class intensity sums, the
    between-class variance is proportional to

        score(t) = num^2 / (w0 * w1),   num = s0*w1 - s1*w0

    and the returned ``threshold`` is the argmax (deterministic tie-break:
    smallest t; candidates with an empty class are skipped). ``num`` and
    the class stats are EXACT int64 cumulative sums over the 256-bin
    histogram; the score is a three-float-op assembly (double(num) squared
    over double(w0*w1)) executed identically by the SQL twin, so the
    argmax — an order over bit-identical doubles with an integer
    tie-break — is engine-stable. Exactness bound: 255 * n_px^2 <= 2^53,
    i.e. images up to ~5.9e6 pixels keep double(num) exact.

    Constant images (no candidate splits both classes) return
    threshold = the constant value, score 0.0, n_fg 0.

    Returns (image_id, threshold, score, n_bg, n_fg).

    Scale: scan-shaped mapInPandas — a 256-bin bincount + cumsum per
    image (vectorized, never a pixel sort), 5 small columns out, pixel
    bytes never shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                n = int(px.size)
                hist = np.bincount(px.ravel(), minlength=256).astype(np.int64)
                w0 = hist.cumsum()[:255]
                s0 = (hist * np.arange(256, dtype=np.int64)).cumsum()[:255]
                s_all = int(s0[-1] + hist[255] * 255)
                w1 = n - w0
                valid = (w0 > 0) & (w1 > 0)
                if not valid.any():
                    v = int(px.ravel()[0])
                    rows.append((r.image_id, v, 0.0, n, 0))
                    continue
                num = s0 * w1 - (s_all - s0) * w0
                denom = np.where(valid, w0 * w1, 1).astype(np.float64)
                score = np.where(
                    valid, num.astype(np.float64) ** 2 / denom, -1.0
                )
                t = int(np.argmax(score))  # first max = smallest t
                rows.append(
                    (r.image_id, t, int(num[t]), int(w0[t]), int(w1[t]))
                )
            yield pd.DataFrame(
                rows,
                columns=["image_id", "threshold", "_num", "n_bg", "n_fg"],
            )

    raw = images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, threshold int, _num long, n_bg long,"
            " n_fg long"
        ),
    )
    # the published score is assembled JVM-side from the kernel's exact
    # integers so its rounding mode matches the SQL twin's round()
    num_d = F.col("_num").cast("double")
    score = F.when(
        F.col("n_fg") > 0,
        F.round(
            num_d * num_d / (F.col("n_bg") * F.col("n_fg")).cast("double"), 6
        )
        + F.lit(0.0),
    ).otherwise(F.lit(0.0))
    return raw.select(
        "image_id", "threshold", score.alias("score"), "n_bg", "n_fg"
    )


def image_moments(images: DataFrame) -> DataFrame:
    """RAW + CENTRAL IMAGE MOMENTS per image — the shape-descriptor
    primitive (centroid, spread, principal orientation) behind blob
    tracking, template registration and Hu-invariant features.

    Raw moments m_pq = sum_xy x^p * y^q * v(x, y) for p+q <= 2 are EXACT
    int64 (x is the column index, y the row index; bound: a 4096^2 uint8
    image keeps m22-free sums < 2^53). The derived floats replay in the
    identical order on both engines:

        cx = m10/m00, cy = m01/m00
        mu20 = m20 - m10*cx, mu02 = m02 - m01*cy, mu11 = m11 - m10*cy
        theta = 0.5 * atan2(2*mu11, mu20 - mu02)

    Returns (image_id, m00, m10, m01, m20, m11, m02, cx, cy, theta) —
    six exact integers + four rounded floats. Blank (all-zero) images
    yield NULL floats (m00 = 0 has no centroid).

    Scale: one vectorized pass per image (row/column marginal sums — no
    per-pixel Python), scan-shaped mapInPandas, nothing shuffles."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(
                        np.int64
                    )
                except NotImplementedError:
                    continue
                h, w = px.shape
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                colsum = px.sum(axis=0)
                rowsum = px.sum(axis=1)
                m00 = int(px.sum())
                m10 = int((colsum * xs).sum())
                m01 = int((rowsum * ys).sum())
                m20 = int((colsum * xs * xs).sum())
                m02 = int((rowsum * ys * ys).sum())
                m11 = int((xs * (ys @ px)).sum())
                rows.append(
                    (r.image_id, m00, m10, m01, m20, m11, m02)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "m00", "m10", "m01", "m20", "m11", "m02",
                ],
            )

    raw = images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, m00 long, m10 long, m01 long, m20 long,"
            " m11 long, m02 long"
        ),
    )
    # float assembly JVM-side from the kernel's exact integers, so the
    # divide/atan2/round sequence is the one the SQL twin replays
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    cx = d("m10") / d("m00")
    cy = d("m01") / d("m00")
    mu20 = d("m20") - d("m10") * cx
    mu02 = d("m02") - d("m01") * cy
    mu11 = d("m11") - d("m10") * cy
    blank = F.col("m00") == 0
    nd = F.lit(None).cast("double")
    return raw.select(
        "image_id", "m00", "m10", "m01", "m20", "m11", "m02",
        F.when(blank, nd).otherwise(F.round(cx, 6) + F.lit(0.0)).alias("cx"),
        F.when(blank, nd).otherwise(F.round(cy, 6) + F.lit(0.0)).alias("cy"),
        F.when(blank, nd)
        .otherwise(
            F.round(
                F.lit(0.5) * F.atan2(F.lit(2.0) * mu11, mu20 - mu02), 6
            )
            + F.lit(0.0)
        )
        .alias("theta"),
    )


GLCM_HOMOG_SCALE = 1_000_000


def glcm_features(
    images: DataFrame, levels: int = 16, dx: int = 1, dy: int = 0
) -> DataFrame:
    """GLCM (Haralick) TEXTURE FEATURES per image — the gray-level
    co-occurrence statistics (Haralick 1973) behind texture gates in
    image curation: contrast (local variation), energy (orderliness),
    dissimilarity, and fixed-point homogeneity, from the co-occurrence
    counts of quantized pixel pairs at offset (``dx``, ``dy``).

    Pixels quantize to ``levels`` bins (v * levels // 256); for every
    in-bounds pixel pair (p, p_offset) with quantized values (a, b) the
    count n(a, b) accumulates. All features are EXACT int64:

        n_pairs  = sum n
        contrast = sum n * (a - b)^2
        dissim   = sum n * |a - b|
        energy   = sum n^2
        homog_q  = sum n * W(|a - b|),  W(d) = round(1e6 / (1 + d))

    W is a precomputed 16-entry integer table (the decayed_heatmap
    fixed-point trick), so homogeneity — classically sum n/(1+d) — needs
    no float anywhere and no rounding-mode reconciliation; both engines
    sum identical integers in any order.

    Scale: scan-shaped mapInPandas; the co-occurrence histogram is one
    vectorized bincount per image (levels^2 bins), 5 small columns out,
    pixel bytes never shuffle."""
    assert 256 % levels == 0 and dx >= 0
    shift = 256 // levels
    w_tab = np.array(
        [round(GLCM_HOMOG_SCALE / (1 + d)) for d in range(levels)],
        dtype=np.int64,
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                q = (px // shift).astype(np.int64)
                h, w = q.shape
                if dy >= 0:
                    a = q[: h - dy, : w - dx]
                    b = q[dy:, dx:]
                else:
                    a = q[-dy:, : w - dx]
                    b = q[: h + dy, dx:]
                cnt = np.bincount(
                    (a * levels + b).ravel(), minlength=levels * levels
                ).astype(np.int64)
                ii = np.arange(levels * levels, dtype=np.int64)
                d = np.abs(ii // levels - ii % levels)
                rows.append(
                    (
                        r.image_id,
                        int(cnt.sum()),
                        int((cnt * d * d).sum()),
                        int((cnt * d).sum()),
                        int((cnt * cnt).sum()),
                        int((cnt * w_tab[d]).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "n_pairs", "contrast", "dissim", "energy",
                    "homog_q",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_pairs long, contrast long, dissim long,"
            " energy long, homog_q long"
        ),
    )


def median_filter_stats(images: DataFrame, with_bytes: bool = False) -> DataFrame:
    """3x3 MEDIAN FILTER per image — the classic salt-and-pepper denoise
    pass of scan/document cleanup pipelines. Each INTERIOR pixel becomes
    the median of its 3x3 neighborhood; with 9 integer inputs the median
    is the exact 5th order statistic — a pure integer, no rounding mode
    anywhere — so the emitted stats (filtered px_sum / px_min / px_max
    over the interior, exact int64) are engine-exact and a SQL twin can
    recompute them from the deterministic pixel formula with a 9-value
    median aggregate.

    Returns (image_id, w, h, px_sum, px_min, px_max [, bytes]) where
    w, h are the INTERIOR dims (w-2, h-2) and ``bytes`` re-encodes the
    filtered interior lossless (rawz).

    Scale: scan-shaped mapInPandas; the kernel stacks the 9 shifted
    views and takes one vectorized sort along the stack axis — no
    per-pixel Python, pixel bytes never shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["image_id", "w", "h", "px_sum", "px_min", "px_max"]
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
                if h < 3 or w < 3:
                    continue
                stack = np.stack(
                    [
                        px[dy : h - 2 + dy, dx : w - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    ],
                    axis=0,
                ).astype(np.int64)
                stack.sort(axis=0)
                med = stack[4]  # exact 5th order statistic of 9 ints
                row = [
                    r.image_id, w - 2, h - 2,
                    int(med.sum()), int(med.min()), int(med.max()),
                ]
                if with_bytes:
                    row.append(imagecodec.encode_rawz(med.astype(np.uint8)))
                rows.append(tuple(row))
            yield pd.DataFrame(rows, columns=cols)

    schema = (
        "image_id string, w int, h int, px_sum long, px_min long,"
        " px_max long"
    )
    if with_bytes:
        schema += ", bytes binary"
    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema=schema
    )


def distance_transform_rows(images: DataFrame, threshold: int = 128) -> DataFrame:
    """(image_id, y, row_dt_sum, row_dt_max, row_mask_count) — the EXACT
    L1 (city-block) distance transform per image, reported as one row
    per pixel ROW: dt(p) = min over mask pixels q of |px-qx| + |py-qy|,
    mask = {pixels >= threshold}, dt = 0 on the mask itself, and
    dt = w + h everywhere when the mask is empty (the natural cap — the
    true distance can never exceed (w-1)+(h-1)). The proximity field
    under every morphological gate: "how far is each pixel from ink" —
    skeletonization, seed growing, mask dilation by r = one threshold on
    dt.

    Exactness: the separable two-pass chamfer is exact for L1 — a
    vertical sweep (down then up, np.minimum running scan) yields each
    column's distance-to-mask-in-column, and a horizontal sweep of the
    same shape over that field completes min(col_dist(x', y) + |x - x'|).
    All int64, no float anywhere.

    Per-ROW sums (not per-image) so the oracle comparison pins the whole
    field, not an aggregate a compensating error could fake.

    Scale: Arrow-batched mapInPandas; each sweep is O(pixels) with
    NumPy row-vector ops; pixel bytes never shuffle; output rows carry
    4 int64s per image row — bytes out << bytes in."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ys, sums, maxs, mcounts = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                h, w = px.shape
                big = np.int64(w + h)
                mask = px >= threshold
                d = np.where(mask, np.int64(0), big)
                for y in range(1, h):  # down
                    d[y] = np.minimum(d[y], d[y - 1] + 1)
                for y in range(h - 2, -1, -1):  # up
                    d[y] = np.minimum(d[y], d[y + 1] + 1)
                for x in range(1, w):  # right
                    d[:, x] = np.minimum(d[:, x], d[:, x - 1] + 1)
                for x in range(w - 2, -1, -1):  # left
                    d[:, x] = np.minimum(d[:, x], d[:, x + 1] + 1)
                d = np.minimum(d, big)  # empty-mask cap
                ids += [r.image_id] * h
                ys += list(range(h))
                sums += [int(v) for v in d.sum(axis=1)]
                maxs += [int(v) for v in d.max(axis=1)]
                mcounts += [int(v) for v in mask.sum(axis=1)]
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "y": np.array(ys, dtype=np.int32),
                    "row_dt_sum": np.array(sums, dtype=np.int64),
                    "row_dt_max": np.array(maxs, dtype=np.int64),
                    "row_mask_count": np.array(mcounts, dtype=np.int64),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, y int, row_dt_sum long, row_dt_max long,"
            " row_mask_count long"
        ),
    )


def hog_features(images: DataFrame) -> DataFrame:
    """(image_id, bin, mag_sum, n_px) — HOG-lite: an 8-bin gradient-
    ORIENTATION histogram per image, magnitude-weighted, integer-exact.
    The structure descriptor under blur/synthetic-texture curation
    gates and cheap near-dup blocking (orientation signatures survive
    brightness shifts that break raw-pixel hashes).

    Central differences on interior pixels:

        gx = p(x+1, y) - p(x-1, y)        gy = p(x, y+1) - p(x, y-1)
        bin = 4*(gy < 0) + 2*(gx < 0) + (|gy| > |gx|)   in [0, 8)
        weight = |gx| + |gy|              (L1 magnitude — stays int)

    The octant code replaces atan2 with two sign tests and one
    comparison — fully integer, so the histogram hash-matches a pure-SQL
    twin recomputing every neighbor from the deterministic pixel
    formula. All 8 bins are emitted (zero rows included): the histogram
    SHAPE is part of the contract.

    Scale: one vectorized pass per image inside mapInPandas, 8 rows of
    3 int64s out per image — scan-shaped like sobel_stats."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, bins_, mags, cnts = [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                gx = px[1:-1, 2:] - px[1:-1, :-2]
                gy = px[2:, 1:-1] - px[:-2, 1:-1]
                b = (
                    4 * (gy < 0).astype(np.int64)
                    + 2 * (gx < 0).astype(np.int64)
                    + (np.abs(gy) > np.abs(gx)).astype(np.int64)
                )
                wgt = np.abs(gx) + np.abs(gy)
                # int64 per-bin sums (bincount's weights= path goes
                # through float64; stay integer end to end)
                flat_b, flat_w = b.ravel(), wgt.ravel()
                mag = np.zeros(8, dtype=np.int64)
                np.add.at(mag, flat_b, flat_w)
                cnt = np.bincount(flat_b, minlength=8)
                ids += [r.image_id] * 8
                bins_ += list(range(8))
                mags += [int(v) for v in mag]
                cnts += [int(v) for v in cnt]
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "bin": np.array(bins_, dtype=np.int32),
                    "mag_sum": np.array(mags, dtype=np.int64),
                    "n_px": np.array(cnts, dtype=np.int64),
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, bin int, mag_sum long, n_px long"
    )


def warp_affine(
    images: DataFrame,
    coeffs: tuple[int, int, int, int, int, int],
    with_bytes: bool = False,
) -> DataFrame:
    """(image_id, w, h, px_sum, px_min, px_max, inb_count[, bytes, fmt])
    — nearest-neighbor AFFINE WARP with integer fixed-point semantics
    (the rotate/shear/scale stage of a geometric-augmentation chain, and
    the registration primitive for tile alignment):

        src_x = floor((a*x + b*y + c) / 256)
        src_y = floor((d*x + e*y + f) / 256)

    with ``coeffs`` = (a, b, c, d, e, f) INTEGER numerators over the
    fixed denominator 256 — e.g. a 15-degree rotation is
    (247, -66, ..., 66, 247, ...) since cos 15 ~ 247/256. Out-of-bounds
    sources fill 0. floor (not truncate-toward-zero) so negative
    intermediate sums behave identically in NumPy (arithmetic >> 8),
    Spark, and the SQL twin — the whole position map is exact integer
    arithmetic, no resampling float anywhere.

    Stats are over the full output canvas (same shape as the input);
    ``inb_count`` = pixels whose source landed in bounds.

    Scale: one vectorized gather per image inside mapInPandas; pixel
    bytes never shuffle; with_bytes=False ships 5 int64s per image."""
    a, b, c, d, e, f = (int(v) for v in coeffs)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "image_id": [], "w": [], "h": [], "px_sum": [],
                "px_min": [], "px_max": [], "inb_count": [],
            }
            if with_bytes:
                out["bytes"] = []
                out["fmt"] = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                h, w = px.shape
                ys, xs = np.mgrid[0:h, 0:w].astype(np.int64)
                sx = (a * xs + b * ys + np.int64(c)) >> 8  # floor
                sy = (d * xs + e * ys + np.int64(f)) >> 8
                inb = (sx >= 0) & (sx < w) & (sy >= 0) & (sy < h)
                warped = np.zeros((h, w), dtype=np.uint8)
                warped[inb] = px[sy[inb], sx[inb]]
                out["image_id"].append(r.image_id)
                out["w"].append(w)
                out["h"].append(h)
                out["px_sum"].append(int(warped.astype(np.int64).sum()))
                out["px_min"].append(int(warped.min()))
                out["px_max"].append(int(warped.max()))
                out["inb_count"].append(int(inb.sum()))
                if with_bytes:
                    out["bytes"].append(imagecodec.encode_rawz(warped))
                    out["fmt"].append("rawz")
            yield pd.DataFrame(out)

    schema = (
        "image_id string, w int, h int, px_sum long, px_min long,"
        " px_max long, inb_count long"
    )
    if with_bytes:
        schema += ", bytes binary, fmt string"
    return images.select("image_id", "bytes", "fmt").mapInPandas(fn, schema=schema)


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


def image_entropy(images: DataFrame) -> DataFrame:
    """SHANNON ENTROPY of each image's intensity histogram (bits are
    nats here) — the classic texture/information score used for
    training-crop selection and dud-image filtering (uniform gray -> 0;
    saturated noise -> ln 256).

    The quantized-term-sum exactness scheme, per image: with c_v the
    count of pixels at value v and n total,

        H = ln(n) - (sum_v c_v * ln(c_v)) / n

    each term is quantized FIRST — t_v = round(c_v * ln(c_v) * 1e6)
    int64 — inside the kernel (numpy, deterministic), so ``s_q`` is the
    exact hash-stable core and ``entropy`` a two-float-op assembly.

    Returns (image_id, n_px, n_values, s_q, entropy).

    Scale: one Arrow pass, a 256-bin bincount per image, no shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                c = np.bincount(px.ravel(), minlength=256).astype(np.int64)
                nz = c[c > 0]
                n = int(px.size)
                s_q = int(
                    np.round(nz.astype(np.float64) * np.log(nz) * 1e6)
                    .astype(np.int64)
                    .sum()
                )
                ent = round(math.log(n) - (s_q / 1e6) / n, 6) + 0.0
                rows.append((r.image_id, n, int(len(nz)), s_q, ent))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "n_px", "n_values", "s_q", "entropy"],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, n_px long, n_values long, s_q long,"
        " entropy double",
    )


def block_motion(
    pairs: DataFrame,
    search: int = 2,
    id_col: str = "pair_id",
) -> DataFrame:
    """BLOCK MOTION ESTIMATION (the SAD block-matcher at the core of
    video codecs and frame-pair dedup): for each (frame_a, frame_b) row,
    the integer displacement (dx, dy) in [-search, search]^2 minimizing
    the mean absolute difference over the overlap region
    a[y, x] vs b[y + dy, x + dx].

    Deterministic: candidates are ranked by (sad / overlap) — the
    division of two exact ints is one IEEE op, identical in any engine —
    with (dy, dx) tie-break; outputs are exact integers (best offset,
    its raw SAD and overlap size). An exact translation scores SAD 0 at
    the true offset.

    Expects columns (id_col, bytes_a, fmt_a, bytes_b, fmt_b).

    Scale: one Arrow pass per pair, (2*search+1)^2 vectorized absdiff
    sums per row, no shuffle — the temporal-dedup sweep over 10^12
    frame pairs is scan-shaped."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                b = imagecodec.decode(bytes(r[3]), r[4])
                if a.ndim == 3:
                    a = a[..., 0]
                if b.ndim == 3:
                    b = b[..., 0]
                h, w = a.shape
                best = None
                for dy in range(-search, search + 1):
                    ay0, ay1 = max(0, -dy), min(h, h - dy)
                    by0, by1 = ay0 + dy, ay1 + dy
                    for dx in range(-search, search + 1):
                        ax0, ax1 = max(0, -dx), min(w, w - dx)
                        bx0, bx1 = ax0 + dx, ax1 + dx
                        sub_a = a[ay0:ay1, ax0:ax1].astype(np.int64)
                        sub_b = b[by0:by1, bx0:bx1].astype(np.int64)
                        n = sub_a.size
                        if n == 0:
                            continue
                        sad = int(np.abs(sub_a - sub_b).sum())
                        key = (sad / n, dy, dx)
                        if best is None or key < best[0]:
                            best = (key, dx, dy, sad, n)
                rows.append((r[0], best[1], best[2], best[3], best[4]))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "best_dx", "best_dy", "best_sad", "overlap_px"],
            )

    return pairs.mapInPandas(
        fn,
        schema=f"{id_col} long, best_dx long, best_dy long, best_sad long,"
        " overlap_px long",
    )


def min_seam(images: DataFrame) -> DataFrame:
    """MIN-COST VERTICAL SEAM (the seam-carving / content-aware-retarget
    DP, and the stitching-cut primitive of panorama blending): over the
    INTERIOR grid (central differences need both neighbors) each pixel's
    energy is the exact integer |dx| + |dy| gradient, and the classic
    dynamic program

        dp[y][x] = e[y][x] + min(dp[y-1][x-1], dp[y-1][x], dp[y-1][x+1])

    finds the cheapest 8-connected top-to-bottom path. Everything is
    int64 — energies, dp, cost — so the result is engine-exact; the
    reported seam anchor is argmin over the last row (tie: min x).

    Returns (image_id, seam_cost, seam_end_x, energy_total).

    Scale: one Arrow pass, H vectorized row relaxations per image, no
    shuffle (DTW's wavefront shape, one row at a time)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                if px.ndim == 3:
                    px = px[..., 0]
                z = px.astype(np.int64)
                e = (
                    np.abs(z[1:-1, 2:] - z[1:-1, :-2])
                    + np.abs(z[2:, 1:-1] - z[:-2, 1:-1])
                )
                h, w = e.shape
                big = np.int64(1) << 40
                dp = e[0].copy()
                for y in range(1, h):
                    left = np.concatenate(([big], dp[:-1]))
                    right = np.concatenate((dp[1:], [big]))
                    dp = e[y] + np.minimum(np.minimum(left, dp), right)
                cost = int(dp.min())
                end_x = int(np.flatnonzero(dp == cost)[0])
                rows.append((r.image_id, cost, end_x, int(e.sum())))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "seam_cost", "seam_end_x", "energy_total"],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, seam_cost long, seam_end_x long,"
        " energy_total long",
    )


def histogram_match(pairs: DataFrame, id_col: str = "pair_id") -> DataFrame:
    """HISTOGRAM MATCHING (hist_equalize's two-image sibling — the
    color/exposure normalizer of mosaic and dataset harmonization):
    remap source image A so its intensity distribution matches reference
    B, with the exact integer LUT

        LUT[v] = min u such that cdf_B(u) >= cdf_A(v)

    (cdfs are raw pixel COUNTS compared cross-multiplied —
    cdf_A(v) * n_B <= cdf_B(u) * n_A — so no division and no floats
    anywhere; images of different sizes match exactly).

    Expects (id_col, bytes_a, fmt_a, bytes_b, fmt_b). Returns exact
    integer evidence per pair: (id, lut_checksum = sum LUT[v]*(v+1) over
    v present in A, out_sum, out_min, out_max) where out_* describe the
    remapped A.

    Scale: one Arrow pass per pair, two 256-bin bincounts + a
    searchsorted — scan-shaped harmonization of 10^12 tile pairs."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                b = imagecodec.decode(bytes(r[3]), r[4])
                if a.ndim == 3:
                    a = a[..., 0]
                if b.ndim == 3:
                    b = b[..., 0]
                ca = np.bincount(a.ravel(), minlength=256).astype(np.int64)
                cb = np.bincount(b.ravel(), minlength=256).astype(np.int64)
                na, nb = int(a.size), int(b.size)
                cdfa = np.cumsum(ca)
                cdfb = np.cumsum(cb)
                # LUT[v] = min u with cdfa[v] * nb <= cdfb[u] * na
                lut = np.searchsorted(cdfb * na, cdfa * nb, side="left")
                lut = np.minimum(lut, 255).astype(np.int64)
                out = lut[a.astype(np.int64)]
                present = ca > 0
                vs = np.arange(256, dtype=np.int64)
                checksum = int((lut[present] * (vs[present] + 1)).sum())
                rows.append(
                    (
                        r[0],
                        checksum,
                        int(out.sum()),
                        int(out.min()),
                        int(out.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "lut_checksum", "out_sum", "out_min", "out_max"],
            )

    return pairs.mapInPandas(
        fn,
        schema=f"{id_col} long, lut_checksum long, out_sum long,"
        " out_min long, out_max long",
    )


def morphology_stats(images: DataFrame) -> DataFrame:
    """3x3 MORPHOLOGY per image — erosion (neighborhood MIN), dilation
    (neighborhood MAX) and the morphological gradient (dilate - erode,
    the classic edge-strength / boundary-extraction operator of mask
    cleanup pipelines). Min/max of 9 integers are pure order statistics
    — no rounding mode anywhere — so the emitted interior stats are
    engine-exact and a SQL twin recomputes them from the deterministic
    pixel formula with plain min()/max() aggregates over the 9-shift
    neighborhood.

    Returns (image_id, w, h, erode_sum, dilate_sum, grad_sum, grad_max)
    where w, h are the INTERIOR dims (w-2, h-2), all stats exact int64.

    Reference parity note: osm2geojson has no raster layer; this extends
    the engine's multimodal family (SURVEY §2.3 E7/X-series) the same
    way median_filter_stats does.

    Scale: scan-shaped mapInPandas; the kernel stacks the 9 shifted
    views and reduces with vectorized min/max along the stack axis — no
    per-pixel Python, pixel bytes never shuffle, output is O(rows)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "image_id", "w", "h",
            "erode_sum", "dilate_sum", "grad_sum", "grad_max",
        ]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                h, w = px.shape
                if h < 3 or w < 3:
                    continue
                stack = np.stack(
                    [
                        px[dy : h - 2 + dy, dx : w - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    ],
                    axis=0,
                ).astype(np.int64)
                ero = stack.min(axis=0)
                dil = stack.max(axis=0)
                grad = dil - ero
                rows.append(
                    (
                        r.image_id, w - 2, h - 2,
                        int(ero.sum()), int(dil.sum()),
                        int(grad.sum()), int(grad.max()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, w int, h int, erode_sum long,"
            " dilate_sum long, grad_sum long, grad_max long"
        ),
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


def integral_box_sums(
    images: DataFrame, boxes: list[tuple[int, int, int, int]]
) -> DataFrame:
    """SUMMED-AREA TABLE box queries per image — build the integral
    image I (2D inclusive prefix sum) once, then answer every
    rectangle-sum query in O(1) from 4 corners:

        sum(x0..x1, y0..y1) = I[y1,x1] - I[y0-1,x1] - I[y1,x0-1]
                              + I[y0-1,x0-1]

    This is the Viola-Jones / box-filter primitive: brightness gates,
    region exposure stats, and multi-crop QC over training images all
    reduce to rectangle sums. ``boxes`` is a list of inclusive pixel
    rects (x0, y0, x1, y1); boxes falling outside an image are clipped.
    Returns one row per (image, box): (image_id, box_id, box_sum) with
    box_sum the exact int64 pixel sum — a SQL twin recomputes it by
    summing the deterministic pixel formula over the rect directly, so
    any corner-arithmetic bug in the SAT breaks the hash.

    Scale: one mapInPandas scan; the SAT is two vectorized cumsums per
    image and all queries share it — k box queries cost O(w*h + k),
    not O(k*w*h). Pixel bytes never shuffle."""

    bx = [(int(a), int(b), int(c), int(d)) for a, b, c, d in boxes]

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                h, w = px.shape
                # zero-padded SAT: sat[y+1, x+1] = sum of px[:y+1,:x+1]
                sat = np.zeros((h + 1, w + 1), dtype=np.int64)
                np.cumsum(px, axis=0, dtype=np.int64, out=sat[1:, 1:])
                np.cumsum(sat[1:, 1:], axis=1, out=sat[1:, 1:])
                for bid, (x0, y0, x1, y1) in enumerate(bx):
                    cx0, cy0 = max(x0, 0), max(y0, 0)
                    cx1, cy1 = min(x1, w - 1), min(y1, h - 1)
                    if cx0 > cx1 or cy0 > cy1:
                        continue
                    s = int(
                        sat[cy1 + 1, cx1 + 1]
                        - sat[cy0, cx1 + 1]
                        - sat[cy1 + 1, cx0]
                        + sat[cy0, cx0]
                    )
                    rows.append((r.image_id, bid, s))
            yield pd.DataFrame(rows, columns=["image_id", "box_id", "box_sum"])

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, box_id int, box_sum long"
    )


def harris_corners(images: DataFrame) -> DataFrame:
    """HARRIS CORNER RESPONSE per image, integer-exact — the classic
    keypoint / registration-anchor detector. Central-difference
    gradients on interior pixels (hog_features' convention), structure
    tensor summed over each 3x3 window, and the response with k = 1/16
    cleared of fractions:

        R = 16 * (Sxx * Syy - Sxy^2) - (Sxx + Syy)^2

    (k = 1/16 is within the standard 0.04-0.06 band and makes R pure
    int64 — no float k, no rounding mode). Valid region: pixels with a
    full 3x3 gradient neighborhood (2..w-3 x 2..h-3).

    Returns (image_id, n_pos, r_sum, r_max, x_max, y_max): the count of
    positive-response pixels, exact response sum/max, and the argmax
    position with the deterministic tie-break min(y * w + x).

    Scale: one mapInPandas scan — 3 gradient-product maps, 9 shifted
    views summed per map, all vectorized; 1 row per image out. The
    int64 bound: |g| <= 510, window sums <= ~2.3e7, det term <= ~2^63/16
    — safe for any 8-bit image."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["image_id", "n_pos", "r_sum", "r_max", "x_max", "y_max"]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    px = imagecodec.decode(bytes(r.bytes), r.fmt)
                except NotImplementedError:
                    continue
                px = px.astype(np.int64)
                h, w = px.shape
                if h < 5 or w < 5:
                    continue
                gx = px[1:-1, 2:] - px[1:-1, :-2]
                gy = px[2:, 1:-1] - px[:-2, 1:-1]
                xx, yy, xy = gx * gx, gy * gy, gx * gy

                def winsum(m):
                    mh, mw = m.shape
                    return sum(
                        m[dy : mh - 2 + dy, dx : mw - 2 + dx]
                        for dy in range(3)
                        for dx in range(3)
                    )

                sxx, syy, sxy = winsum(xx), winsum(yy), winsum(xy)
                resp = 16 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
                flat = resp.ravel()
                am = int(flat.argmax())  # first occurrence = min row-major
                ay, ax = divmod(am, resp.shape[1])
                rows.append(
                    (
                        r.image_id,
                        int((flat > 0).sum()),
                        int(flat.sum()),
                        int(flat.max()),
                        ax + 2,  # back to original image frame
                        ay + 2,
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_pos long, r_sum long, r_max long,"
            " x_max int, y_max int"
        ),
    )


def mutual_information(pairs: DataFrame, id_col: str = "pair_id") -> DataFrame:
    """MUTUAL INFORMATION between image pairs — the registration /
    alignment metric (max-MI is how multi-modal tiles are co-registered
    when raw intensities don't correlate linearly; near-zero MI flags a
    misaligned or unrelated pair in curation QC).

        MI = ln n + (S_ab - S_a - S_b) / n,   S = sum c * ln c

    over the marginal (256-bin) and joint (256x256-bin) histograms of
    the two equal-size images. Each S is emitted micro-quantized
    (image_entropy's scheme: per-bin round(c * ln c * 1e6) as int64,
    then an order-free integer sum), so the heavy lifting is
    hash-exact; ``mi`` is one short replayable float assembly.

    Expects (id_col, bytes_a, fmt_a, bytes_b, fmt_b); pairs whose
    decoded shapes differ are dropped (align upstream).

    Returns (id_col, n_px, n_joint, sa_q, sb_q, sab_q, mi).

    Scale: one Arrow pass per pair — two bincounts + one 65536-bin
    joint bincount (a*256+b), no shuffle; the joint histogram never
    materializes outside the batch."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [id_col, "n_px", "n_joint", "sa_q", "sb_q", "sab_q", "mi"]
        in_cols = [id_col, "bytes_a", "fmt_a", "bytes_b", "fmt_b"]
        for pdf in it:
            pdf = pdf[in_cols]
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                b = imagecodec.decode(bytes(r[3]), r[4])
                if a.ndim == 3:
                    a = a[..., 0]
                if b.ndim == 3:
                    b = b[..., 0]
                if a.shape != b.shape:
                    continue
                n = int(a.size)
                av = a.ravel().astype(np.int64)
                bv = b.ravel().astype(np.int64)

                def s_q(counts):
                    nz = counts[counts > 0].astype(np.float64)
                    return int(
                        np.round(nz * np.log(nz) * 1e6).astype(np.int64).sum()
                    )

                ca = np.bincount(av, minlength=256)
                cb = np.bincount(bv, minlength=256)
                cab = np.bincount(av * 256 + bv, minlength=65536)
                sa, sb, sab = s_q(ca), s_q(cb), s_q(cab)
                mi = round(math.log(n) + ((sab - sa - sb) / 1e6) / n, 6) + 0.0
                rows.append(
                    (r[0], n, int((cab > 0).sum()), sa, sb, sab, mi)
                )
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(
        fn,
        schema=(
            f"{id_col} long, n_px long, n_joint long, sa_q long,"
            " sb_q long, sab_q long, mi double"
        ),
    )


def template_match(pairs: DataFrame, id_col: str = "pair_id") -> DataFrame:
    """TEMPLATE MATCHING by exact normalized cross-correlation argmax —
    locate a small template inside an image at the placement maximizing

        NCC(u, v) = num / sqrt(den_w * den_t)
        num   = n*S_ab - S_a*S_t      (zero-mean cross term)
        den_w = n*S_aa - S_a^2        (window variance term, per placement)
        den_t = n*S_tt - S_t^2        (template variance term, constant)

    The argmax itself never touches a float: den_t cancels across
    placements, so "NCC_i > NCC_j" is decided by sign rules plus the
    cross-multiplied integer comparison num_i^2 * den_wj vs
    num_j^2 * den_wi (arbitrary-precision ints in the kernel; HUGEINT
    in the SQL twin's NOT-EXISTS tournament). Exact ties break to the
    smaller (y, x). Placements with zero window variance are excluded
    (NCC undefined); pairs whose template has zero variance or that are
    larger than the image emit nothing.

    Expects (id_col, bytes_img, fmt_img, bytes_tpl, fmt_tpl).
    Returns (id_col, best_x, best_y, num, den_w, den_t, ncc) with the
    exact integers pinning the argmax and ``ncc`` one replayable float
    assembly (sqrt is IEEE-exact, unlike ln).

    Scale: one Arrow pass per pair, no shuffle; per pair O(placements *
    template) integer work, vectorized per placement."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [id_col, "best_x", "best_y", "num", "den_w", "den_t", "ncc"]
        in_cols = [id_col, "bytes_img", "fmt_img", "bytes_tpl", "fmt_tpl"]
        for pdf in it:
            pdf = pdf[in_cols]
            rows = []
            for r in pdf.itertuples(index=False):
                img = imagecodec.decode(bytes(r[1]), r[2])
                tpl = imagecodec.decode(bytes(r[3]), r[4])
                if img.ndim == 3:
                    img = img[..., 0]
                if tpl.ndim == 3:
                    tpl = tpl[..., 0]
                ih, iw = img.shape
                th, tw = tpl.shape
                if th > ih or tw > iw:
                    continue
                a = img.astype(np.int64)
                t = tpl.astype(np.int64)
                n = th * tw
                s_t = int(t.sum())
                s_tt = int((t * t).sum())
                den_t = n * s_tt - s_t * s_t
                if den_t <= 0:
                    continue
                best = None  # (num, den_w, u, v) under the exact order
                for v in range(ih - th + 1):
                    for u in range(iw - tw + 1):
                        w = a[v : v + th, u : u + tw]
                        s_a = int(w.sum())
                        s_aa = int((w * w).sum())
                        s_ab = int((w * t).sum())
                        num = n * s_ab - s_a * s_t
                        den_w = n * s_aa - s_a * s_a
                        if den_w <= 0:
                            continue
                        if best is None:
                            best = (num, den_w, u, v)
                            continue
                        bn, bd, bu, bv = best
                        s_new, s_old = (num > 0) - (num < 0), (bn > 0) - (bn < 0)
                        if s_new != s_old:
                            wins = s_new > s_old
                        else:
                            l, rgt = num * num * bd, bn * bn * den_w
                            if l == rgt:
                                wins = (v, u) < (bv, bu)
                            elif s_new >= 0:
                                wins = l > rgt
                            else:
                                wins = l < rgt
                        if wins:
                            best = (num, den_w, u, v)
                if best is None:
                    continue
                num, den_w, u, v = best
                ncc = round(num / math.sqrt(float(den_w * den_t)), 6) + 0.0
                rows.append((r[0], u, v, num, den_w, den_t, ncc))
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(
        fn,
        schema=(
            f"{id_col} long, best_x int, best_y int, num long, den_w long,"
            " den_t long, ncc double"
        ),
    )


def motion_field(
    pairs: DataFrame,
    block: int = 8,
    radius: int = 2,
    id_col: str = "pair_id",
) -> DataFrame:
    """BLOCK-MATCHING MOTION ESTIMATION between frame pairs — the classic
    video-codec / optical-flow-lite primitive: split frame A into a grid
    of ``block``-sized tiles and, for each tile, find the displacement
    (du, dv) within ``radius`` that minimizes the sum of absolute
    differences against frame B:

        SAD(du, dv) = sum |A[by+p, bx+q] - B[by+dv+p, bx+du+q]|

    Everything is int64 — there is no float anywhere, so the argmin is
    reproducible bit-for-bit across partitionings and engines. Exact SAD
    ties break to the smaller (dv, du). Displacements that would read
    outside frame B are infeasible and never considered; a tile whose
    every displacement is infeasible (never happens for radius <= block)
    emits nothing, as does a pair whose frames are smaller than one
    block or differ in shape.

    Expects (id_col, bytes_a, fmt_a, bytes_b, fmt_b).
    Returns one row per tile: (id_col, bx, by, du, dv, sad).

    Scale: one Arrow pass per pair, no shuffle (both frames ride in the
    row); per pair O(tiles * (2*radius+1)^2 * block^2) integer ops,
    vectorized per displacement."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [id_col, "bx", "by", "du", "dv", "sad"]
        in_cols = [id_col, "bytes_a", "fmt_a", "bytes_b", "fmt_b"]
        for pdf in it:
            pdf = pdf[in_cols]
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                b = imagecodec.decode(bytes(r[3]), r[4])
                if a.ndim == 3:
                    a = a[..., 0]
                if b.ndim == 3:
                    b = b[..., 0]
                if a.shape != b.shape:
                    continue
                h, w = a.shape
                if block > h or block > w:
                    continue
                ai = a.astype(np.int64)
                bi = b.astype(np.int64)
                for by in range(0, h - block + 1, block):
                    for bx in range(0, w - block + 1, block):
                        tile = ai[by : by + block, bx : bx + block]
                        best = None  # (sad, dv, du)
                        for dv in range(-radius, radius + 1):
                            y0 = by + dv
                            if y0 < 0 or y0 + block > h:
                                continue
                            for du in range(-radius, radius + 1):
                                x0 = bx + du
                                if x0 < 0 or x0 + block > w:
                                    continue
                                cand = bi[y0 : y0 + block, x0 : x0 + block]
                                sad = int(np.abs(tile - cand).sum())
                                key = (sad, dv, du)
                                if best is None or key < best:
                                    best = key
                        if best is not None:
                            rows.append(
                                (r[0], bx, by, best[2], best[1], best[0])
                            )
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(
        fn,
        schema=f"{id_col} long, bx int, by int, du int, dv int, sad long",
    )


def _erode3(a: np.ndarray) -> np.ndarray:
    """3x3 greyscale erosion, clipped-neighborhood border semantics
    (== pad with the min-identity 255)."""
    h, w = a.shape
    p = np.pad(a, 1, constant_values=255)
    return np.minimum.reduce(
        [p[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
         for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    )


def _dilate3(a: np.ndarray) -> np.ndarray:
    """3x3 greyscale dilation, clipped-neighborhood border semantics
    (== pad with the max-identity 0)."""
    h, w = a.shape
    p = np.pad(a, 1, constant_values=0)
    return np.maximum.reduce(
        [p[1 + dy : 1 + dy + h, 1 + dx : 1 + dx + w]
         for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    )


def morphology_openclose(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """MATHEMATICAL MORPHOLOGY over the image column — 3x3 greyscale
    erosion (neighborhood min), dilation (max), opening (dilate after
    erode), closing (erode after dilate) and the morphological gradient
    (dilation - erosion), the classic mask clean-up / denoise / edge
    primitives. Border semantics are the clipped neighborhood (min/max
    over the pixels that exist), applied identically on each pass.

    min/max on uint8 is exact, so every output is an integer; per image
    the operator emits the pixel sum of each result plus a
    position-weighted checksum sum(v * (1 + x + w*y)) for erosion and
    opening, which pins pixel PLACEMENT (two results with equal sums but
    swapped pixels differ). No float exists anywhere.

    Expects (id_col, bytes, fmt, w, h). Returns (id_col, ero_sum,
    dil_sum, open_sum, close_sum, grad_sum, ero_chk, open_chk).

    Scale: one Arrow pass, no shuffle; O(9 px) comparisons per pass,
    vectorized via shifted-slice reduce."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            id_col, "ero_sum", "dil_sum", "open_sum", "close_sum",
            "grad_sum", "ero_chk", "open_chk",
        ]
        in_cols = [id_col, "bytes", "fmt"]
        for pdf in it:
            pdf = pdf[in_cols]
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                if a.ndim == 3:
                    a = a[..., 0]
                h, w = a.shape
                ero = _erode3(a)
                dil = _dilate3(a)
                opn = _dilate3(ero)
                cls = _erode3(dil)
                y, x = np.mgrid[0:h, 0:w]
                wgt = (1 + x + w * y).astype(np.int64)
                rows.append(
                    (
                        r[0],
                        int(ero.astype(np.int64).sum()),
                        int(dil.astype(np.int64).sum()),
                        int(opn.astype(np.int64).sum()),
                        int(cls.astype(np.int64).sum()),
                        int((dil.astype(np.int64) - ero).sum()),
                        int((ero * wgt).sum()),
                        int((opn * wgt).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return images.mapInPandas(
        fn,
        schema=(
            f"{id_col} long, ero_sum long, dil_sum long, open_sum long,"
            " close_sum long, grad_sum long, ero_chk long, open_chk long"
        ),
    )


def ssim_pairs(pairs: DataFrame, window: int = 8, id_col: str = "pair_id") -> DataFrame:
    """STRUCTURAL SIMILARITY (SSIM, Wang et al. 2004) between image
    pairs — the standard perceptual quality / near-duplicate metric a
    training pipeline uses to gate lossy re-encodes and augmentations.
    Computed per non-overlapping ``window``-sized tile (partial border
    tiles are dropped), then averaged.

    Exactness scheme: per tile the only inputs are the six integer
    sufficient statistics (n, Sa, Sb, Saa, Sbb, Sab). With the standard
    constants C1 = (0.01*255)^2 = 2601/400 and C2 = (0.03*255)^2 =
    23409/400 exact in rationals, multiplying every SSIM factor by
    400*n^2 clears all denominators:

        T1 = 800*Sa*Sb            + 2601*n^2
        T2 = 800*(n*Sab - Sa*Sb)  + 23409*n^2
        D1 = 400*(Sa^2 + Sb^2)    + 2601*n^2
        D2 = 400*(n*(Saa+Sbb) - Sa^2 - Sb^2) + 23409*n^2

    all exact int64, and SSIM = (T1/D1) * (T2/D2) is ONE fixed float
    assembly replayed verbatim by the SQL twin. Per-tile values are
    micro-quantized (round(ssim*1e6) as int64) so the per-pair mean is
    an order-free integer sum; the tile minimum rides along as the
    worst-tile gate. Mismatched shapes or images smaller than one tile
    emit nothing.

    Returns (id_col, n_win, ssim_q_sum, ssim_q_min, mssim).

    Scale: one Arrow pass per pair, no shuffle; sums are vectorized
    reshape-reductions, O(px) per pair."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [id_col, "n_win", "ssim_q_sum", "ssim_q_min", "mssim"]
        in_cols = [id_col, "bytes_a", "fmt_a", "bytes_b", "fmt_b"]
        W = window
        for pdf in it:
            pdf = pdf[in_cols]
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                b = imagecodec.decode(bytes(r[3]), r[4])
                if a.ndim == 3:
                    a = a[..., 0]
                if b.ndim == 3:
                    b = b[..., 0]
                if a.shape != b.shape:
                    continue
                h, w = a.shape
                ny, nx = h // W, w // W
                if ny == 0 or nx == 0:
                    continue
                ai = a[: ny * W, : nx * W].astype(np.int64)
                bi = b[: ny * W, : nx * W].astype(np.int64)

                def tsum(m):
                    return m.reshape(ny, W, nx, W).sum(axis=(1, 3))

                sa, sb = tsum(ai), tsum(bi)
                saa, sbb = tsum(ai * ai), tsum(bi * bi)
                sab = tsum(ai * bi)
                n = W * W
                t1 = 800 * sa * sb + 2601 * n * n
                t2 = 800 * (n * sab - sa * sb) + 23409 * n * n
                d1 = 400 * (sa * sa + sb * sb) + 2601 * n * n
                d2 = (
                    400 * (n * (saa + sbb) - sa * sa - sb * sb)
                    + 23409 * n * n
                )
                ssim = (t1.astype(np.float64) / d1) * (
                    t2.astype(np.float64) / d2
                )
                q = np.round(ssim * 1e6).astype(np.int64)
                nw = ny * nx
                qs = int(q.sum())
                # no final rounding: qs/(1e6*nw) is one exact-input IEEE
                # division, identical in every engine, while rounding to
                # 6 digits TIES whenever qs % nw leaves a half-digit
                # (banker's vs away-from-zero would then diverge)
                rows.append((r[0], nw, qs, int(q.min()), qs / (1e6 * nw)))
            yield pd.DataFrame(rows, columns=cols)

    return pairs.mapInPandas(
        fn,
        schema=(
            f"{id_col} long, n_win int, ssim_q_sum long, ssim_q_min long,"
            " mssim double"
        ),
    )


HOUGH_TRIG_SCALE = 256  # quantized cos/sin fixed-point scale


def hough_trig(n_theta: int) -> list[tuple[int, int, int]]:
    """(theta_bin, cq, sq) — the quantized direction table
    cq = round(cos(pi·t/n)·256), sq = round(sin(pi·t/n)·256), computed
    ONCE driver-side and inlined as literals into both engines' plans,
    so no trig runs inside either engine."""
    return [
        (
            t,
            int(round(math.cos(math.pi * t / n_theta) * HOUGH_TRIG_SCALE)),
            int(round(math.sin(math.pi * t / n_theta) * HOUGH_TRIG_SCALE)),
        )
        for t in range(n_theta)
    ]


def hough_lines(
    images: DataFrame,
    edge_thresh: int = 200,
    n_theta: int = 8,
    rho_shift: int = 9,
    min_votes: int = 8,
    k: int = 3,
) -> DataFrame:
    """(image_id, theta_bin, rho_idx, votes, rank) — HOUGH LINE
    DETECTION (Duda & Hart 1972): per image, every pixel >= ``edge_thresh``
    votes for the ``n_theta`` quantized line directions; the per-image
    top-``k`` accumulator cells with >= ``min_votes`` are the detected
    lines. The standard structure detector (document skew, road/rail
    extraction from rasters, table-line finding in scanned pages).

    Exact-integer scheme: directions use the fixed-point table from
    ``hough_trig`` and the signed distance r = x·cq + y·sq stays int64;
    the rho bin is floor(r / 2^rho_shift) — a power-of-two divisor, so
    the twin's floor(r / 512.0) double division is EXACT and both
    engines bin identically (DuckDB's ``//`` truncates toward zero on
    negatives, so the twin must use floor()). Ranking is fully
    deterministic: votes DESC, theta ASC, rho ASC.

    Scale: voting happens INSIDE the Arrow batch (NumPy bincount per
    direction — pixels never shuffle, the operator emits at most
    n_theta·rho_bins accumulator rows per image, already >= min_votes
    filtered); the only shuffle is the per-image top-k window, keyed by
    image_id and carrying a handful of rows per image."""
    trig = hough_trig(n_theta)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ths, rhos, votes = [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                yy, xx = np.nonzero(px >= edge_thresh)
                if len(xx) == 0:
                    continue
                xx = xx.astype(np.int64)
                yy = yy.astype(np.int64)
                for t, cq, sq in trig:
                    rho = np.floor_divide(
                        xx * cq + yy * sq, 1 << rho_shift
                    )
                    uniq, cnt = np.unique(rho, return_counts=True)
                    keep = cnt >= min_votes
                    for u, c in zip(uniq[keep], cnt[keep]):
                        ids.append(r.image_id)
                        ths.append(t)
                        rhos.append(int(u))
                        votes.append(int(c))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "theta_bin": pd.Series(ths, dtype="int32"),
                    "rho_idx": pd.Series(rhos, dtype="int64"),
                    "votes": pd.Series(votes, dtype="int64"),
                }
            )

    acc = images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, theta_bin int, rho_idx long, votes long",
    )
    w = Window.partitionBy("image_id").orderBy(
        F.col("votes").desc(), F.col("theta_bin").asc(), F.col("rho_idx").asc()
    )
    return (
        acc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("image_id", "theta_bin", "rho_idx", "votes", "rank")
    )


def hough_lines_sql(
    px_cte: str,
    edge_thresh: int = 200,
    n_theta: int = 8,
    rho_shift: int = 9,
    min_votes: int = 8,
    k: int = 3,
) -> str:
    """DuckDB twin of hough_lines; ``px_cte`` yields (image_id, x, y, v)
    pixel rows. Same inlined trig table, same exact power-of-two floor
    binning, same deterministic ranking."""
    trig_vals = ", ".join(f"({t}, {cq}, {sq})" for t, cq, sq in hough_trig(n_theta))
    return f"""
WITH px AS ({px_cte}),
edge AS (SELECT image_id, x, y FROM px WHERE v >= {int(edge_thresh)}),
trig(theta_bin, cq, sq) AS (SELECT * FROM (VALUES {trig_vals})),
acc AS (
  SELECT image_id, theta_bin,
         CAST(floor((x * cq + y * sq) / {float(1 << rho_shift)}) AS BIGINT)
           AS rho_idx,
         CAST(count(*) AS BIGINT) AS votes
  FROM edge, trig
  GROUP BY 1, 2, 3
  HAVING count(*) >= {int(min_votes)}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY image_id ORDER BY votes DESC, theta_bin ASC, rho_idx ASC
  ) AS rank
  FROM acc
)
SELECT image_id, theta_bin, rho_idx, votes, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {int(k)}
"""


GAUSS_K5 = (1, 4, 6, 4, 1)  # binomial 5-tap kernel, weight sum 16


def gaussian_blur_stats(
    images: DataFrame, edge_thresh: int = 200
) -> DataFrame:
    """(image_id, n_interior, conv_sum, smooth_sum, smooth_max,
    smooth_edges) — 5x5 BINOMIAL (Gaussian-approx) BLUR, the canonical
    smoothing primitive, as integer-exact per-image statistics: the
    separable kernel [1,4,6,4,1]⊗[1,4,6,4,1] (weight 256) applied to
    every interior pixel. ``conv_sum`` is the raw 256-weighted response
    sum; ``smooth_sum``/``smooth_max`` use the normalized pixel
    conv DIV 256 (floor; responses are nonnegative so floor =
    truncation on both engines); ``smooth_edges`` counts normalized
    pixels >= ``edge_thresh`` — the blur-then-threshold detector.

    All int64 (response <= 255·256 per pixel; a 4096² image sums
    < 2^50), so a DuckDB twin recomputes every one of the 25 neighbor
    terms from the deterministic pixel formula and must hash-match.

    Scale: Arrow-batched mapInPandas, two separable 1-D passes per
    image inside the batch (NumPy), pixel bytes never shuffle —
    scan-shaped like sobel_stats."""
    k = np.array(GAUSS_K5, dtype=np.int64)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in (
                "image_id", "n_interior", "conv_sum", "smooth_sum",
                "smooth_max", "smooth_edges",
            )}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                if h < 5 or w < 5:
                    continue
                # separable: horizontal then vertical 5-tap
                hpass = sum(
                    kv * px[:, j : w - 4 + j] for j, kv in enumerate(k)
                )
                conv = sum(
                    kv * hpass[j : h - 4 + j, :] for j, kv in enumerate(k)
                )
                sm = conv >> 8
                out["image_id"].append(r.image_id)
                out["n_interior"].append(int(conv.size))
                out["conv_sum"].append(int(conv.sum()))
                out["smooth_sum"].append(int(sm.sum()))
                out["smooth_max"].append(int(sm.max()))
                out["smooth_edges"].append(int((sm >= edge_thresh).sum()))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_interior long, conv_sum long,"
            " smooth_sum long, smooth_max long, smooth_edges long"
        ),
    )


def gaussian_blur_stats_sql(px_cte: str, edge_thresh: int = 200) -> str:
    """DuckDB twin of gaussian_blur_stats; ``px_cte`` yields
    (image_id, w, h, x, y, v) pixel rows. Replays all 25 kernel terms
    via a self-join on the shifted coordinates."""
    taps = ", ".join(
        f"({dx - 2}, {dy - 2}, {GAUSS_K5[dx] * GAUSS_K5[dy]})"
        for dx in range(5)
        for dy in range(5)
    )
    return f"""
WITH px AS ({px_cte}),
inner_px AS (
  SELECT image_id, w, h, x, y FROM px
  WHERE x >= 2 AND x <= w - 3 AND y >= 2 AND y <= h - 3
),
taps(dx, dy, kw) AS (SELECT * FROM (VALUES {taps})),
conv AS (
  SELECT i.image_id, i.x, i.y,
         CAST(sum(t.kw * p.v) AS BIGINT) AS c
  FROM inner_px i
  JOIN taps t ON true
  JOIN px p ON p.image_id = i.image_id
           AND p.x = i.x + t.dx AND p.y = i.y + t.dy
  GROUP BY 1, 2, 3
)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_interior,
       CAST(sum(c) AS BIGINT) AS conv_sum,
       CAST(sum(c // 256) AS BIGINT) AS smooth_sum,
       CAST(max(c // 256) AS BIGINT) AS smooth_max,
       CAST(sum(CASE WHEN c // 256 >= {int(edge_thresh)} THEN 1 ELSE 0 END)
            AS BIGINT) AS smooth_edges
FROM conv GROUP BY image_id
"""


CANNY_TAN_NUM = 27146  # round(tan(22.5 deg) * 65536) — sector gate
CANNY_TAN_DEN = 65536


def canny_nms_stats(
    images: DataFrame, lo: int = 192, hi: int = 512
) -> DataFrame:
    """(image_id, n_considered, n_survivors, n_strong, n_weak, nms_sum)
    — CANNY-STYLE NON-MAXIMUM SUPPRESSION + double threshold over the
    Sobel gradient (Canny 1986, minus the final hysteresis walk — the
    thin-edge detector that turns sobel_stats' dense response into
    1-px-wide candidate edges).

    Direction sectors are decided by the INTEGER gate
    |gy|·65536 {<=,>=} |gx|·27146 (27146/65536 = tan 22.5° fixed-point)
    — no atan anywhere: sector 0 = E-W (compare left/right), sector 2 =
    N-S, diagonals split by sign(gx·gy). A pixel survives if its L1
    magnitude g is >= BOTH neighbors along its sector (ties keep — the
    deterministic symmetric convention). Survivors with g >= ``hi``
    are strong, in [``lo``, hi) weak. All int64, exact on both engines;
    the twin recomputes gx/gy per pixel from the formula and replays
    the same CASE sector logic via coordinate self-joins.

    Scale: one Arrow batch pass per image (two extra NumPy shifts on
    top of the Sobel stencil), scan-shaped, pixels never shuffle."""
    TN, TD = CANNY_TAN_NUM, CANNY_TAN_DEN

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in (
                "image_id", "n_considered", "n_survivors", "n_strong",
                "n_weak", "nms_sum",
            )}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                if h < 5 or w < 5:
                    continue
                gx = (
                    px[:-2, 2:] + 2 * px[1:-1, 2:] + px[2:, 2:]
                    - px[:-2, :-2] - 2 * px[1:-1, :-2] - px[2:, :-2]
                )
                gy = (
                    px[2:, :-2] + 2 * px[2:, 1:-1] + px[2:, 2:]
                    - px[:-2, :-2] - 2 * px[:-2, 1:-1] - px[:-2, 2:]
                )
                g = np.abs(gx) + np.abs(gy)
                ax, ay = np.abs(gx), np.abs(gy)
                # sectors on the INNER interior (1-px ring inside g's grid)
                c = (slice(1, -1), slice(1, -1))
                gxc, gyc = gx[c], gy[c]
                axc, ayc = ax[c], ay[c]
                gc = g[c]
                horiz = ayc * TD <= axc * TN
                vert = axc * TD <= ayc * TN
                diag_main = (~horiz) & (~vert) & (gxc * gyc > 0)
                # neighbor pairs per sector (in g-grid coordinates)
                east, west = g[1:-1, 2:], g[1:-1, :-2]
                south, north = g[2:, 1:-1], g[:-2, 1:-1]
                se, nw = g[2:, 2:], g[:-2, :-2]
                sw, ne = g[2:, :-2], g[:-2, 2:]
                n1 = np.where(
                    horiz, east,
                    np.where(vert, south, np.where(diag_main, se, sw)),
                )
                n2 = np.where(
                    horiz, west,
                    np.where(vert, north, np.where(diag_main, nw, ne)),
                )
                keep = (gc >= n1) & (gc >= n2)
                strong = keep & (gc >= hi)
                weak = keep & (gc >= lo) & (gc < hi)
                out["image_id"].append(r.image_id)
                out["n_considered"].append(int(gc.size))
                out["n_survivors"].append(int(keep.sum()))
                out["n_strong"].append(int(strong.sum()))
                out["n_weak"].append(int(weak.sum()))
                out["nms_sum"].append(int(gc[keep].sum()))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_considered long, n_survivors long,"
            " n_strong long, n_weak long, nms_sum long"
        ),
    )


def canny_nms_stats_sql(px_cte: str, lo: int = 192, hi: int = 512) -> str:
    """DuckDB twin of canny_nms_stats; ``px_cte`` yields
    (image_id, w, h, x, y, v). Recomputes gx/gy per pixel, then joins
    the two sector neighbors by CASE-selected coordinates."""
    TN, TD = CANNY_TAN_NUM, CANNY_TAN_DEN

    def vat(dx: int, dy: int) -> str:
        return (
            f"(SELECT v FROM px p WHERE p.image_id = i.image_id"
            f" AND p.x = i.x + {dx} AND p.y = i.y + {dy})"
        )

    # gx/gy as correlated 9-term expressions is heavy; instead compute
    # per-pixel g once via a shifted 8-join, then self-join for the two
    # sector neighbors.
    return f"""
WITH px AS ({px_cte}),
grad AS (
  SELECT i.image_id, i.x, i.y, i.w, i.h,
    (p_e1.v + 2 * p_e2.v + p_e3.v - p_w1.v - 2 * p_w2.v - p_w3.v) AS gx,
    (p_s1.v + 2 * p_s2.v + p_s3.v - p_n1.v - 2 * p_n2.v - p_n3.v) AS gy
  FROM px i
  JOIN px p_e1 ON p_e1.image_id = i.image_id AND p_e1.x = i.x + 1 AND p_e1.y = i.y - 1
  JOIN px p_e2 ON p_e2.image_id = i.image_id AND p_e2.x = i.x + 1 AND p_e2.y = i.y
  JOIN px p_e3 ON p_e3.image_id = i.image_id AND p_e3.x = i.x + 1 AND p_e3.y = i.y + 1
  JOIN px p_w1 ON p_w1.image_id = i.image_id AND p_w1.x = i.x - 1 AND p_w1.y = i.y - 1
  JOIN px p_w2 ON p_w2.image_id = i.image_id AND p_w2.x = i.x - 1 AND p_w2.y = i.y
  JOIN px p_w3 ON p_w3.image_id = i.image_id AND p_w3.x = i.x - 1 AND p_w3.y = i.y + 1
  JOIN px p_s1 ON p_s1.image_id = i.image_id AND p_s1.x = i.x - 1 AND p_s1.y = i.y + 1
  JOIN px p_s2 ON p_s2.image_id = i.image_id AND p_s2.x = i.x AND p_s2.y = i.y + 1
  JOIN px p_s3 ON p_s3.image_id = i.image_id AND p_s3.x = i.x + 1 AND p_s3.y = i.y + 1
  JOIN px p_n1 ON p_n1.image_id = i.image_id AND p_n1.x = i.x - 1 AND p_n1.y = i.y - 1
  JOIN px p_n2 ON p_n2.image_id = i.image_id AND p_n2.x = i.x AND p_n2.y = i.y - 1
  JOIN px p_n3 ON p_n3.image_id = i.image_id AND p_n3.x = i.x + 1 AND p_n3.y = i.y - 1
  WHERE i.x >= 1 AND i.x <= i.w - 2 AND i.y >= 1 AND i.y <= i.h - 2
),
mag AS (
  SELECT image_id, x, y, w, h, gx, gy, abs(gx) + abs(gy) AS g,
    CASE WHEN abs(gy) * {TD} <= abs(gx) * {TN} THEN 0
         WHEN abs(gx) * {TD} <= abs(gy) * {TN} THEN 2
         WHEN gx * gy > 0 THEN 1 ELSE 3 END AS sector
  FROM grad
),
inner2 AS (
  SELECT * FROM mag
  WHERE x >= 2 AND x <= w - 3 AND y >= 2 AND y <= h - 3
),
nms AS (
  SELECT c.image_id, c.g,
    (c.g >= n1.g AND c.g >= n2.g) AS keep
  FROM inner2 c
  JOIN mag n1 ON n1.image_id = c.image_id
    AND n1.x = c.x + CASE c.sector WHEN 0 THEN 1 WHEN 2 THEN 0
                                   WHEN 1 THEN 1 ELSE -1 END
    AND n1.y = c.y + CASE c.sector WHEN 0 THEN 0 WHEN 2 THEN 1 ELSE 1 END
  JOIN mag n2 ON n2.image_id = c.image_id
    AND n2.x = c.x + CASE c.sector WHEN 0 THEN -1 WHEN 2 THEN 0
                                   WHEN 1 THEN -1 ELSE 1 END
    AND n2.y = c.y + CASE c.sector WHEN 0 THEN 0 WHEN 2 THEN -1 ELSE -1 END
)
SELECT image_id,
       CAST(count(*) AS BIGINT) AS n_considered,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       CAST(sum(CASE WHEN keep AND g >= {int(hi)} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_strong,
       CAST(sum(CASE WHEN keep AND g >= {int(lo)} AND g < {int(hi)}
            THEN 1 ELSE 0 END) AS BIGINT) AS n_weak,
       CAST(sum(CASE WHEN keep THEN g ELSE 0 END) AS BIGINT) AS nms_sum
FROM nms GROUP BY image_id
"""


# uniform-LBP: fixed clockwise neighbor ring (dx, dy) bit order
LBP_OFFSETS = [
    (-1, -1), (0, -1), (1, -1), (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0),
]


def lbp_uniform_bin(code: int) -> int:
    """256-entry uniform-LBP LUT entry: popcount for patterns with <= 2
    circular transitions, else the catch-all bin 9 (Ojala et al. 2002)."""
    bits = [(code >> k) & 1 for k in range(8)]
    transitions = sum(bits[k] != bits[(k + 1) % 8] for k in range(8))
    return sum(bits) if transitions <= 2 else 9


def lbp_histogram(images: DataFrame) -> DataFrame:
    """(image_id, bin, cnt) — UNIFORM LOCAL BINARY PATTERN histogram per
    image (Ojala et al. 2002), the classical illumination-invariant
    texture descriptor: per interior pixel an 8-bit code (neighbor >=
    center, fixed clockwise ring), folded through the uniform LUT into
    10 bins (0-8 = popcount of uniform patterns, 9 = non-uniform).
    The texture feature for dedup/quality gating where gradients
    (sobel_stats) are too coarse.

    Exactness: comparisons and the LUT are pure integers; the histogram
    is exact counts — a DuckDB twin recomputes every neighbor from the
    deterministic pixel formula and joins the same LUT as VALUES.
    Only nonzero bins are emitted.

    Scale: Arrow-batched mapInPandas; 8 shifted NumPy comparisons and a
    bincount per image, pixels never shuffle; output is <= 10 rows per
    image (the shuffle-side footprint is the histogram, not pixels)."""
    lut = np.asarray([lbp_uniform_bin(c) for c in range(256)], dtype=np.int64)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, bins, cnts = [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                if px.shape[0] < 3 or px.shape[1] < 3:
                    continue
                center = px[1:-1, 1:-1]
                h, w = px.shape
                code = np.zeros_like(center)
                for k, (dx, dy) in enumerate(LBP_OFFSETS):
                    nb = px[1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
                    code += (nb >= center).astype(np.int64) << k
                hist = np.bincount(lut[code].ravel(), minlength=10)
                for b in range(10):
                    if hist[b]:
                        ids.append(r.image_id)
                        bins.append(b)
                        cnts.append(int(hist[b]))
            yield pd.DataFrame(
                {"image_id": ids, "bin": bins, "cnt": cnts}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, bin long, cnt long"
    )


# FAST-9: the 16-pixel Bresenham circle of radius 3, clockwise from 12
FAST_RING = [
    (0, -3), (1, -3), (2, -2), (3, -1), (3, 0), (3, 1), (2, 2), (1, 3),
    (0, 3), (-1, 3), (-2, 2), (-3, 1), (-3, 0), (-3, -1), (-2, -2),
    (-1, -3),
]


def fast_corners(images: DataFrame, t: int = 20) -> DataFrame:
    """(image_id, x, y, bright, dark) — FAST-9 corner detection (Rosten
    & Drummond 2006), the classical realtime keypoint detector: a pixel
    is a corner when >= 9 CONTIGUOUS pixels on its 16-pixel Bresenham
    circle are all brighter than p+t (``bright``) or all darker than
    p−t (``dark``). Raw detections, no NMS (compose canny_nms-style
    suppression downstream if needed).

    Exactness: comparisons are integers; circular contiguity is the
    branch-free doubling trick — with bm the 16-bit mask of bright ring
    pixels, a run of >= 9 exists iff ((bm·65537) >> s) & 511 == 511 for
    some shift s in 0..15 (bm·65537 = bm | bm<<16 concatenates the mask
    with itself, linearizing every circular window). The identical
    16-term OR replays in SQL, so the twin is formula-exact.

    Scale: Arrow-batched mapInPandas — 32 shifted comparisons + 32
    shift-mask tests per image, all NumPy; only detected corner rows
    (sparse on natural images) leave the batch."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_id, out_x, out_y, out_b, out_d = [], [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                if h < 7 or w < 7:
                    continue
                center = px[3 : h - 3, 3 : w - 3]
                bm = np.zeros_like(center)
                dm = np.zeros_like(center)
                for k, (dx, dy) in enumerate(FAST_RING):
                    nb = px[3 + dy : h - 3 + dy, 3 + dx : w - 3 + dx]
                    bm |= (nb > center + t).astype(np.int64) << k
                    dm |= (nb < center - t).astype(np.int64) << k
                bright = np.zeros(center.shape, dtype=bool)
                dark = np.zeros(center.shape, dtype=bool)
                bm2, dm2 = bm * 65537, dm * 65537
                for s in range(16):
                    bright |= ((bm2 >> s) & 511) == 511
                    dark |= ((dm2 >> s) & 511) == 511
                ys, xs = np.nonzero(bright | dark)
                for yy, xx in zip(ys, xs):
                    out_id.append(r.image_id)
                    out_x.append(int(xx) + 3)
                    out_y.append(int(yy) + 3)
                    out_b.append(int(bright[yy, xx]))
                    out_d.append(int(dark[yy, xx]))
            yield pd.DataFrame(
                {
                    "image_id": out_id,
                    "x": out_x,
                    "y": out_y,
                    "bright": out_b,
                    "dark": out_d,
                }
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, x long, y long, bright long, dark long"
    )


# Bayer 4x4 index matrix — the classical dispersed-dot dither order
BAYER4 = np.asarray(
    [[0, 8, 2, 10], [12, 4, 14, 6], [3, 11, 1, 9], [15, 7, 13, 5]],
    dtype=np.int64,
)


def ordered_dither(images: DataFrame) -> DataFrame:
    """(image_id, phase, n_px, ones) — BAYER 4x4 ORDERED DITHERING
    census: binarize each pixel against the position-dependent threshold

        bit(x, y) = 1  iff  v(x, y) >= 16 * BAYER4[y%4][x%4] + 8

    (the exact-integer form of the classical v/256 > (M+0.5)/16 rule)
    and report, per image and per 4x4 PHASE (phase = (y%4)*4 + x%4),
    the pixel count and the ones count. This is the halftoning /
    1-bit-quantization primitive; the per-phase census is the
    screening-quality diagnostic (a correct dither spreads density
    across phases in Bayer order) and is what survives the shuffle —
    never the bitmap itself.

    Exactness: the threshold and comparison are pure integers, counts
    are exact int64; a DuckDB twin replays every pixel from the
    deterministic formula and joins the same matrix as VALUES.

    Scale: Arrow-batched mapInPandas, one vectorized compare + one
    16-bin bincount per image; output is exactly 16 rows per image
    regardless of resolution."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, phases, npx, ones = [], [], [], []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                yy, xx = np.mgrid[0:h, 0:w]
                thr = 16 * BAYER4[yy % 4, xx % 4] + 8
                bit = (px >= thr).astype(np.int64)
                ph = (yy % 4) * 4 + (xx % 4)
                n_ph = np.bincount(ph.ravel(), minlength=16)
                o_ph = np.bincount(ph.ravel(), weights=bit.ravel(), minlength=16)
                for p in range(16):
                    ids.append(r.image_id)
                    phases.append(p)
                    npx.append(int(n_ph[p]))
                    ones.append(int(o_ph[p]))
            yield pd.DataFrame(
                {"image_id": ids, "phase": phases, "n_px": npx, "ones": ones}
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, phase long, n_px long, ones long"
    )


def bayer4_values_sql() -> str:
    """The Bayer 4x4 matrix as a DuckDB VALUES relation (my, mx, m)."""
    rows = ", ".join(
        f"({y}, {x}, {int(BAYER4[y, x])})" for y in range(4) for x in range(4)
    )
    return f"(VALUES {rows}) AS bayer(my, mx, m)"


def brief_offset_pairs(n_bits: int = 63) -> list[tuple[int, int, int, int]]:
    """The deterministic BRIEF sampling pattern shared by the Arrow
    kernel and the SQL twin: ``n_bits`` pixel-offset pairs inside the
    [-4, 4]^2 patch from a fixed congruential walk (identical pairs are
    skipped — a constant bit carries no information).  63 bits keep the
    packed descriptor strictly positive in an int64, so SUM-packing and
    XOR behave identically in Spark, NumPy and DuckDB."""
    out: list[tuple[int, int, int, int]] = []
    seen = set()
    s = 1234567
    while len(out) < n_bits:
        vals = []
        for _ in range(4):
            s = (s * 1103515245 + 12345) % (1 << 31)
            vals.append((s >> 8) % 9 - 4)
        o1, o2 = (vals[0], vals[1]), (vals[2], vals[3])
        # distinct endpoints AND a not-yet-used comparison: every bit
        # must carry independent information
        if o1 != o2 and (o1, o2) not in seen:
            seen.add((o1, o2))
            out.append((o1[0], o1[1], o2[0], o2[1]))
    return out


def _popcount64(arr: np.ndarray) -> np.ndarray:
    """Vectorized popcount of a nonnegative int64 array (NumPy < 2 has
    no bit_count ufunc): bytes -> unpackbits -> sum."""
    x = np.ascontiguousarray(arr.astype(np.uint64))
    b = x.view(np.uint8).reshape(x.shape + (8,))
    return np.unpackbits(b, axis=-1).sum(axis=-1).astype(np.int64)


def brief_match(
    pairs: DataFrame,
    n_bits: int = 63,
    a_margin: int = 6,
    b_margin: int = 4,
    id_col: str = "pair_id",
) -> DataFrame:
    """(pair_id, ax, ay, mx, my, hamming) — BRIEF descriptor matching
    (Calonder et al. ECCV 2010, the binary-descriptor stage of ORB):
    for every interior keypoint of frame A (margin ``a_margin``), the
    best-matching keypoint of frame B (margin ``b_margin``, a superset
    region so small translations stay matchable) under Hamming distance
    between packed 63-bit BRIEF descriptors — bit t set iff
    v(p + o1_t) < v(p + o2_t) over the shared ``brief_offset_pairs``
    pattern.  Ties break by (my, mx) ascending; everything is integer,
    so the match table is engine-exact.

    Expects columns (id_col, bytes_a, fmt_a, bytes_b, fmt_b).

    Scale: one Arrow pass per frame pair — descriptors are 63 vectorized
    slice-compares per frame, the Hamming matrix one XOR-popcount of
    NA x NB int64s (keypoints are gridded/corner-limited, so NA·NB is
    bounded per pair) — and no shuffle at all: the 10^12-frame-pair
    matching sweep is scan-shaped. Feature-based near-dup detection and
    stereo/temporal correspondence run on this table."""
    offs = brief_offset_pairs(n_bits)

    def descriptors(img: np.ndarray, margin: int):
        h, w = img.shape
        if w <= 2 * margin or h <= 2 * margin:
            return None, None, None
        xs = np.arange(margin, w - margin, dtype=np.int64)
        ys = np.arange(margin, h - margin, dtype=np.int64)
        # row-major keypoints: sorted by (y, x) — the tie-break order
        ky, kx = [v.reshape(-1) for v in np.meshgrid(ys, xs, indexing="ij")]
        desc = np.zeros(len(kx), dtype=np.int64)
        im = img.astype(np.int64)
        for t, (o1x, o1y, o2x, o2y) in enumerate(offs):
            bit = im[ky + o1y, kx + o1x] < im[ky + o2y, kx + o2x]
            desc |= bit.astype(np.int64) << t
        return kx, ky, desc

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                a = imagecodec.decode(bytes(r[1]), r[2])
                b = imagecodec.decode(bytes(r[3]), r[4])
                if a.ndim == 3:
                    a = a[..., 0]
                if b.ndim == 3:
                    b = b[..., 0]
                axk, ayk, da = descriptors(a, a_margin)
                bxk, byk, db = descriptors(b, b_margin)
                if da is None or db is None:
                    continue
                ham = _popcount64(da[:, None] ^ db[None, :])
                best = ham.argmin(axis=1)  # first min = smallest (my, mx)
                for i in range(len(da)):
                    j = best[i]
                    rows.append(
                        (
                            r[0],
                            int(axk[i]),
                            int(ayk[i]),
                            int(bxk[j]),
                            int(byk[j]),
                            int(ham[i, j]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "ax", "ay", "mx", "my", "hamming"],
            )

    return pairs.mapInPandas(
        fn,
        schema=f"{id_col} long, ax long, ay long, mx long, my long,"
        " hamming long",
    )


def brief_match_sql(
    px_cte: str,
    dims_cte: str,
    n_bits: int = 63,
    a_margin: int = 6,
    b_margin: int = 4,
) -> str:
    """DuckDB twin of brief_match.  ``px_cte`` -> (pair_id, side
    ('a'/'b'), x, y, v); ``dims_cte`` -> (pair_id, side, w, h).  Bits
    come from the same brief_offset_pairs pattern inlined as VALUES;
    descriptors SUM-pack (1<<t is positive for t<=62), matching replays
    the (hamming, my, mx) ranking."""
    offs = brief_offset_pairs(n_bits)
    vals = ", ".join(
        f"({t}, {a}, {b}, {c}, {d})" for t, (a, b, c, d) in enumerate(offs)
    )
    return f"""
WITH px AS MATERIALIZED ({px_cte}),
dims AS MATERIALIZED ({dims_cte}),
off(t, o1x, o1y, o2x, o2y) AS (VALUES {vals}),
kp AS MATERIALIZED (
  SELECT p.pair_id, p.side, p.x AS kx, p.y AS ky
  FROM px p JOIN dims d ON d.pair_id = p.pair_id AND d.side = p.side
  WHERE (p.side = 'a' AND p.x >= {a_margin} AND p.x < d.w - {a_margin}
         AND p.y >= {a_margin} AND p.y < d.h - {a_margin})
     OR (p.side = 'b' AND p.x >= {b_margin} AND p.x < d.w - {b_margin}
         AND p.y >= {b_margin} AND p.y < d.h - {b_margin})
),
bits AS (
  SELECT k.pair_id, k.side, k.kx, k.ky, o.t,
         CASE WHEN p1.v < p2.v THEN 1 ELSE 0 END AS bit
  FROM kp k
  CROSS JOIN off o
  JOIN px p1 ON p1.pair_id = k.pair_id AND p1.side = k.side
            AND p1.x = k.kx + o.o1x AND p1.y = k.ky + o.o1y
  JOIN px p2 ON p2.pair_id = k.pair_id AND p2.side = k.side
            AND p2.x = k.kx + o.o2x AND p2.y = k.ky + o.o2y
),
dsc AS MATERIALIZED (
  SELECT pair_id, side, kx, ky,
         CAST(sum(bit * (CAST(1 AS BIGINT) << t)) AS BIGINT) AS d
  FROM bits GROUP BY 1, 2, 3, 4
),
cand AS (
  SELECT a.pair_id, a.kx AS ax, a.ky AS ay, b.kx AS mx, b.ky AS my,
         bit_count(xor(a.d, b.d)) AS hamming
  FROM dsc a JOIN dsc b ON b.pair_id = a.pair_id
  WHERE a.side = 'a' AND b.side = 'b'
)
SELECT pair_id, ax, ay, mx, my, CAST(hamming AS BIGINT) AS hamming
FROM cand
QUALIFY row_number() OVER (
  PARTITION BY pair_id, ax, ay ORDER BY hamming ASC, my ASC, mx ASC) = 1
"""


_HAAR_SUBBANDS = ("lh1", "hl1", "hh1", "ll2", "lh2", "hl2", "hh2")


def haar_energy(images: DataFrame) -> DataFrame:
    """(image_id, subband, n_coeffs, energy) — 2-LEVEL 2D HAAR
    decomposition, UNNORMALIZED integer lifting (coefficients are
    ±-signed block sums, so every value is an exact integer — the
    S-transform used by lossless JPEG2000): per 2x2 block

        ll = a+b+c+d,  lh = a+b-c-d,  hl = a-b+c-d,  hh = a-b-c+d

    then the same step again on the LL1 grid.  Emitted per image: the
    exact int64 energy (Σ coeff²) of the seven analysis subbands
    (lh1, hl1, hh1 at level 1; ll2, lh2, hl2, hh2 at level 2) — the
    standard texture/blur/energy-compaction fingerprint for image
    quality gates and codec decisions (blurry images put ~everything
    in ll2; sharp ones spread into hh1).  Needs w, h divisible by 4.

    Scale: one mapInPandas, two vectorized reshape-reduce rounds per
    image, 7 tiny rows out per image — scan-shaped at 10^12 images,
    pixels never shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                img = imagecodec.decode(bytes(r.bytes), r.fmt)
                if img.ndim == 3:
                    img = img[..., 0]
                h, w = img.shape
                if h % 4 or w % 4:
                    continue

                def step(m):
                    b = m.reshape(m.shape[0] // 2, 2, m.shape[1] // 2, 2)
                    a, bb = b[:, 0, :, 0], b[:, 0, :, 1]
                    c, d = b[:, 1, :, 0], b[:, 1, :, 1]
                    return (
                        a + bb + c + d,
                        a + bb - c - d,
                        a - bb + c - d,
                        a - bb - c + d,
                    )

                ll1, lh1, hl1, hh1 = step(img.astype(np.int64))
                ll2, lh2, hl2, hh2 = step(ll1)
                for name, m in zip(
                    _HAAR_SUBBANDS, (lh1, hl1, hh1, ll2, lh2, hl2, hh2)
                ):
                    rows.append(
                        (r.image_id, name, int(m.size), int((m * m).sum()))
                    )
            yield pd.DataFrame(
                rows, columns=["image_id", "subband", "n_coeffs", "energy"]
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, subband string, n_coeffs long, energy long"
    )


def haar_energy_sql(px_cte: str) -> str:
    """DuckDB twin of haar_energy over a pixel relation (image_id, x,
    y, v) whose images are 4-divisible — level-1 coefficients as signed
    2x2 block sums, level 2 re-grouped from the LL1 grid, energies per
    subband assembled by UNION ALL."""
    return f"""
WITH px AS ({px_cte}),
l1 AS (
  SELECT image_id, x // 2 AS bx, y // 2 AS by,
         CAST(sum(v) AS BIGINT) AS ll,
         CAST(sum(v * (1 - 2 * (y % 2))) AS BIGINT) AS lh,
         CAST(sum(v * (1 - 2 * (x % 2))) AS BIGINT) AS hl,
         CAST(sum(v * (1 - 2 * (x % 2)) * (1 - 2 * (y % 2))) AS BIGINT) AS hh
  FROM px GROUP BY 1, 2, 3
),
l2 AS (
  SELECT image_id, bx // 2 AS cx, by // 2 AS cy,
         CAST(sum(ll) AS BIGINT) AS ll,
         CAST(sum(ll * (1 - 2 * (by % 2))) AS BIGINT) AS lh,
         CAST(sum(ll * (1 - 2 * (bx % 2))) AS BIGINT) AS hl,
         CAST(sum(ll * (1 - 2 * (bx % 2)) * (1 - 2 * (by % 2))) AS BIGINT) AS hh
  FROM l1 GROUP BY 1, 2, 3
)
SELECT image_id, 'lh1' AS subband, count(*) AS n_coeffs,
       CAST(sum(lh * lh) AS BIGINT) AS energy FROM l1 GROUP BY 1
UNION ALL
SELECT image_id, 'hl1', count(*), CAST(sum(hl * hl) AS BIGINT) FROM l1 GROUP BY 1
UNION ALL
SELECT image_id, 'hh1', count(*), CAST(sum(hh * hh) AS BIGINT) FROM l1 GROUP BY 1
UNION ALL
SELECT image_id, 'll2', count(*), CAST(sum(ll * ll) AS BIGINT) FROM l2 GROUP BY 1
UNION ALL
SELECT image_id, 'lh2', count(*), CAST(sum(lh * lh) AS BIGINT) FROM l2 GROUP BY 1
UNION ALL
SELECT image_id, 'hl2', count(*), CAST(sum(hl * hl) AS BIGINT) FROM l2 GROUP BY 1
UNION ALL
SELECT image_id, 'hh2', count(*), CAST(sum(hh * hh) AS BIGINT) FROM l2 GROUP BY 1
"""


def demosaic_stats(images: DataFrame) -> DataFrame:
    """(image_id, n_px, r4_sum, g4_sum, b4_sum, chk) — BILINEAR BAYER
    DEMOSAIC (RGGB) over raw sensor mosaics, the first stage of every
    camera/raw-ingest pipeline: each interior pixel is reconstructed to
    RGB by the classic bilinear rules (at R: G = 4-neighbor mean, B =
    diagonal mean; at G: the row's color from E/W, the other from N/S;
    symmetric at B).  All channels are carried as 4x FIXED-POINT
    integers (4·v, the 4-sum, or 2·the-2-sum) so the reconstruction is
    exact; emitted per image: interior pixel count, channel 4x-sums,
    and the position-weighted checksum

        chk = Σ (x + 2y + 1)·(r4 + 2·g4 + 3·b4)

    which pins every pixel's every channel (a swapped neighbor or a
    wrong CASE branch moves it).

    Scale: one Arrow pass, four shifted-slice sums per image, 6 small
    columns out — scan-shaped at 10^12 frames; mosaics never shuffle."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                img = imagecodec.decode(bytes(r.bytes), r.fmt)
                if img.ndim == 3:
                    img = img[..., 0]
                a = img.astype(np.int64)
                h, w = a.shape
                if h < 3 or w < 3:
                    continue
                c = a[1:-1, 1:-1]
                ew = a[1:-1, :-2] + a[1:-1, 2:]
                ns = a[:-2, 1:-1] + a[2:, 1:-1]
                diag = (
                    a[:-2, :-2] + a[:-2, 2:] + a[2:, :-2] + a[2:, 2:]
                )
                cross = ew + ns
                yy, xx = np.mgrid[1 : h - 1, 1 : w - 1]
                xe, ye = (xx % 2 == 0), (yy % 2 == 0)
                r4 = np.where(
                    xe & ye, 4 * c,
                    np.where(
                        ~xe & ~ye, diag,
                        np.where(~xe & ye, 2 * ew, 2 * ns),
                    ),
                )
                b4 = np.where(
                    ~xe & ~ye, 4 * c,
                    np.where(
                        xe & ye, diag,
                        np.where(~xe & ye, 2 * ns, 2 * ew),
                    ),
                )
                g4 = np.where(xe == ye, cross, 4 * c)
                chk = (
                    (xx + 2 * yy + 1) * (r4 + 2 * g4 + 3 * b4)
                ).sum()
                rows.append(
                    (
                        r.image_id,
                        int(c.size),
                        int(r4.sum()),
                        int(g4.sum()),
                        int(b4.sum()),
                        int(chk),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "n_px", "r4_sum", "g4_sum", "b4_sum", "chk",
                ],
            )

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, n_px long, r4_sum long, g4_sum long,"
        " b4_sum long, chk long",
    )


def demosaic_stats_sql(px_cte: str) -> str:
    """DuckDB twin of demosaic_stats over (image_id, x, y, v, w, h) —
    neighbor sums via one tagged-offset join, identical CASE rules."""
    return f"""
WITH px AS MATERIALIZED ({px_cte}),
off(dx, dy, kind) AS (VALUES
  (-1, 0, 'ew'), (1, 0, 'ew'), (0, -1, 'ns'), (0, 1, 'ns'),
  (-1, -1, 'dg'), (1, -1, 'dg'), (-1, 1, 'dg'), (1, 1, 'dg')),
nb AS (
  SELECT p.image_id, p.x, p.y, p.v,
         CAST(sum(CASE WHEN o.kind = 'ew' THEN q.v ELSE 0 END) AS BIGINT) AS ew,
         CAST(sum(CASE WHEN o.kind = 'ns' THEN q.v ELSE 0 END) AS BIGINT) AS ns,
         CAST(sum(CASE WHEN o.kind = 'dg' THEN q.v ELSE 0 END) AS BIGINT) AS dg
  FROM px p
  CROSS JOIN off o
  JOIN px q ON q.image_id = p.image_id
           AND q.x = p.x + o.dx AND q.y = p.y + o.dy
  WHERE p.x >= 1 AND p.x < p.w - 1 AND p.y >= 1 AND p.y < p.h - 1
  GROUP BY 1, 2, 3, 4
),
rgb AS (
  SELECT image_id, x, y,
         CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN 4 * v
              WHEN x % 2 = 1 AND y % 2 = 1 THEN dg
              WHEN x % 2 = 1 AND y % 2 = 0 THEN 2 * ew
              ELSE 2 * ns END AS r4,
         CASE WHEN x % 2 = y % 2 THEN ew + ns ELSE 4 * v END AS g4,
         CASE WHEN x % 2 = 1 AND y % 2 = 1 THEN 4 * v
              WHEN x % 2 = 0 AND y % 2 = 0 THEN dg
              WHEN x % 2 = 1 AND y % 2 = 0 THEN 2 * ns
              ELSE 2 * ew END AS b4
  FROM nb
)
SELECT image_id, count(*) AS n_px,
       CAST(sum(r4) AS BIGINT) AS r4_sum,
       CAST(sum(g4) AS BIGINT) AS g4_sum,
       CAST(sum(b4) AS BIGINT) AS b4_sum,
       CAST(sum((x + 2 * y + 1) * (r4 + 2 * g4 + 3 * b4)) AS BIGINT) AS chk
FROM rgb GROUP BY 1
"""


def median_cut_palette(px: DataFrame) -> DataFrame:
    """(image_id, leaf, n_px, r_sum, g_sum, b_sum) — MEDIAN-CUT COLOR
    QUANTIZATION (Heckbert 1982), depth 2 -> up to 4 palette boxes per
    image, over a demosaiced RGB pixel relation (image_id, r, g, b):
    the palette/posterization primitive of thumbnailing and perceptual
    indexing (a palette entry = exact channel sums / n_px).

    The cut rule is fully deterministic integer algebra: at each round
    the box splits on its WIDEST channel (ties prefer r, then g, then
    b) at that channel's LOWER MEDIAN (count-selected: min v with
    cum >= (n-1)//2 + 1), CLAMPED strictly below the box max — when
    the count-median IS the max (mass piled on the top value) the
    threshold falls back to the largest value below it, so the split
    is non-degenerate whenever the box is non-uniform.  side 0 =
    v <= threshold.  Uniform boxes put every pixel on side 0 — no
    special leaf casing, so the twin is two identical unrolled rounds
    of side assignment.  leaf = side1·2 + side2.

    Scale: per-image groups (bounded pixels) in one applyInPandas;
    4 rows out per image.  The twin's count-median rounds are window
    algebra — oracle-parity for the whole cut tree, not just sums."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        img = pdf["image_id"].iloc[0]
        arr = pdf[["r", "g", "b"]].to_numpy(np.int64)

        def side_bits(mask):
            sub = arr[mask]
            rng = sub.max(axis=0) - sub.min(axis=0)
            chan = int(np.argmax(rng))  # argmax ties -> first = r,g,b order
            vals = np.sort(sub[:, chan])
            med = vals[(len(vals) - 1) // 2]
            if med == vals[-1]:
                below = vals[vals < med]
                if len(below):
                    med = below[-1]
            return (arr[:, chan] > med) & mask

        all_mask = np.ones(len(arr), dtype=bool)
        s1 = side_bits(all_mask)
        leaf = s1.astype(np.int64) * 2
        for side in (False, True):
            m = all_mask & (s1 == side)
            if m.any():
                s2 = side_bits(m)
                leaf = np.where(m & s2, leaf + 1, leaf)
        out = pd.DataFrame(
            {
                "image_id": img,
                "leaf": leaf,
                "r": arr[:, 0],
                "g": arr[:, 1],
                "b": arr[:, 2],
            }
        )
        agg = out.groupby("leaf", as_index=False).agg(
            n_px=("r", "size"),
            r_sum=("r", "sum"),
            g_sum=("g", "sum"),
            b_sum=("b", "sum"),
        )
        agg.insert(0, "image_id", img)
        return agg

    sel = px.select(
        "image_id",
        F.col("r").cast("long").alias("r"),
        F.col("g").cast("long").alias("g"),
        F.col("b").cast("long").alias("b"),
    )
    return sel.groupBy("image_id").applyInPandas(
        fn,
        schema="image_id string, leaf long, n_px long, r_sum long,"
        " g_sum long, b_sum long",
    )


def median_cut_palette_sql(px_cte: str) -> str:
    """DuckDB twin of median_cut_palette — two unrolled count-median
    rounds.  ``px_cte`` -> (image_id, r, g, b)."""
    return f"""
WITH base AS MATERIALIZED (
  SELECT image_id, CAST(r AS BIGINT) AS r, CAST(g AS BIGINT) AS g,
         CAST(b AS BIGINT) AS b
  FROM ({px_cte})
),
st1 AS MATERIALIZED (
  SELECT v.image_id, v.r, v.g, v.b,
         CASE WHEN v.val > m.med THEN 1 ELSE 0 END AS s1
  FROM (
    SELECT bb.*,
           CASE ch.ch WHEN 0 THEN bb.r WHEN 1 THEN bb.g ELSE bb.b END AS val,
           ch.ch, ch.n
    FROM base bb
    JOIN (
      SELECT image_id,
             CASE WHEN max(r) - min(r) >= max(g) - min(g)
                   AND max(r) - min(r) >= max(b) - min(b) THEN 0
                  WHEN max(g) - min(g) >= max(b) - min(b) THEN 1
                  ELSE 2 END AS ch,
             count(*) AS n
      FROM base GROUP BY 1
    ) ch ON ch.image_id = bb.image_id
  ) v
  JOIN (
    SELECT image_id,
           least(min(CASE WHEN cm >= (n - 1) // 2 + 1 THEN val END),
                 coalesce(max(CASE WHEN val < vmx THEN val END),
                          min(CASE WHEN cm >= (n - 1) // 2 + 1 THEN val END)))
             AS med
    FROM (
      SELECT image_id, val,
             sum(cnt) OVER (PARTITION BY image_id ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             max(n) OVER (PARTITION BY image_id) AS n,
             max(val) OVER (PARTITION BY image_id) AS vmx
      FROM (
        SELECT v2.image_id, v2.val, count(*) AS cnt, max(v2.n) AS n
        FROM (
          SELECT bb.image_id,
                 CASE ch.ch WHEN 0 THEN bb.r WHEN 1 THEN bb.g
                      ELSE bb.b END AS val, ch.n
          FROM base bb
          JOIN (
            SELECT image_id,
                   CASE WHEN max(r) - min(r) >= max(g) - min(g)
                         AND max(r) - min(r) >= max(b) - min(b) THEN 0
                        WHEN max(g) - min(g) >= max(b) - min(b) THEN 1
                        ELSE 2 END AS ch,
                   count(*) AS n
            FROM base GROUP BY 1
          ) ch ON ch.image_id = bb.image_id
        ) v2 GROUP BY 1, 2
      )
    ) GROUP BY 1
  ) m ON m.image_id = v.image_id
),
st2 AS MATERIALIZED (
  SELECT v.image_id, v.r, v.g, v.b, v.s1,
         CASE WHEN v.val > m.med THEN 1 ELSE 0 END AS s2
  FROM (
    SELECT bb.*,
           CASE ch.ch WHEN 0 THEN bb.r WHEN 1 THEN bb.g ELSE bb.b END AS val
    FROM st1 bb
    JOIN (
      SELECT image_id, s1,
             CASE WHEN max(r) - min(r) >= max(g) - min(g)
                   AND max(r) - min(r) >= max(b) - min(b) THEN 0
                  WHEN max(g) - min(g) >= max(b) - min(b) THEN 1
                  ELSE 2 END AS ch
      FROM st1 GROUP BY 1, 2
    ) ch ON ch.image_id = bb.image_id AND ch.s1 = bb.s1
  ) v
  JOIN (
    SELECT image_id, s1,
           least(min(CASE WHEN cm >= (n - 1) // 2 + 1 THEN val END),
                 coalesce(max(CASE WHEN val < vmx THEN val END),
                          min(CASE WHEN cm >= (n - 1) // 2 + 1 THEN val END)))
             AS med
    FROM (
      SELECT image_id, s1, val,
             sum(cnt) OVER (PARTITION BY image_id, s1 ORDER BY val
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
             max(n) OVER (PARTITION BY image_id, s1) AS n,
             max(val) OVER (PARTITION BY image_id, s1) AS vmx
      FROM (
        SELECT v2.image_id, v2.s1, v2.val, count(*) AS cnt,
               max(v2.n) AS n
        FROM (
          SELECT bb.image_id, bb.s1,
                 CASE ch.ch WHEN 0 THEN bb.r WHEN 1 THEN bb.g
                      ELSE bb.b END AS val,
                 ch.n
          FROM st1 bb
          JOIN (
            SELECT image_id, s1,
                   CASE WHEN max(r) - min(r) >= max(g) - min(g)
                         AND max(r) - min(r) >= max(b) - min(b) THEN 0
                        WHEN max(g) - min(g) >= max(b) - min(b) THEN 1
                        ELSE 2 END AS ch,
                   count(*) AS n
            FROM st1 GROUP BY 1, 2
          ) ch ON ch.image_id = bb.image_id AND ch.s1 = bb.s1
        ) v2 GROUP BY 1, 2, 3
      )
    ) GROUP BY 1, 2
  ) m ON m.image_id = v.image_id AND m.s1 = v.s1
)
SELECT image_id, CAST(s1 * 2 + s2 AS BIGINT) AS leaf,
       count(*) AS n_px,
       CAST(sum(r) AS BIGINT) AS r_sum,
       CAST(sum(g) AS BIGINT) AS g_sum,
       CAST(sum(b) AS BIGINT) AS b_sum
FROM st2 GROUP BY 1, 2
"""


DOG_K3 = (1, 2, 1)  # binomial 3-tap, weight sum 4


def dog_keypoints(images: DataFrame, thresh: int = 400) -> DataFrame:
    """(image_id, x, y, d, absd) — DIFFERENCE-OF-GAUSSIANS BLOB
    DETECTION (the SIFT front end, Lowe 2004, single octave): the image
    is convolved with the 5x5 binomial (scale 256) and the 3x3 binomial
    (scale 16·16 after matching), and their difference

        D = conv(px, 16·K3 ⊗ K3 − K5 ⊗ K5)     (one zero-sum 5x5 kernel,
                                                narrow minus wide: bright
                                                blobs respond POSITIVE)

    is an exact int64 band-pass response. A pixel is a KEYPOINT iff
    |D| is a STRICT maximum over its 8 neighbors' |D| (ties produce no
    keypoint — deterministic, RNG-free) and |D| >= ``thresh``; borders
    where the kernel or a neighbor lacks support are excluded
    (x, y in [3, w-4] x [3, h-4]).

    Scale: Arrow-batched mapInPandas, 25 shifted adds + 8 neighbor
    compares in NumPy per image inside the batch; pixel bytes never
    shuffle — only the sparse keypoint rows come out. The twin replays
    the combined kernel per pixel from the deterministic formula and
    gates neighbors via NOT EXISTS."""
    c5 = np.array(GAUSS_K5, dtype=np.int64)
    c3 = np.array(DOG_K3, dtype=np.int64)
    W = -np.outer(c5, c5)
    W[1:4, 1:4] += 16 * np.outer(c3, c3)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in ("image_id", "x", "y", "d", "absd")}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                if h < 7 or w < 7:
                    continue
                D = sum(
                    W[dy + 2, dx + 2]
                    * px[2 + dy : h - 2 + dy, 2 + dx : w - 2 + dx]
                    for dy in range(-2, 3)
                    for dx in range(-2, 3)
                )
                A = np.abs(D)
                ctr = A[1:-1, 1:-1]
                hc, wc = ctr.shape
                ok = ctr >= int(thresh)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        if dx == 0 and dy == 0:
                            continue
                        ok &= ctr > A[1 + dy : 1 + dy + hc, 1 + dx : 1 + dx + wc]
                ys, xs = np.nonzero(ok)
                for yi, xi in zip(ys, xs):
                    out["image_id"].append(r.image_id)
                    out["x"].append(int(xi) + 3)
                    out["y"].append(int(yi) + 3)
                    out["d"].append(int(D[yi + 1, xi + 1]))
                    out["absd"].append(int(A[yi + 1, xi + 1]))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, x long, y long, d long, absd long"
    )


def dog_keypoints_sql(px_cte: str, thresh: int = 400) -> str:
    """DuckDB twin of dog_keypoints; ``px_cte`` yields
    (image_id, w, h, x, y, v) pixel rows. One combined zero-sum tap
    table, strict-max neighbors via NOT EXISTS."""
    c5, c3 = GAUSS_K5, DOG_K3
    taps = []
    for dx in range(-2, 3):
        for dy in range(-2, 3):
            kw = -c5[dx + 2] * c5[dy + 2]
            if abs(dx) <= 1 and abs(dy) <= 1:
                kw += 16 * c3[dx + 1] * c3[dy + 1]
            taps.append(f"({dx}, {dy}, {kw})")
    return f"""
WITH dogpx AS ({px_cte}),
dogtaps(dx, dy, kw) AS (SELECT * FROM (VALUES {', '.join(taps)})),
dogd AS (
  SELECT i.image_id, i.w, i.h, i.x, i.y,
         CAST(sum(t.kw * p.v) AS BIGINT) AS d
  FROM (SELECT image_id, w, h, x, y FROM dogpx
        WHERE x >= 2 AND x <= w - 3 AND y >= 2 AND y <= h - 3) i
  JOIN dogtaps t ON true
  JOIN dogpx p ON p.image_id = i.image_id
              AND p.x = i.x + t.dx AND p.y = i.y + t.dy
  GROUP BY 1, 2, 3, 4, 5
)
SELECT c.image_id, CAST(c.x AS BIGINT) AS x, CAST(c.y AS BIGINT) AS y,
       c.d, CAST(abs(c.d) AS BIGINT) AS absd
FROM dogd c
WHERE c.x >= 3 AND c.x <= c.w - 4 AND c.y >= 3 AND c.y <= c.h - 4
  AND abs(c.d) >= {int(thresh)}
  AND NOT EXISTS (
    SELECT 1 FROM dogd n
    WHERE n.image_id = c.image_id
      AND abs(n.x - c.x) <= 1 AND abs(n.y - c.y) <= 1
      AND (n.x <> c.x OR n.y <> c.y)
      AND abs(n.d) >= abs(c.d)
  )
"""


def gray_world_stats(px: DataFrame) -> DataFrame:
    """(image_id, n_px, s_r, s_g, s_b, cr_sum, cg_sum, cb_sum,
    n_clipped) — GRAY-WORLD WHITE BALANCE (Buchsbaum 1980) as an exact
    integer census over per-image RGB pixel tables: the illuminant
    estimate is each channel's mean; every pixel is rescaled

        v' = min(255, v · S_tot div (3 · S_c))      (S_tot = S_r+S_g+S_b)

    so the corrected channel means equalize (up to truncation and the
    255 clamp — n_clipped counts pixels where any channel clamped).
    The color-cast normalization gate of image curation, with a fully
    deterministic integer trace.

    Scale: ONE window sum per image partition (no join) + one rollup;
    int64 headroom v·S_tot < 2^63 holds to ~4096² pixels per image.
    Channel sums of 0 are guarded to 1 (a black channel stays black)."""
    w = Window.partitionBy("image_id")
    sr = F.greatest(F.sum("r").over(w), F.lit(1))
    sg = F.greatest(F.sum("g").over(w), F.lit(1))
    sb = F.greatest(F.sum("b").over(w), F.lit(1))
    stot = sr + sg + sb
    staged = px.select(
        "image_id", "r", "g", "b",
        sr.alias("_sr"), sg.alias("_sg"), sb.alias("_sb"),
        stot.alias("_st"),
    )
    def corr(c, s):
        return F.expr(f"least(255, {c} * _st DIV (3 * {s}))")
    def clip(c, s):
        return F.expr(f"{c} * _st DIV (3 * {s}) > 255")
    return (
        staged.select(
            "image_id", "_sr", "_sg", "_sb",
            corr("r", "_sr").alias("_cr"),
            corr("g", "_sg").alias("_cg"),
            corr("b", "_sb").alias("_cb"),
            (clip("r", "_sr") | clip("g", "_sg") | clip("b", "_sb"))
            .cast("long").alias("_clip"),
        )
        .groupBy("image_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_px"),
            F.first("_sr").cast("long").alias("s_r"),
            F.first("_sg").cast("long").alias("s_g"),
            F.first("_sb").cast("long").alias("s_b"),
            F.sum("_cr").cast("long").alias("cr_sum"),
            F.sum("_cg").cast("long").alias("cg_sum"),
            F.sum("_cb").cast("long").alias("cb_sum"),
            F.sum("_clip").cast("long").alias("n_clipped"),
        )
    )


def gray_world_stats_sql(px_cte: str) -> str:
    """DuckDB twin of gray_world_stats — identical window sums, guards,
    truncating rescale and clamp census."""
    return f"""
WITH gw_px AS ({px_cte}),
gw_s AS (
  SELECT image_id, r, g, b,
         greatest(sum(r) OVER (PARTITION BY image_id), 1) AS _sr,
         greatest(sum(g) OVER (PARTITION BY image_id), 1) AS _sg,
         greatest(sum(b) OVER (PARTITION BY image_id), 1) AS _sb
  FROM gw_px
),
gw_c AS (
  SELECT image_id, _sr, _sg, _sb,
         least(255, r * (_sr + _sg + _sb) // (3 * _sr)) AS _cr,
         least(255, g * (_sr + _sg + _sb) // (3 * _sg)) AS _cg,
         least(255, b * (_sr + _sg + _sb) // (3 * _sb)) AS _cb,
         CASE WHEN r * (_sr + _sg + _sb) // (3 * _sr) > 255
                OR g * (_sr + _sg + _sb) // (3 * _sg) > 255
                OR b * (_sr + _sg + _sb) // (3 * _sb) > 255
              THEN 1 ELSE 0 END AS _clip
  FROM gw_s
)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_px,
       CAST(min(_sr) AS BIGINT) AS s_r,
       CAST(min(_sg) AS BIGINT) AS s_g,
       CAST(min(_sb) AS BIGINT) AS s_b,
       CAST(sum(_cr) AS BIGINT) AS cr_sum,
       CAST(sum(_cg) AS BIGINT) AS cg_sum,
       CAST(sum(_cb) AS BIGINT) AS cb_sum,
       CAST(sum(_clip) AS BIGINT) AS n_clipped
FROM gw_c GROUP BY 1
"""


SHOT_BINS = 16  # 16-bin intensity histogram (v div 16)


def shot_detect(frames: DataFrame, thresh: int = 40) -> DataFrame:
    """(clip_id, frame_idx, l1, is_cut) — SHOT-BOUNDARY DETECTION by
    histogram differencing (the classic video-segmentation baseline,
    Zhang et al. 1993): per frame, a 16-bin intensity histogram; per
    consecutive frame pair, the L1 histogram distance; a CUT fires
    where l1 >= ``thresh``. Gradual pans move few counts per bin (small
    l1); a scene change rewrites the histogram (large l1). The
    clip-segmentation primitive of video curation — keyframe selection
    and per-shot dedup hang off these boundaries.

    Exactness: histograms and L1 are int64 counts — no floats, no RNG.
    Frame 0 has no predecessor and emits no row.

    Scale: ONE Arrow decode pass emits per-frame bin rows (16 per
    frame — pixels never shuffle); the diff is a lag window per
    (clip, bin) + one per-frame rollup."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"clip_id": [], "frame_idx": [], "bin": [], "cnt": []}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt)
                hist = np.bincount(
                    (px.reshape(-1).astype(np.int64) // SHOT_BINS),
                    minlength=SHOT_BINS,
                )[:SHOT_BINS]
                for b in range(SHOT_BINS):
                    out["clip_id"].append(r.clip_id)
                    out["frame_idx"].append(int(r.frame_idx))
                    out["bin"].append(b)
                    out["cnt"].append(int(hist[b]))
            yield pd.DataFrame(out)

    bins = frames.select("clip_id", "frame_idx", "bytes", "fmt").mapInPandas(
        fn, schema="clip_id string, frame_idx long, bin int, cnt long"
    )
    w = Window.partitionBy("clip_id", "bin").orderBy("frame_idx")
    diff = bins.withColumn(
        "_prev", F.lag("cnt").over(w)
    ).filter(F.col("_prev").isNotNull())
    l1 = diff.groupBy("clip_id", "frame_idx").agg(
        F.sum(F.abs(F.col("cnt") - F.col("_prev"))).cast("long").alias("l1")
    )
    return l1.withColumn("is_cut", F.col("l1") >= int(thresh))


def shot_detect_sql(px_cte: str, thresh: int = 40) -> str:
    """DuckDB twin of shot_detect; ``px_cte`` yields
    (clip_id, frame_idx, v) pixel rows. Bin rollup must include EMPTY
    bins (a bin emptying out still contributes |cnt − 0|), so bins come
    from a generated (frame × 16) frame and left-join the counts."""
    return f"""
WITH sd_px AS ({px_cte}),
sd_frames AS (SELECT DISTINCT clip_id, frame_idx FROM sd_px),
sd_cnt AS (
  SELECT clip_id, frame_idx, v // {SHOT_BINS} AS bin,
         CAST(count(*) AS BIGINT) AS cnt
  FROM sd_px GROUP BY 1, 2, 3
),
sd_fb AS (
  SELECT clip_id, frame_idx, b.bin
  FROM sd_frames, unnest(range(0, {SHOT_BINS})) b(bin)
),
sd_bins AS (
  SELECT f.clip_id, f.frame_idx, f.bin, COALESCE(c.cnt, 0) AS cnt
  FROM sd_fb f
  LEFT JOIN sd_cnt c ON c.clip_id = f.clip_id
                    AND c.frame_idx = f.frame_idx AND c.bin = f.bin
),
sd_diff AS (
  SELECT clip_id, frame_idx, bin, cnt,
         lag(cnt) OVER (PARTITION BY clip_id, bin ORDER BY frame_idx)
           AS prev
  FROM sd_bins
)
SELECT clip_id, frame_idx,
       CAST(sum(abs(cnt - prev)) AS BIGINT) AS l1,
       sum(abs(cnt - prev)) >= {int(thresh)} AS is_cut
FROM sd_diff WHERE prev IS NOT NULL
GROUP BY 1, 2
"""


def keyframe_select(frames: DataFrame, thresh: int = 40) -> DataFrame:
    """(clip_id, shot_id, n_frames, key_frame_idx, sharp) — KEYFRAME
    SELECTION: segment each clip into shots at the histogram-diff cut
    boundaries (shot_detect) and keep, per shot, the SHARPEST frame —
    the representative-frame step of video curation (dedup one frame
    per shot, caption the keyframe, thumbnail it).

    Sharpness is the exact integer L1 gradient energy
    Σ|∂x| + Σ|∂y| over the frame's pixels (the integer sibling of
    image_sharpness's Laplacian score); the per-shot winner is pinned
    by (sharp DESC, frame_idx ASC). shot_id is the running cut count
    (frame 0 opens shot 0). Every decision is int64 — composition of
    two Arrow passes and pure column algebra.

    Scale: the cut pass ships 16 bin rows per frame, the sharpness
    pass ONE row per frame — pixels never shuffle; then a lag-window
    per clip and one struct-max rollup per shot."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                g = int(np.abs(np.diff(px, axis=1)).sum()) + int(
                    np.abs(np.diff(px, axis=0)).sum()
                )
                rows.append((r.clip_id, int(r.frame_idx), g))
            yield pd.DataFrame(
                rows, columns=["clip_id", "frame_idx", "sharp"]
            )

    sharp = frames.select("clip_id", "frame_idx", "bytes", "fmt").mapInPandas(
        fn, schema="clip_id string, frame_idx long, sharp long"
    )
    cuts = shot_detect(frames, thresh=thresh).select(
        "clip_id", "frame_idx", "is_cut"
    )
    w = (
        Window.partitionBy("clip_id")
        .orderBy("frame_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = (
        sharp.join(cuts, ["clip_id", "frame_idx"], "left")
        .select(
            "clip_id",
            "frame_idx",
            "sharp",
            F.sum(
                F.when(F.col("is_cut"), F.lit(1)).otherwise(F.lit(0))
            )
            .over(w)
            .cast("long")
            .alias("shot_id"),
        )
    )
    return (
        staged.groupBy("clip_id", "shot_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max(
                F.struct(
                    F.col("sharp"),
                    (-F.col("frame_idx")).alias("negf"),
                    F.col("frame_idx").alias("f"),
                )
            ).alias("top"),
        )
        .select(
            "clip_id",
            "shot_id",
            "n_frames",
            F.col("top.f").alias("key_frame_idx"),
            F.col("top.sharp").alias("sharp"),
        )
    )


def keyframe_select_sql(pxyx_cte: str, thresh: int = 40) -> str:
    """DuckDB twin of keyframe_select; ``pxyx_cte`` yields
    (clip_id, frame_idx, y, x, v) pixel rows. Cuts replay
    shot_detect_sql on the projected (clip_id, frame_idx, v); sharpness
    is the same L1 gradient via +1 self-joins."""
    cuts = shot_detect_sql(
        f"SELECT clip_id, frame_idx, v FROM ({pxyx_cte})", thresh=thresh
    )
    return f"""
WITH kf_px AS MATERIALIZED ({pxyx_cte}),
kf_cuts AS MATERIALIZED ({cuts}),
kf_gx AS (
  SELECT a.clip_id, a.frame_idx, CAST(sum(abs(b.v - a.v)) AS BIGINT) AS s
  FROM kf_px a JOIN kf_px b
    ON b.clip_id = a.clip_id AND b.frame_idx = a.frame_idx
   AND b.y = a.y AND b.x = a.x + 1
  GROUP BY 1, 2
),
kf_gy AS (
  SELECT a.clip_id, a.frame_idx, CAST(sum(abs(b.v - a.v)) AS BIGINT) AS s
  FROM kf_px a JOIN kf_px b
    ON b.clip_id = a.clip_id AND b.frame_idx = a.frame_idx
   AND b.y = a.y + 1 AND b.x = a.x
  GROUP BY 1, 2
),
kf_sharp AS (
  SELECT f.clip_id, f.frame_idx,
         COALESCE(gx.s, 0) + COALESCE(gy.s, 0) AS sharp
  FROM (SELECT DISTINCT clip_id, frame_idx FROM kf_px) f
  LEFT JOIN kf_gx gx ON gx.clip_id = f.clip_id
                    AND gx.frame_idx = f.frame_idx
  LEFT JOIN kf_gy gy ON gy.clip_id = f.clip_id
                    AND gy.frame_idx = f.frame_idx
),
kf_staged AS (
  SELECT s.clip_id, s.frame_idx, s.sharp,
         CAST(sum(CASE WHEN COALESCE(c.is_cut, FALSE) THEN 1 ELSE 0 END)
              OVER (PARTITION BY s.clip_id ORDER BY s.frame_idx
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS shot_id
  FROM kf_sharp s
  LEFT JOIN kf_cuts c ON c.clip_id = s.clip_id
                     AND c.frame_idx = s.frame_idx
),
kf_rank AS (
  SELECT clip_id, shot_id, frame_idx, sharp,
         CAST(count(*) OVER (PARTITION BY clip_id, shot_id) AS BIGINT)
           AS n_frames,
         row_number() OVER (PARTITION BY clip_id, shot_id
                            ORDER BY sharp DESC, frame_idx ASC) AS rk
  FROM kf_staged
)
SELECT clip_id, shot_id, n_frames, frame_idx AS key_frame_idx, sharp
FROM kf_rank WHERE rk = 1
"""


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


def unsharp_stats(images: DataFrame, clip_hi: int = 255) -> DataFrame:
    """(image_id, n_interior, sharp_sum, sharp_max, n_clip_lo,
    n_clip_hi) — UNSHARP MASKING, the classic sharpening op (add back
    the detail the blur removed): with the 5x5 binomial blur conv
    (weight 256) from gaussian_blur_stats, the amount-1 sharpened
    pixel is

        sharp = clamp((512·v − conv) >> 8, 0, 255)

    (= v + (v − blur)). 512·v − conv can go negative next to bright
    edges; NumPy's arithmetic >> and DuckDB's // both FLOOR, so the
    shift is engine-exact on negatives too. n_clip_lo / n_clip_hi
    count the pixels the clamp caught — the halo/overshoot census that
    tells you the amount is too hot.

    Scale: same shape as gaussian_blur_stats — Arrow mapInPandas, two
    separable passes in-batch, pixels never shuffle."""
    k = np.array(GAUSS_K5, dtype=np.int64)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in (
                "image_id", "n_interior", "sharp_sum", "sharp_max",
                "n_clip_lo", "n_clip_hi",
            )}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                if h < 5 or w < 5:
                    continue
                hpass = sum(
                    kv * px[:, j : w - 4 + j] for j, kv in enumerate(k)
                )
                conv = sum(
                    kv * hpass[j : h - 4 + j, :] for j, kv in enumerate(k)
                )
                ctr = px[2 : h - 2, 2 : w - 2]
                raw = (512 * ctr - conv) >> 8
                sharp = np.clip(raw, 0, clip_hi)
                out["image_id"].append(r.image_id)
                out["n_interior"].append(int(sharp.size))
                out["sharp_sum"].append(int(sharp.sum()))
                out["sharp_max"].append(int(sharp.max()))
                out["n_clip_lo"].append(int((raw < 0).sum()))
                out["n_clip_hi"].append(int((raw > clip_hi).sum()))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_interior long, sharp_sum long,"
            " sharp_max long, n_clip_lo long, n_clip_hi long"
        ),
    )


def unsharp_stats_sql(px_cte: str, clip_hi: int = 255) -> str:
    """DuckDB twin of unsharp_stats — the 25-tap blur join plus the
    512·v − conv assembly. ``px_cte`` -> (image_id, w, h, x, y, v)."""
    taps = ", ".join(
        f"({dx - 2}, {dy - 2}, {GAUSS_K5[dx] * GAUSS_K5[dy]})"
        for dx in range(5)
        for dy in range(5)
    )
    return f"""
WITH upx AS ({px_cte}),
u_inner AS (
  SELECT image_id, w, h, x, y, v FROM upx
  WHERE x >= 2 AND x <= w - 3 AND y >= 2 AND y <= h - 3
),
u_taps(dx, dy, kw) AS (SELECT * FROM (VALUES {taps})),
u_conv AS (
  SELECT i.image_id, i.x, i.y,
         CAST((512 * MIN(i.v) - sum(t.kw * p.v)) // 256 AS BIGINT) AS raw
  FROM u_inner i
  JOIN u_taps t ON true
  JOIN upx p ON p.image_id = i.image_id
            AND p.x = i.x + t.dx AND p.y = i.y + t.dy
  GROUP BY 1, 2, 3
)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_interior,
       CAST(sum(LEAST(GREATEST(raw, 0), {clip_hi})) AS BIGINT) AS sharp_sum,
       CAST(max(LEAST(GREATEST(raw, 0), {clip_hi})) AS BIGINT) AS sharp_max,
       CAST(sum(CASE WHEN raw < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN raw > {clip_hi} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clip_hi
FROM u_conv GROUP BY image_id
"""


# bilateral range-weight LUT: wr(d) = round(64·exp(-(d/40)²)) for the 256
# possible |Δv| values — computed ONCE here in Python and embedded as the
# same integer constants into both the NumPy kernel and the SQL twin, so
# no engine ever evaluates exp().
BILAT_WR = tuple(
    int(round(64.0 * math.exp(-((d / 40.0) ** 2)))) for d in range(256)
)
BILAT_WS = ((1, 2, 1), (2, 4, 2), (1, 2, 1))  # 3x3 binomial spatial weights


def bilateral_stats(images: DataFrame) -> DataFrame:
    """(image_id, n_interior, out_sum, out_max, diff_sum) — BILATERAL
    FILTER (Tomasi-Manduchi 1998): edge-preserving smoothing where each
    3x3 neighbor's weight is spatial_binomial × range_LUT[|Δv|], so
    same-side-of-edge pixels average together and cross-edge pixels
    don't — the denoise that doesn't blur boundaries, and the
    pre-filter for dhash/phash robustness. Output pixel =
    Σ(ws·wr·v) DIV Σ(ws·wr) (floor on nonnegatives, denominator >= the
    center's own 4·64 so never zero). ``diff_sum`` = Σ|out − v|
    measures how much smoothing survived the edge gate.

    Both engines read the SAME precomputed integer LUT (module
    constant), so the statistic is bit-exact without either engine
    touching a transcendental. Scale: Arrow mapInPandas, 9 shifted
    adds in-batch, scan-shaped."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        wr = np.array(BILAT_WR, dtype=np.int64)
        out_cols = ("image_id", "n_interior", "out_sum", "out_max", "diff_sum")
        for pdf in it:
            out = {c: [] for c in out_cols}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                if h < 3 or w < 3:
                    continue
                ctr = px[1 : h - 1, 1 : w - 1]
                num = np.zeros_like(ctr)
                den = np.zeros_like(ctr)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        nb = px[1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
                        wgt = BILAT_WS[dy + 1][dx + 1] * wr[np.abs(nb - ctr)]
                        num += wgt * nb
                        den += wgt
                o = num // den
                out["image_id"].append(r.image_id)
                out["n_interior"].append(int(o.size))
                out["out_sum"].append(int(o.sum()))
                out["out_max"].append(int(o.max()))
                out["diff_sum"].append(int(np.abs(o - ctr).sum()))
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_interior long, out_sum long,"
            " out_max long, diff_sum long"
        ),
    )


def bilateral_stats_sql(px_cte: str) -> str:
    """DuckDB twin of bilateral_stats — 9-tap shifted self-join; the
    range LUT is inlined as a 256-row VALUES table (identical constants
    to the NumPy kernel). ``px_cte`` -> (image_id, w, h, x, y, v)."""
    taps = ", ".join(
        f"({dx}, {dy}, {BILAT_WS[dy + 1][dx + 1]})"
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    )
    lut = ", ".join(f"({d}, {w})" for d, w in enumerate(BILAT_WR))
    return f"""
WITH bpx AS ({px_cte}),
b_inner AS (
  SELECT image_id, w, h, x, y, v FROM bpx
  WHERE x >= 1 AND x <= w - 2 AND y >= 1 AND y <= h - 2
),
b_taps(dx, dy, ws) AS (SELECT * FROM (VALUES {taps})),
b_lut(d, wr) AS (SELECT * FROM (VALUES {lut})),
b_conv AS (
  SELECT i.image_id, i.x, i.y, MIN(i.v) AS v,
         CAST(sum(t.ws * l.wr * p.v) // sum(t.ws * l.wr) AS BIGINT) AS o
  FROM b_inner i
  JOIN b_taps t ON true
  JOIN bpx p ON p.image_id = i.image_id
            AND p.x = i.x + t.dx AND p.y = i.y + t.dy
  JOIN b_lut l ON l.d = abs(p.v - i.v)
  GROUP BY 1, 2, 3
)
SELECT image_id, CAST(count(*) AS BIGINT) AS n_interior,
       CAST(sum(o) AS BIGINT) AS out_sum,
       CAST(max(o) AS BIGINT) AS out_max,
       CAST(sum(abs(o - v)) AS BIGINT) AS diff_sum
FROM b_conv GROUP BY image_id
"""


UNDIST_FP = 4096  # radial factor fixed point
UNDIST_KDEN = 60_000  # barrel coefficient: k = FP/KDEN per quarter-px²


def undistort_stats(images: DataFrame) -> DataFrame:
    """(image_id, n_px, n_oob, out_sum, out_max) — RADIAL LENS
    UNDISTORTION (barrel model, inverse mapping + nearest-neighbor
    resample): dst offset (measured in half-pixels from the image
    center, 2x−(w−1)) maps to source offset

        src2 = floor(d2 · factor_q / FP),
        factor_q = FP + (r2 · FP) DIV KDEN,   r2 = dx2² + dy2²

    — the camera-calibration warp that must run before any geometric
    model consumes phone/dashcam frames. All arithmetic is integer or
    exact small-magnitude double (|d2·factor_q| < 2^40, so the IEEE
    divide-then-floor is exact and engine-identical, floor semantics
    on negatives included). Out-of-bounds sources are counted, not
    clamped. NN sample: src = floor(src2 / 2).

    Scale: mapInPandas; the (h, w) index grids build once per image
    in NumPy, gather is one fancy-index — scan-shaped."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in ("image_id", "n_px", "n_oob", "out_sum", "out_max")}
            for r in pdf.itertuples(index=False):
                px = imagecodec.decode(bytes(r.bytes), r.fmt).astype(np.int64)
                h, w = px.shape
                ys, xs = np.mgrid[0:h, 0:w]
                dx2 = 2 * xs - (w - 1)
                dy2 = 2 * ys - (h - 1)
                r2 = dx2 * dx2 + dy2 * dy2
                fq = UNDIST_FP + (r2 * UNDIST_FP) // UNDIST_KDEN
                sx2 = np.floor(dx2 * fq / UNDIST_FP).astype(np.int64) + (w - 1)
                sy2 = np.floor(dy2 * fq / UNDIST_FP).astype(np.int64) + (h - 1)
                sx = np.floor(sx2 / 2.0).astype(np.int64)
                sy = np.floor(sy2 / 2.0).astype(np.int64)
                ok = (sx >= 0) & (sx < w) & (sy >= 0) & (sy < h)
                vals = px[sy[ok], sx[ok]]
                out["image_id"].append(r.image_id)
                out["n_px"].append(int(px.size))
                out["n_oob"].append(int(px.size - ok.sum()))
                out["out_sum"].append(int(vals.sum()))
                out["out_max"].append(int(vals.max()) if vals.size else 0)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema=(
            "image_id string, n_px long, n_oob long, out_sum long, out_max long"
        ),
    )


def undistort_stats_sql(px_cte: str) -> str:
    """DuckDB twin of undistort_stats — the same integer radial model,
    joined back to the pixel table on the computed source coords.
    ``px_cte`` -> (image_id, w, h, x, y, v)."""
    return f"""
WITH udx AS ({px_cte}),
ud_map AS (
  SELECT image_id, w, h, x, y,
         CAST(floor((2 * x - (w - 1))
              * ({UNDIST_FP} + (((2 * x - (w - 1)) * (2 * x - (w - 1))
                 + (2 * y - (h - 1)) * (2 * y - (h - 1))) * {UNDIST_FP})
                 // {UNDIST_KDEN})
              / {UNDIST_FP}.0) AS BIGINT) + (w - 1) AS sx2,
         CAST(floor((2 * y - (h - 1))
              * ({UNDIST_FP} + (((2 * x - (w - 1)) * (2 * x - (w - 1))
                 + (2 * y - (h - 1)) * (2 * y - (h - 1))) * {UNDIST_FP})
                 // {UNDIST_KDEN})
              / {UNDIST_FP}.0) AS BIGINT) + (h - 1) AS sy2
  FROM udx
),
ud_src AS (
  SELECT image_id, w, h, x, y,
         CAST(floor(sx2 / 2.0) AS BIGINT) AS sx,
         CAST(floor(sy2 / 2.0) AS BIGINT) AS sy
  FROM ud_map
),
ud_j AS (
  SELECT m.image_id,
         CASE WHEN m.sx >= 0 AND m.sx < m.w AND m.sy >= 0 AND m.sy < m.h
              THEN p.v ELSE NULL END AS v
  FROM ud_src m
  LEFT JOIN udx p ON p.image_id = m.image_id
                 AND p.x = m.sx AND p.y = m.sy
)
SELECT image_id, CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oob,
       CAST(COALESCE(SUM(v), 0) AS BIGINT) AS out_sum,
       CAST(COALESCE(MAX(v), 0) AS BIGINT) AS out_max
FROM ud_j GROUP BY image_id
"""


