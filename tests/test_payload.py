"""Image payload invariants (E7) + multimodal plumbing + lineage/resume (E6)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2geojson_spark.functions import imagecodec
from osm2geojson_spark.operators.multimodal import (
    decode_stats,
    dhash_features,
    histogram_features,
    resize_images,
)
from osm2geojson_spark.plans.manifest import ParquetManifest, ResumableJob
from osm2geojson_spark.sources.synthetic import phash_lat, phash_lon, synthetic_images


def test_codec_roundtrip_bit_exact():
    px = imagecodec.synth_pixels(42, 64, 32)
    back = imagecodec.decode_rawz(imagecodec.encode_rawz(px))
    assert np.array_equal(px, back)
    assert imagecodec.psnr_db(px, back) == math.inf  # >= 40 dB requirement


def test_external_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        imagecodec.decode(b"\xff\xd8\xff", "jpeg")


def test_png_roundtrip_all_color_types():
    """Real-PNG codec (stdlib zlib + the five filter types): bit-exact
    decode(encode(x)) for gray / gray+alpha / RGB / RGBA."""
    rng = np.random.default_rng(5)
    for shape in [(8, 8), (17, 31), (16, 16, 2), (9, 13, 3), (5, 7, 4), (1, 1)]:
        px = rng.integers(0, 256, shape).astype(np.uint8)
        back = imagecodec.decode_png(imagecodec.encode_png(px))
        assert np.array_equal(px, back)
        assert imagecodec.psnr_db(px, back) == math.inf
    # smooth gradients make the adaptive encoder pick Sub/Up filters
    grad = (np.add.outer(np.arange(32) * 5, np.arange(32) * 3) % 256).astype(np.uint8)
    assert np.array_equal(imagecodec.decode(imagecodec.encode_png(grad), "png"), grad)


def test_png_decodes_average_paeth_and_palette():
    """Foreign-file filters our encoder never emits (Average=3, Paeth=4) and
    palette color (type 3): hand-filtered scanlines must reconstruct."""
    import struct
    import zlib

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (6, 5, 3)).astype(np.uint8)
    flat = px.reshape(6, 15).astype(int)
    lines = b""
    prev = np.zeros(15, int)
    for y in range(6):
        ft = 3 if y % 2 == 0 else 4
        filt = np.zeros(15, int)
        for x in range(15):
            left = flat[y][x - 3] if x >= 3 else 0
            up = prev[x]
            ul = prev[x - 3] if x >= 3 else 0
            pred = (left + up) // 2 if ft == 3 else imagecodec._paeth(int(left), int(up), int(ul))
            filt[x] = (flat[y][x] - pred) & 0xFF
        lines += bytes([ft]) + bytes(filt.astype(np.uint8).tolist())
        prev = flat[y]
    ihdr = struct.pack(">IIBBBBB", 5, 6, 8, 2, 0, 0, 0)
    buf = (
        imagecodec._PNG_SIG
        + imagecodec._chunk(b"IHDR", ihdr)
        + imagecodec._chunk(b"IDAT", zlib.compress(lines))
        + imagecodec._chunk(b"IEND", b"")
    )
    assert np.array_equal(imagecodec.decode_png(buf), px)

    plte = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (4, 7)).astype(np.uint8)
    lines = b"".join(bytes([0]) + bytes(idx[y].tolist()) for y in range(4))
    buf = (
        imagecodec._PNG_SIG
        + imagecodec._chunk(b"IHDR", struct.pack(">IIBBBBB", 7, 4, 8, 3, 0, 0, 0))
        + imagecodec._chunk(b"PLTE", plte.tobytes())
        + imagecodec._chunk(b"IDAT", zlib.compress(lines))
        + imagecodec._chunk(b"IEND", b"")
    )
    assert np.array_equal(imagecodec.decode_png(buf), plte[idx])


def test_png_rejects_corruption_and_unsupported():
    px = imagecodec.synth_pixels(3, 8, 8)
    good = bytearray(imagecodec.encode_png(px))
    with pytest.raises(ValueError):
        imagecodec.decode_png(b"not a png at all")
    bad = bytearray(good)
    bad[30] ^= 0xFF  # flip an IDAT byte -> CRC mismatch
    with pytest.raises(ValueError):
        imagecodec.decode_png(bytes(bad))
    import struct

    # 16-bit depth and interlace are documented as unsupported
    for patch in ((16, 8), (8, None)):
        ihdr = struct.pack(
            ">IIBBBBB", 8, 8, patch[0], 0, 0, 0, 1 if patch[1] is None else 0
        )
        buf = (
            imagecodec._PNG_SIG
            + imagecodec._chunk(b"IHDR", ihdr)
            + imagecodec._chunk(b"IDAT", b"x")
            + imagecodec._chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError):
            imagecodec.decode_png(buf)


def test_payload_table_invariants(spark):
    """input_hint schema + per-row invariant: decoded-pixel exactness
    (PSNR=inf >= 40 dB) and caption equality."""
    df = synthetic_images(spark, 30)
    assert [f.name for f in df.schema.fields][:7] == [
        "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
    ]
    for r in df.collect():
        i = int(r["image_id"].replace("img", ""))
        px = imagecodec.decode(bytes(r["bytes"]), r["fmt"])
        assert px.shape == (r["h"], r["w"])
        ref = imagecodec.synth_pixels(i, r["w"], r["h"])
        assert imagecodec.psnr_db(px, ref) == math.inf
        assert r["caption"] == f"caption for img{i}"


def test_phash_decodes_to_point_in_bbox(spark):
    bbox = (10.0, 20.0, 12.0, 22.0)
    df = synthetic_images(spark, 200, bbox=bbox, with_bytes=False)
    pts = df.select(
        phash_lon(F.col("phash")).alias("lon"), phash_lat(F.col("phash")).alias("lat")
    ).collect()
    eps = 2e-7  # quantization bin half-width (360 / 2^31)
    for r in pts:
        assert 10.0 - eps <= r["lon"] <= 12.0 + eps
        assert 20.0 - eps <= r["lat"] <= 22.0 + eps


def test_decode_stats_and_histogram(spark):
    imgs = synthetic_images(spark, 12)
    stats = decode_stats(imgs).collect()
    assert all(r["decode_ok"] for r in stats)
    r0 = next(r for r in stats if r["image_id"] == "img000000000000")
    px = imagecodec.synth_pixels(0, r0["w"], r0["h"]).astype(float)
    assert abs(r0["px_mean"] - round(float(px.mean()), 6)) < 1e-9
    hists = histogram_features(imgs).collect()
    for r in hists:
        assert len(r["hist"]) == 16
        assert abs(sum(r["hist"]) - 1.0) < 0.01


def test_resize(spark):
    imgs = synthetic_images(spark, 6)
    out = resize_images(imgs, 8, 8).collect()
    for r in out:
        px = imagecodec.decode_rawz(bytes(r["bytes"]))
        assert px.shape == (8, 8)


def _dhash_np(px: np.ndarray, hash_w: int = 8, hash_h: int = 8) -> int:
    ys = (np.arange(hash_h) * px.shape[0] // hash_h).clip(0, px.shape[0] - 1)
    xs = (np.arange(hash_w + 1) * px.shape[1] // (hash_w + 1)).clip(0, px.shape[1] - 1)
    g = px[np.ix_(ys, xs)]
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    v = 0
    for k, b in enumerate(bits):
        if b:
            v |= 1 << k
    return v - (1 << 64) if v >= 1 << 63 else v


def test_dhash_matches_reference_pack(spark):
    imgs = synthetic_images(spark, 20)
    got = {r["image_id"]: r["dhash"] for r in dhash_features(imgs).collect()}
    for r in imgs.collect():
        px = imagecodec.decode(bytes(r["bytes"]), r["fmt"])
        assert got[r["image_id"]] == _dhash_np(px), r["image_id"]


def test_dhash_invariant_under_integer_downscale(spark):
    """dhash(resize(img)) == dhash(img) for the same floor index map when
    the resize target is the hash grid itself."""
    imgs = synthetic_images(spark, 8)
    direct = {r["image_id"]: r["dhash"] for r in dhash_features(imgs, 8, 8).collect()}
    resized = resize_images(imgs, 9, 8)  # exactly the hash sampling grid
    via = {r["image_id"]: r["dhash"] for r in dhash_features(resized, 8, 8).collect()}
    assert direct == via


def test_dhash_groups_exact_duplicates(spark):
    """Images i and i+753 have identical pixels (same w: period 3; same
    mod-251 offset: 13 invertible mod the prime 251 -> period 753)."""
    imgs = synthetic_images(spark, 1600)
    dh = dhash_features(imgs)
    rows = {r["image_id"]: r["dhash"] for r in dh.collect()}
    for i in (0, 100, 500, 846):
        a = rows[f"img{i:012d}"]
        b = rows[f"img{i + 753:012d}"]
        assert a == b, i


def test_resume_equivalence(spark, tmp_path):
    """E6: kill-and-restart == identical manifest/data (resume skips
    committed batches; metrics recorded per partition batch)."""
    root = str(tmp_path / "m1")
    man = ParquetManifest(root)
    job = ResumableJob(man)

    def make(bid: str):
        lo = int(bid) * 100
        return spark.range(lo, lo + 100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    r1 = job.run(["0", "1"], make)
    assert r1["ran"] == ["0", "1"]
    # "restart": same work list plus new batch -> only the new one runs
    r2 = ResumableJob(ParquetManifest(root)).run(["0", "1", "2"], make)
    assert r2["skipped"] == ["0", "1"] and r2["ran"] == ["2"]
    total = spark.read.parquet(os.path.join(root, "data", "batch=*")).count()
    assert total == 300
    metrics = man.read_metrics()
    assert len(metrics) == 3
    assert all(m["rows_out"] == 100 and m["bytes_out"] > 0 for m in metrics)


# ----------------------------------------------------------- tile pyramid


def _pyramid_fixture(spark, res, drop_cells=()):
    """One 8x8 tile per cell of the full 2^res x 2^res grid (minus
    drop_cells), deterministic pixels, mixed rawz/png wire formats."""
    from osm2geojson_spark.operators import cells

    n = 1 << res
    rows = []
    for x in range(n):
        for y in range(n):
            if (x, y) in drop_cells:
                continue
            i = x * n + y
            px = imagecodec.synth_pixels(i, 8, 8)
            fmt = "png" if i % 5 == 0 else "rawz"
            rows.append(
                (cells.pack_cell_py(res, x, y), 8, 8, fmt,
                 bytearray(imagecodec.encode(px, fmt)))
            )
    df = spark.createDataFrame(
        rows, "cell_id long, w int, h int, fmt string, bytes binary"
    )
    return df, {r[0]: r for r in rows}


def _np_pyramid_parent(res, px_at, pxy):
    """NumPy reference for one parent at (px, py): stitch + 2x2 avg pool."""
    px_, py_ = pxy
    canvas = np.zeros((16, 16), dtype=np.float64)
    for dx in (0, 1):
        for dy in (0, 1):
            child = px_at.get((2 * px_ + dx, 2 * py_ + dy))
            if child is None:
                continue
            r0 = (1 - dy) * 8
            canvas[r0 : r0 + 8, dx * 8 : dx * 8 + 8] = child
    return canvas.reshape(8, 2, 8, 2).sum(axis=(1, 3)) * 0.25


def test_tile_pyramid_level_matches_numpy(spark):
    from osm2geojson_spark.operators import cells
    from osm2geojson_spark.operators.multimodal import tile_pyramid_level

    res = 3
    n = 1 << res
    drop = {(1, 2), (5, 5), (0, 7)}
    tiles, _ = _pyramid_fixture(spark, res, drop_cells=drop)
    px_at = {
        (x, y): imagecodec.synth_pixels(x * n + y, 8, 8).astype(np.float64)
        for x in range(n)
        for y in range(n)
        if (x, y) not in drop
    }
    out = {r["cell_id"]: r for r in tile_pyramid_level(tiles, res).collect()}
    m = 1 << (res - 1)
    assert len(out) == m * m  # every parent has >= 1 child here
    for px_ in range(m):
        for py_ in range(m):
            want = _np_pyramid_parent(res, px_at, (px_, py_))
            r = out[cells.pack_cell_py(res - 1, px_, py_)]
            kids = sum(
                1
                for dx in (0, 1)
                for dy in (0, 1)
                if (2 * px_ + dx, 2 * py_ + dy) in px_at
            )
            assert r["n_children"] == kids
            assert r["px_sum"] == want.sum()  # exact dyadic equality
            got_px = imagecodec.decode_rawz(bytes(r["bytes"]))
            ref = np.clip(np.rint(want), 0, 255).astype(np.uint8)
            assert np.array_equal(got_px, ref)


def test_tile_pyramid_orientation(spark):
    """A single bright northern child must land in the TOP half of the
    parent tile (image row 0 = top = higher latitude)."""
    from osm2geojson_spark.operators import cells
    from osm2geojson_spark.operators.multimodal import tile_pyramid_level

    bright = np.full((8, 8), 200, dtype=np.uint8)
    tiles = spark.createDataFrame(
        [(cells.pack_cell_py(2, 0, 1), 8, 8, "rawz",
          bytearray(imagecodec.encode_rawz(bright)))],
        "cell_id long, w int, h int, fmt string, bytes binary",
    )
    r = tile_pyramid_level(tiles, 2).collect()[0]
    px = imagecodec.decode_rawz(bytes(r["bytes"]))
    assert px[:4, :4].mean() == 200.0  # top-left quadrant
    assert px[4:, :].sum() == 0 and px[:, 4:].sum() == 0


def test_tile_pyramid_two_levels(spark):
    """res 3 -> 1 in two rollups: level-2 parents consume the uint8
    re-encodes of level 1 (the standard lossy pyramid contract)."""
    from osm2geojson_spark.operators import cells
    from osm2geojson_spark.operators.multimodal import tile_pyramid, tile_pyramid_level

    res = 3
    tiles, _ = _pyramid_fixture(spark, res)
    lvl1 = {r["cell_id"]: r for r in tile_pyramid_level(tiles, res).collect()}
    # numpy reference for level 2 built FROM the level-1 uint8 tiles
    px_at = {}
    for (cid, r) in lvl1.items():
        _, _, x, y = (None, None, *_cell_xy_py(cid))
        px_at[(x, y)] = imagecodec.decode_rawz(bytes(r["bytes"])).astype(np.float64)
    out = {r["cell_id"]: r for r in tile_pyramid(tiles, res, levels=2).collect()}
    assert len(out) == 4
    for px_ in range(2):
        for py_ in range(2):
            want = _np_pyramid_parent(2, px_at, (px_, py_))
            r = out[cells.pack_cell_py(1, px_, py_)]
            assert r["px_sum"] == want.sum()
            assert np.array_equal(
                imagecodec.decode_rawz(bytes(r["bytes"])),
                np.clip(np.rint(want), 0, 255).astype(np.uint8),
            )


def _cell_xy_py(cell):
    from osm2geojson_spark.operators.cells import _R_SHIFT, _X_SHIFT

    return (cell >> _X_SHIFT) & ((1 << (_R_SHIFT - _X_SHIFT)) - 1), cell & ((1 << _X_SHIFT) - 1)


def test_augment_ops_match_numpy(spark):
    from osm2geojson_spark.operators.multimodal import augment_images

    px = imagecodec.synth_pixels(3, 12, 8)  # non-square: shape checks matter
    imgs = spark.createDataFrame(
        [("a", 12, 8, "rawz", bytearray(imagecodec.encode_rawz(px)))],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    want = {
        "hflip": px[:, ::-1],
        "vflip": px[::-1, :],
        "rot90": np.rot90(px),
        "crop_cc": px[2:6, 3:9],
    }
    for op, ref in want.items():
        r = augment_images(imgs, op).collect()[0]
        got = imagecodec.decode_rawz(bytes(r["bytes"]))
        assert (r["h"], r["w"]) == ref.shape, op
        assert np.array_equal(got, ref), op
    import pytest as _pytest

    with _pytest.raises(ValueError):
        augment_images(imgs, "zoom")


def test_sharpness_matches_numpy(spark):
    from osm2geojson_spark.operators.multimodal import sharpness_features

    px = imagecodec.synth_pixels(5, 12, 8).astype(np.int64)  # non-square
    imgs = spark.createDataFrame(
        [
            ("a", 12, 8, "rawz", bytearray(imagecodec.encode_rawz(px.astype(np.uint8)))),
            # constant image: Laplacian energy must be exactly 0
            ("b", 6, 6, "rawz", bytearray(imagecodec.encode_rawz(np.full((6, 6), 9, np.uint8)))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {r["image_id"]: r for r in sharpness_features(imgs).collect()}
    c = px[1:-1, 1:-1]
    lap = 4 * c - px[:-2, 1:-1] - px[2:, 1:-1] - px[1:-1, :-2] - px[1:-1, 2:]
    assert got["a"]["lap_energy"] == int((lap * lap).sum())
    assert got["a"]["lap_count"] == 10 * 6
    assert got["b"]["lap_energy"] == 0 and got["b"]["lap_count"] == 16


# ---------------------------------------------------------------- zonal stats


def _brute_pip(px_, py_, ring):
    """Independent scalar ray cast (written fresh for this test — not the
    engine kernel) for the zonal polygon-mode oracle."""
    inside = False
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > py_) != (y2 > py_):
            xint = x1 + (py_ - y1) * (x2 - x1) / (y2 - y1)
            if px_ < xint:
                inside = not inside
    return inside


def test_zonal_stats_polygon_mode_vs_brute(spark):
    from osm2geojson_spark.functions import geom
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import zonal_stats
    from osm2geojson_spark.operators.spatial_join import polygons_to_df
    from osm2geojson_spark.sources.synthetic import phash_encode

    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(5)
    dpp = 0.05
    rows, arrays = [], {}
    for i in range(12):
        w = int(8 * (1 + i % 3))
        px = rng.integers(0, 251, size=(w, w)).astype(np.uint8)
        arrays[f"img{i}"] = px
        rows.append((f"img{i}", IC.encode_rawz(px), w, w, "rawz",
                     float(-1.5 + (i % 4)), float(-1.0 + (i // 4))))
    imgs = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, lon double, lat double"
    ).withColumn("phash", phash_encode(F.col("lon"), F.col("lat")))
    # triangle zone overlapping the tile cluster
    tri = [[-2.0, -1.5], [2.5, -1.0], [0.0, 2.0], [-2.0, -1.5]]
    polys = polygons_to_df(spark, [(7, geom.polygon([tri]))])
    got = {
        r["poly_id"]: r
        for r in zonal_stats(imgs, polys, deg_per_px=dpp, res=5, mode="polygon").collect()
    }
    # brute oracle: every pixel center of every tile vs the fresh ray cast
    # (phash quantizes lon/lat — recompute centers from the decoded grid)
    from osm2geojson_spark.sources.synthetic import phash_lon, phash_lat
    centers = {
        r["image_id"]: (r["plon"], r["plat"])
        for r in imgs.select(
            "image_id", phash_lon(F.col("phash")).alias("plon"),
            phash_lat(F.col("phash")).alias("plat")).collect()
    }
    vals = []
    n_tiles = 0
    for iid, px in arrays.items():
        w = px.shape[0]
        lon0 = centers[iid][0] - w * (dpp / 2.0)
        lat0 = centers[iid][1] - w * (dpp / 2.0)
        hit = [
            int(px[y, x])
            for y in range(w)
            for x in range(w)
            if _brute_pip(lon0 + (x + 0.5) * dpp, lat0 + (y + 0.5) * dpp, tri)
        ]
        if hit:
            n_tiles += 1
            vals.extend(hit)
    assert got[7]["n_tiles"] == n_tiles
    assert got[7]["px_cnt"] == len(vals)
    assert got[7]["px_sum"] == sum(vals)
    assert got[7]["px_min"] == min(vals) and got[7]["px_max"] == max(vals)


def test_zonal_stats_box_polygon_equals_bbox_mode(spark):
    from osm2geojson_spark.functions import geom
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import zonal_stats
    from osm2geojson_spark.operators.spatial_join import polygons_to_df
    from osm2geojson_spark.sources.synthetic import phash_encode

    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(9)
    rows = []
    for i in range(10):
        px = rng.integers(0, 251, size=(16, 16)).astype(np.uint8)
        rows.append((f"img{i}", IC.encode_rawz(px), 16, 16, "rawz",
                     float(-1.0 + (i % 5) * 0.5), float(-0.5 + (i // 5) * 0.5)))
    imgs = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, lon double, lat double"
    ).withColumn("phash", phash_encode(F.col("lon"), F.col("lat")))
    box = [[-1.3, -0.7], [1.7, -0.7], [1.7, 0.9], [-1.3, 0.9], [-1.3, -0.7]]
    polys = polygons_to_df(spark, [(1, geom.polygon([box]))])
    a = zonal_stats(imgs, polys, deg_per_px=0.05, res=5, mode="bbox").collect()
    b = zonal_stats(imgs, polys, deg_per_px=0.05, res=5, mode="polygon").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_caption_alignment_scores_and_gate(spark):
    """Alignment = cosine(hist16, token-bucket-16): verified against a
    fresh NumPy recomputation; identical (pixels, caption) rows must score
    identically; a caption with zero bucket overlap scores 0 and fails the
    keep gate."""
    import hashlib

    import numpy as np

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import caption_alignment

    rng = np.random.default_rng(17)
    pxs = {f"im{i}": rng.integers(0, 251, size=(8, 8)).astype(np.uint8) for i in range(6)}
    caps = {
        "im0": "a scenic mountain photo",
        "im1": "a scenic mountain photo",   # same caption, different pixels
        "im2": "city skyline at night with lights",
        "im3": "small dog",
        "im4": "small dog",
        "im5": "completely different words here",
    }
    pxs["im4"] = pxs["im3"].copy()  # identical row -> identical score
    rows = [
        (k, IC.encode_rawz(pxs[k]), 8, 8, "rawz", caps[k]) for k in sorted(pxs)
    ]
    imgs = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string"
    )
    got = {r["image_id"]: r for r in caption_alignment(imgs, bins=16, tau=0.25).collect()}

    def brute(px, cap):
        hist = np.round(
            np.histogram(px, bins=np.linspace(0, 256, 17))[0] / px.size, 6
        )
        cnt = np.zeros(16)
        for t in cap.lower().split():
            h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % 16
            cnt[h] += 1
        return float(hist @ cnt) / (np.sqrt(hist @ hist) * np.sqrt(cnt @ cnt))

    for k in pxs:
        assert abs(got[k]["score"] - round(brute(pxs[k], caps[k]), 6)) < 2e-6, k
        assert got[k]["keep"] == (brute(pxs[k], caps[k]) >= 0.25), k
    assert got["im3"]["score"] == got["im4"]["score"]


# ------------------------------------------------------------- vectorize mask


def _flood(mask, conn4):
    """Fresh BFS flood fill (test-only oracle for the tracing kernel)."""
    from collections import deque

    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    nbrs = [(1, 0), (-1, 0), (0, 1), (0, -1)] + (
        [] if conn4 else [(1, 1), (1, -1), (-1, 1), (-1, -1)]
    )
    comps = []
    for y in range(h):
        for x in range(w):
            if mask[y, x] and not seen[y, x]:
                q = deque([(y, x)])
                seen[y, x] = True
                comp = [(y, x)]
                while q:
                    cy, cx = q.popleft()
                    for dy, dx in nbrs:
                        ny, nx = cy + dy, cx + dx
                        if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and not seen[ny, nx]:
                            seen[ny, nx] = True
                            q.append((ny, nx))
                            comp.append((ny, nx))
                comps.append(comp)
    return comps


def test_vectorize_mask_topology_area_roundtrip():
    """200 random masks: parts == 4-connected hot components, holes ==
    8-connected interior cold components (the left-turn duality), shoelace
    area == hot count, and pixel-center even-odd PIP round-trips the mask
    exactly."""
    from osm2geojson_spark.functions.kernels import (
        _point_in_ring_scalar,
        signed_area,
        vectorize_mask,
    )

    rng = np.random.default_rng(42)
    for trial in range(60):
        h, w = rng.integers(2, 12, 2)
        mask = rng.random((h, w)) < rng.uniform(0.2, 0.8)
        polys = vectorize_mask(mask)
        assert len(polys) == len(_flood(mask, True)), trial
        pad = np.ones((h + 2, w + 2), dtype=bool)
        pad[1:-1, 1:-1] = ~mask
        n_holes = sum(
            1
            for comp in _flood(pad, False)
            if not any(y in (0, h + 1) or x in (0, w + 1) for y, x in comp)
        )
        assert sum(len(p) - 1 for p in polys) == n_holes, trial
        area = sum(signed_area(r) for p in polys for r in p)
        assert area == float(mask.sum()), trial
        for y in range(h):
            for x in range(w):
                inside = False
                for p in polys:
                    for r in p:
                        if _point_in_ring_scalar(x + 0.5, y + 0.5, r):
                            inside = not inside
                assert inside == bool(mask[y, x]), (trial, x, y)


def test_vectorize_images_operator(spark):
    """Distributed polygonization: donut + split shapes through the Arrow
    pass, geometry blob decodes to the expected MultiPolygon structure."""
    from osm2geojson_spark.functions import geom
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import vectorize_images

    donut = np.zeros((7, 7), dtype=np.uint8)
    donut[1:6, 1:6] = 200
    donut[3, 3] = 0
    diag = np.zeros((4, 4), dtype=np.uint8)
    diag[1, 1] = diag[2, 2] = 255
    rows = [
        ("donut", IC.encode_rawz(donut), 7, 7, "rawz"),
        ("diag", IC.encode_rawz(diag), 4, 4, "rawz"),
        ("empty", IC.encode_rawz(np.zeros((4, 4), dtype=np.uint8)), 4, 4, "rawz"),
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    got = {r["image_id"]: r for r in vectorize_images(df, threshold=128).collect()}
    d = got["donut"]
    assert (d["n_parts"], d["n_holes"], d["area_px"], d["perimeter_px"]) == (1, 1, 24, 24)
    gj = geom.to_geojson_geometry(bytes(d["gpb"]))
    assert gj["type"] == "MultiPolygon" and len(gj["coordinates"]) == 1
    assert len(gj["coordinates"][0]) == 2  # shell + hole
    assert (got["diag"]["n_parts"], got["diag"]["area_px"]) == (2, 2)
    assert got["empty"]["n_parts"] == 0 and got["empty"]["gpb"] is None


def test_zonal_median_matches_numpy(spark):
    """Histogram-walk median == np.sort lower median over the zone's pixels."""
    from osm2geojson_spark.functions import geom
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import zonal_median
    from osm2geojson_spark.operators.spatial_join import polygons_to_df
    from osm2geojson_spark.sources.synthetic import phash_encode, phash_lat, phash_lon

    rng = np.random.default_rng(19)
    dpp = 0.05
    rows = []
    for i in range(9):
        w = int(8 * (1 + i % 2))
        px = rng.integers(0, 251, size=(w, w)).astype(np.uint8)
        rows.append((f"img{i}", IC.encode_rawz(px), w, w, "rawz",
                     float(-1.0 + (i % 3)), float(-0.8 + (i // 3) * 0.8), px))
    imgs = spark.createDataFrame(
        [(a, b, c, d, e, f, g) for a, b, c, d, e, f, g, _ in rows],
        "image_id string, bytes binary, w int, h int, fmt string, lon double, lat double",
    ).withColumn("phash", phash_encode(F.col("lon"), F.col("lat")))
    box = [[-1.6, -1.1], [1.9, -1.1], [1.9, 1.2], [-1.6, 1.2], [-1.6, -1.1]]
    polys = polygons_to_df(spark, [(3, geom.polygon([box]))])
    got = zonal_median(imgs, polys, deg_per_px=dpp, res=5).collect()[0]
    centers = {
        r["image_id"]: (r["plon"], r["plat"])
        for r in imgs.select("image_id", phash_lon(F.col("phash")).alias("plon"),
                             phash_lat(F.col("phash")).alias("plat")).collect()
    }
    vals = []
    for iid, _, w, _, _, _, _, px in rows:
        lon0 = centers[iid][0] - w * (dpp / 2.0)
        lat0 = centers[iid][1] - w * (dpp / 2.0)
        for y in range(w):
            for x in range(w):
                cxx, cyy = lon0 + (x + 0.5) * dpp, lat0 + (y + 0.5) * dpp
                if box[0][0] <= cxx <= box[1][0] and box[0][1] <= cyy <= box[2][1]:
                    vals.append(int(px[y, x]))
    vals.sort()
    k = (len(vals) + len(vals) % 2) // 2
    assert got["px_cnt"] == len(vals)
    assert got["median_val"] == vals[k - 1]


def test_decode_gate_matches_decode_stats(spark):
    """decode_gate (the fused flagship-job gate: no id strings through
    Arrow, no join-back) must gate exactly the rows decode_stats marks
    decode_ok, and pass the requested columns through untouched."""
    from osm2geojson_spark.operators.multimodal import decode_gate, decode_stats

    df = synthetic_images(spark, 40)
    want = {
        r["image_id"]: r["decode_ok"] for r in decode_stats(df).collect()
    }
    got = decode_gate(df, ["image_id", "phash"])
    assert [f.name for f in got.schema.fields] == ["image_id", "phash", "decode_ok"]
    rows = got.collect()
    assert {r["image_id"]: r["decode_ok"] for r in rows} == want
    ph = {r["image_id"]: r["phash"] for r in df.select("image_id", "phash").collect()}
    for r in rows:
        assert r["phash"] == ph[r["image_id"]]


# --------------------------------------------------- cross-tile stitching


def _global_flood_regions(hot: np.ndarray, ts: int):
    """Brute-force oracle: flood the whole mosaic as one grid; returns
    {region_key: (area, n_tiles, min_gx, min_gy, max_gx, max_gy)} with
    region_key = (gy << 32 | gx) of the region's minimum pixel."""
    gh, gw = hot.shape
    big = gh * gw
    idx = np.arange(big, dtype=np.int64).reshape(gh, gw)
    lbl = np.where(hot, idx, big)
    while True:
        nb = np.full((4, gh, gw), big, dtype=np.int64)
        nb[0, 1:, :] = lbl[:-1, :]
        nb[1, :-1, :] = lbl[1:, :]
        nb[2, :, 1:] = lbl[:, :-1]
        nb[3, :, :-1] = lbl[:, 1:]
        new = np.where(hot, np.minimum(lbl, nb.min(axis=0)), big)
        if np.array_equal(new, lbl):
            break
        lbl = new
    out = {}
    for lv in np.unique(lbl[hot]):
        ys, xs = np.nonzero(lbl == lv)
        key = int((np.int64(ys[0]) << 32) | xs[0])  # lexicographic min
        tiles = len(set(zip((xs // ts).tolist(), (ys // ts).tolist())))
        out[key] = (
            len(ys), tiles,
            int(xs.min()), int(ys.min()), int(xs.max()), int(ys.max()),
        )
    return out


def _mosaic_df(spark, hot: np.ndarray, ts: int):
    from osm2geojson_spark.functions import imagecodec as IC

    gh, gw = hot.shape
    rows = []
    for ty in range(gh // ts):
        for tx in range(gw // ts):
            px = np.where(
                hot[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts], 200, 0
            ).astype(np.uint8)
            rows.append((tx, ty, IC.encode_rawz(px), "rawz"))
    return spark.createDataFrame(
        rows, "tile_x int, tile_y int, bytes binary, fmt string"
    )


def test_label_components_batch_matches_flood():
    from osm2geojson_spark.operators.multimodal import _label_components_batch

    rng = np.random.default_rng(7)
    masks = rng.random((6, 9, 9)) < 0.45
    lbls = _label_components_batch(masks)
    for mask, lbl in zip(masks, lbls):
        want = _global_flood_regions(mask, ts=9)
        got = {}
        for lv in np.unique(lbl[mask]):
            ys, xs = np.nonzero(lbl == lv)
            got[int((np.int64(ys[0]) << 32) | xs[0])] = len(ys)
        assert {k: v[0] for k, v in want.items()} == got
        assert (lbl[~mask] == -1).all()


def test_vectorize_stitched_plus_region(spark):
    """A plus-shaped region crossing all four tiles of a 2x2 mosaic plus an
    isolated single-tile blob: one stitched region spanning 4 tiles."""
    from osm2geojson_spark.operators.multimodal import vectorize_stitched

    hot = np.zeros((8, 8), dtype=bool)
    hot[3:5, 1:7] = True   # horizontal bar across the vertical border
    hot[1:7, 3:5] = True   # vertical bar across the horizontal border
    hot[6:8, 6:8] = True   # separate blob, fully inside tile (1,1)
    got = {
        r["region_id"]: r
        for r in vectorize_stitched(_mosaic_df(spark, hot, 4), threshold=128).collect()
    }
    want = _global_flood_regions(hot, ts=4)
    assert set(got) == set(want)
    for k, (area, ntiles, x0, y0, x1, y1) in want.items():
        r = got[k]
        assert (
            r["area_px"], r["n_tiles"], r["min_gx"], r["min_gy"],
            r["max_gx"], r["max_gy"],
        ) == (area, ntiles, x0, y0, x1, y1)
    assert want[(1 << 32) | 3][1] == 4  # the plus really spans 4 tiles


def test_vectorize_stitched_random_matches_global_flood(spark):
    """Random 3x3 mosaic of 6x6 tiles == the whole-grid flood oracle."""
    from osm2geojson_spark.operators.multimodal import vectorize_stitched

    rng = np.random.default_rng(23)
    hot = rng.random((18, 18)) < 0.42
    got = {
        r["region_id"]: (
            r["area_px"], r["n_tiles"], r["min_gx"], r["min_gy"],
            r["max_gx"], r["max_gy"],
        )
        for r in vectorize_stitched(_mosaic_df(spark, hot, 6), threshold=128).collect()
    }
    assert got == _global_flood_regions(hot, ts=6)


def test_halo_exchange_gradient_matches_global_stencil(spark):
    """Per-tile gradient with halo exchange == the stencil run on the flat
    global grid (tiles are invisible to the math); mosaic-border pixels
    excluded, interior tile borders healed by the exchanged strips."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import halo_exchange_gradient

    rng = np.random.default_rng(31)
    ts, nx, ny = 5, 4, 3
    glob = rng.integers(0, 256, size=(ny * ts, nx * ts)).astype(np.uint8)
    rows = []
    for ty in range(ny):
        for tx in range(nx):
            px = glob[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts]
            rows.append((tx, ty, IC.encode_rawz(px), "rawz"))
    df = spark.createDataFrame(
        rows, "tile_x int, tile_y int, bytes binary, fmt string"
    )
    got = {
        (r["tile_x"], r["tile_y"]): (r["grad_sum"], r["n_valid"])
        for r in halo_exchange_gradient(df).collect()
    }
    p = glob.astype(np.int64)
    grad = np.abs(p[1:-1, 2:] - p[1:-1, :-2]) + np.abs(p[2:, 1:-1] - p[:-2, 1:-1])
    want = {}
    gys, gxs = np.mgrid[1:ny * ts - 1, 1:nx * ts - 1]
    for ty in range(ny):
        for tx in range(nx):
            m = (gxs // ts == tx) & (gys // ts == ty)
            want[(tx, ty)] = (int(grad[m].sum()), int(m.sum()))
    assert got == want
    # interior tiles see the full stencil; border tiles lose the rim
    assert want[(1, 1)][1] == ts * ts
    assert want[(0, 0)][1] == (ts - 1) * (ts - 1)


def test_extract_patches_matches_numpy(spark):
    from osm2geojson_spark.operators.multimodal import extract_patches

    imgs = synthetic_images(spark, 24)  # 16/32/64 px, mixed rawz/png
    P = 8
    got = {
        (r["image_id"], r["px_x"], r["px_y"]): r
        for r in extract_patches(imgs, P).collect()
    }
    n_expected = 0
    for r in imgs.collect():
        px = imagecodec.decode(bytes(r["bytes"]), r["fmt"])
        h, w = px.shape
        ny, nx = h // P, w // P
        n_expected += ny * nx
        for gy in range(ny):
            for gx in range(nx):
                sl = px[gy * P:(gy + 1) * P, gx * P:(gx + 1) * P]
                row = got[(r["image_id"], gx, gy)]
                assert row["px_sum"] == int(sl.astype(np.int64).sum())
                assert row["px_min"] == int(sl.min())
                assert row["px_max"] == int(sl.max())
                assert row["n_patches"] == ny * nx
                # patch bytes decode back to the exact numpy slice
                assert np.array_equal(
                    imagecodec.decode_rawz(bytes(row["bytes"])), sl
                )
    assert len(got) == n_expected and n_expected > 50


def test_extract_patches_ragged_edges_dropped(spark):
    from osm2geojson_spark.operators.multimodal import extract_patches
    from pyspark.sql import functions as F

    # 20x20 image with patch 8 -> 2x2 grid (the 4-px fringe is dropped)
    px = imagecodec.synth_pixels(5, 20, 20)
    df = spark.createDataFrame(
        [("imgX", bytearray(imagecodec.encode_rawz(px)), 20, 20, "rawz")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    rows = extract_patches(df, 8, with_bytes=False).collect()
    assert {(r["px_x"], r["px_y"]) for r in rows} == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert all(r["n_patches"] == 4 for r in rows)
    # patch smaller than any full grid cell -> image contributes nothing
    assert extract_patches(df, 32, with_bytes=False).count() == 0


def test_resize_bilinear_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import resize_bilinear

    rng = np.random.default_rng(59)
    px = rng.integers(0, 256, size=(16, 16)).astype(np.uint8)
    small = rng.integers(0, 256, size=(6, 6)).astype(np.uint8)  # upscale case
    const = np.full((9, 9), 123, np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", 16, 16, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("p", 16, 16, "png", bytearray(imagecodec.encode_png(px))),
            ("u", 6, 6, "rawz", bytearray(imagecodec.encode_rawz(small))),
            ("c", 9, 9, "rawz", bytearray(imagecodec.encode_rawz(const))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    out_w = out_h = 12
    got = {
        r["image_id"]: r
        for r in resize_bilinear(imgs, out_w, out_h, with_bytes=True).collect()
    }

    def brute(src):
        hh, ww = src.shape
        res = np.zeros((out_h, out_w), dtype=np.int64)
        for y in range(out_h):
            for x in range(out_w):
                sxf = max(((2 * x + 1) * ww * 128) // out_w - 128, 0)
                syf = max(((2 * y + 1) * hh * 128) // out_h - 128, 0)
                x0, fx = sxf >> 8, sxf & 255
                y0, fy = syf >> 8, syf & 255
                x1, y1 = min(x0 + 1, ww - 1), min(y0 + 1, hh - 1)
                s = src.astype(np.int64)
                top = (256 - fx) * s[y0, x0] + fx * s[y0, x1]
                bot = (256 - fx) * s[y1, x0] + fx * s[y1, x1]
                res[y, x] = ((256 - fy) * top + fy * bot + 32768) >> 16
        return res

    for iid, src in [("a", px), ("u", small)]:
        want = brute(src)
        back = imagecodec.decode(bytes(got[iid]["bytes"]), got[iid]["fmt"])
        assert (back.astype(np.int64) == want).all(), iid
        assert got[iid]["px_sum"] == int(want.sum())
    assert got["p"]["px_sum"] == got["a"]["px_sum"]  # codec-independent
    # constant image stays exactly constant (weights sum to 2^16)
    assert (got["c"]["px_min"], got["c"]["px_max"]) == (123, 123)


def test_isoline_images_matches_brute_and_closed_forms(spark):
    """Marching-squares isolines: per-block brute classification (no code
    shared with the vectorized kernel) + closed-form fixtures — a lone
    interior hot pixel is a 4-segment diamond, a checkerboard is all
    saddles, uniform tiles have no contour."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import (
        DIAG_SEG_MPX,
        isoline_images,
    )

    def brute(img, t):
        hot = img >= t
        ns = nd = 0
        for y in range(img.shape[0] - 1):
            for x in range(img.shape[1] - 1):
                tl, tr = hot[y, x], hot[y, x + 1]
                bl, br = hot[y + 1, x], hot[y + 1, x + 1]
                h = int(tl) + int(tr) + int(bl) + int(br)
                if h in (1, 3):
                    nd += 1
                elif h == 2:
                    if (tl and br) or (tr and bl):
                        nd += 2
                    else:
                        ns += 1
        return ns, nd

    rng = np.random.default_rng(42)
    lone = np.zeros((6, 6), dtype=np.uint8)
    lone[3, 2] = 255
    checker = (np.indices((8, 8)).sum(axis=0) % 2 * 255).astype(np.uint8)
    imgs = {
        "lone": lone,
        "checker": checker,
        "flat": np.full((5, 9), 7, dtype=np.uint8),
        "rand1": rng.integers(0, 256, (8, 8), dtype=np.uint8),
        "rand2": rng.integers(90, 170, (11, 5), dtype=np.uint8),
    }
    df = spark.createDataFrame(
        [(k, IC.encode_rawz(v), v.shape[1], v.shape[0], "rawz") for k, v in imgs.items()],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {
        (r["image_id"], r["level"]): r
        for r in isoline_images(df, levels=(96, 160)).collect()
    }
    assert len(got) == 2 * len(imgs)
    for name, img in imgs.items():
        for t in (96, 160):
            ns, nd = brute(img, t)
            r = got[(name, t)]
            assert (r["n_straight"], r["n_diag"]) == (ns, nd), (name, t)
            assert r["n_segments"] == ns + nd
            assert r["length_mpx"] == ns * 1000 + int(round(nd * DIAG_SEG_MPX))
    # closed forms
    assert got[("lone", 96)]["n_diag"] == 4 and got[("lone", 96)]["n_straight"] == 0
    assert got[("flat", 96)]["n_segments"] == 0
    # checkerboard: every interior block is a saddle (2 diag), none straight
    assert got[("checker", 160)]["n_straight"] == 0
    assert got[("checker", 160)]["n_diag"] == 2 * 7 * 7


def test_quadtree_plan_matches_recursive_brute(spark):
    """quadtree_plan == an independent RECURSIVE python quadtree (the
    linearized ancestor-mask kernel never walks a tree); leaf areas tile
    the image exactly; a flat tile is one root leaf."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import quadtree_plan

    def brute(img, tau):
        counts = {}

        def rec(x0, y0, s, lvl):
            b = img[y0 : y0 + s, x0 : x0 + s].astype(np.int64)
            n = s * s
            if n * (b * b).sum() - b.sum() ** 2 <= tau * n * n:
                counts[lvl] = counts.get(lvl, 0) + 1
                return
            h = s // 2
            for dx, dy in ((0, 0), (h, 0), (0, h), (h, h)):
                rec(x0 + dx, y0 + dy, h, lvl + 1)

        rec(0, 0, img.shape[0], 0)
        return counts

    rng = np.random.default_rng(5)
    imgs = {
        "flat": np.full((8, 8), 9, dtype=np.uint8),
        "noise": rng.integers(0, 256, (8, 8), dtype=np.uint8),
        "half": np.concatenate(
            [np.zeros((4, 8), dtype=np.uint8), np.full((4, 8), 200, dtype=np.uint8)]
        ),
        "rand16": rng.integers(0, 256, (16, 16), dtype=np.uint8),
    }
    tau = 300
    for name, img in imgs.items():
        w = img.shape[0]
        df = spark.createDataFrame(
            [(name, IC.encode_rawz(img), w, w, "rawz")],
            "image_id string, bytes binary, w int, h int, fmt string",
        )
        row = quadtree_plan(df, tau=tau, width=w).collect()[0]
        want = brute(img, tau)
        n_levels = int(np.log2(w)) + 1
        got = {
            i: row[f"leaves_l{i}"]
            for i in range(n_levels)
            if row[f"leaves_l{i}"]
        }
        assert got == want, (name, got, want)
        area = sum(row[f"leaves_l{i}"] * (w // (1 << i)) ** 2 for i in range(n_levels))
        assert area == w * w, name
        assert row["n_leaves"] == sum(want.values())
    # closed form: flat -> single root leaf
    # (checked via brute equality above; assert explicitly for the reader)
    assert brute(imgs["flat"], tau) == {0: 1}


def test_mosaic_crop_matches_numpy_assembly(spark):
    """mosaic_crop == cropping a NumPy-assembled full mosaic, for windows
    that straddle borders, sit inside one tile, and cover everything;
    the position checksum catches a deliberately swapped tile."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import mosaic_crop
    from osm2geojson_spark.functions.imagecodec import synth_pixels

    tw, nx, ny = 8, 3, 2
    tiles = []
    full = np.zeros((ny * tw, nx * tw), dtype=np.int64)
    for ty in range(ny):
        for tx in range(nx):
            i = (ty * nx + tx) * 29 % 251
            px = synth_pixels(i, tw, tw)
            full[ty * tw : (ty + 1) * tw, tx * tw : (tx + 1) * tw] = px
            tiles.append((tx, ty, IC.encode_rawz(px.astype(np.uint8)), "rawz"))
    df = spark.createDataFrame(
        tiles, "tile_x int, tile_y int, bytes binary, fmt string"
    )

    def want(x0, y0, x1, y1):
        sub = full[y0:y1, x0:x1]
        gxs = np.arange(x0, x1, dtype=np.int64)[None, :]
        gys = np.arange(y0, y1, dtype=np.int64)[:, None]
        pos = gxs * (tw << 20) + gys + 1
        return (
            x1 - x0, y1 - y0, sub.size, int(sub.sum()),
            int((sub * sub).sum()), int((sub * pos).sum()),
        )

    for win in ((5, 3, 19, 14), (2, 2, 6, 7), (0, 0, nx * tw, ny * tw)):
        row = mosaic_crop(df, *win, tile_w=tw).collect()[0]
        assert tuple(row) == want(*win), win

    # swap two tiles -> sums may agree but the position checksum must not
    swapped = list(tiles)
    swapped[0], swapped[1] = (
        (tiles[1][0], tiles[1][1], tiles[0][2], tiles[0][3]),
        (tiles[0][0], tiles[0][1], tiles[1][2], tiles[1][3]),
    )
    df2 = spark.createDataFrame(
        swapped, "tile_x int, tile_y int, bytes binary, fmt string"
    )
    r1 = mosaic_crop(df, 0, 0, 16, 8, tile_w=tw).collect()[0]
    r2 = mosaic_crop(df2, 0, 0, 16, 8, tile_w=tw).collect()[0]
    assert r1["sum_v"] == r2["sum_v"]  # same multiset of pixels
    assert r1["possum"] != r2["possum"]  # different placement


def test_mosaic_crop_empty_window_is_zero_row(spark):
    """A window over a region with no stored tiles returns one all-zero
    row, not NULLs (sparse mosaics are normal at scale)."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import mosaic_crop

    px = np.full((8, 8), 3, dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, 0, IC.encode_rawz(px), "rawz")],
        "tile_x int, tile_y int, bytes binary, fmt string",
    )
    row = mosaic_crop(df, 100, 100, 110, 105, tile_w=8).collect()[0]
    assert tuple(row) == (10, 5, 0, 0, 0, 0)


def test_hillshade_matches_scalar_reference(spark):
    """hillshade_stats == a scalar per-pixel Horn reference on known
    surfaces: a flat tile is fully lit at exactly cos(zen), a 45-deg
    NW-facing ramp under the NW light outshines the SE-facing one."""
    import math

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import hillshade_stats

    rng = np.random.default_rng(21)
    ramp = np.add.outer(np.arange(8) * 0, np.arange(8) * 20).astype(np.uint8)
    imgs = {
        "flat": np.full((8, 8), 77, dtype=np.uint8),
        "ramp_e": ramp,  # rises eastward
        "ramp_w": ramp[:, ::-1].copy(),  # rises westward
        "rand": rng.integers(0, 256, (8, 8), dtype=np.uint8),
    }
    df = spark.createDataFrame(
        [(k, IC.encode_rawz(v), 8, 8, "rawz") for k, v in imgs.items()],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    zs = 16.0
    got = {r["image_id"]: r for r in hillshade_stats(df, z_scale=zs).collect()}

    zen = math.radians(45.0)
    az = math.radians(315.0)
    cz, sz = math.cos(zen), math.sin(zen)
    ca, sa = math.cos(az), math.sin(az)

    def ref(img):
        z = img.astype(int)
        tot = n_lit = sgx = sgy = 0
        n = 0
        for y in range(1, 7):
            for x in range(1, 7):
                gx8 = (
                    z[y - 1, x + 1] + 2 * z[y, x + 1] + z[y + 1, x + 1]
                    - (z[y - 1, x - 1] + 2 * z[y, x - 1] + z[y + 1, x - 1])
                )
                gy8 = (
                    z[y + 1, x - 1] + 2 * z[y + 1, x] + z[y + 1, x + 1]
                    - (z[y - 1, x - 1] + 2 * z[y - 1, x] + z[y - 1, x + 1])
                )
                gx, gy = gx8 / (8.0 * zs), gy8 / (8.0 * zs)
                shade = max(
                    0.0,
                    (cz + sz * (-sa * gx - ca * gy))
                    / math.sqrt(1.0 + gx * gx + gy * gy),
                )
                sm = round(shade * 1e6)
                tot += sm
                n_lit += sm > 0
                sgx += abs(gx8)
                sgy += abs(gy8)
                n += 1
        return n, sgx, sgy, tot, n_lit

    for name, img in imgs.items():
        r = got[name]
        n, sgx, sgy, tot, n_lit = ref(img)
        assert (
            r["n_interior"], r["sum_abs_gx8"], r["sum_abs_gy8"],
            r["sum_shade_micro"], r["n_lit"],
        ) == (n, sgx, sgy, tot, n_lit), name
    # flat: every interior pixel exactly cos(zen)
    assert got["flat"]["sum_shade_micro"] == 36 * round(cz * 1e6)
    assert got["flat"]["n_lit"] == 36
    # light direction L = (sz*sin(az), sz*cos(az), cz) in x-east/y-SOUTH
    # image coordinates: at az=315 L_x < 0, so the EAST-rising ramp
    # (normal_x < 0) faces the light and outshines its mirror
    assert got["ramp_e"]["sum_shade_micro"] > got["ramp_w"]["sum_shade_micro"]


def test_dct_phash_integer_exactness_and_locality(spark):
    """dct_phash == a pure-python INTEGER reference (basis numerators,
    no floats), is container-invariant (rawz vs png), and is local:
    a one-pixel tweak moves few bits while unrelated tiles differ in
    many."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import (
        DCT_Q,
        dct_basis_q,
        dct_phash,
    )

    A = np.round(dct_basis_q(8) * DCT_Q).astype(np.int64)

    def ref(img):
        z = img.astype(np.int64)
        c = {}
        for u in range(8):
            for v in range(8):
                if (u, v) == (0, 0):
                    continue
                c[(u, v)] = int(
                    sum(
                        int(z[y, k]) * int(A[u, y]) * int(A[v, k])
                        for y in range(8)
                        for k in range(8)
                    )
                )
        s = sum(c.values())
        ph = 0
        for (u, v), ci in c.items():
            if 63 * ci > s - ci:
                ph |= 1 << (u * 8 + v - 1)
        return ph

    rng = np.random.default_rng(41)
    base = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    tweak = base.copy()
    tweak[3, 4] = min(255, int(tweak[3, 4]) + 8)
    other = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    rows = [
        ("base", IC.encode_rawz(base), "rawz"),
        ("base_png", IC.encode_png(base), "png"),
        ("tweak", IC.encode_rawz(tweak), "rawz"),
        ("other", IC.encode_rawz(other), "rawz"),
    ]
    df = spark.createDataFrame(
        [(n, b, 8, 8, f) for n, b, f in rows],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {r["image_id"]: r["phash64"] for r in dct_phash(df).collect()}
    assert got["base"] == ref(base)
    assert got["tweak"] == ref(tweak)
    assert got["other"] == ref(other)
    assert got["base_png"] == got["base"]  # container-invariant
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(got["base"], got["tweak"]) <= 8
    assert ham(got["base"], got["other"]) >= 12


def test_rle_mask_matches_scalar_brute_and_roundtrips(spark):
    from osm2geojson_spark.operators.multimodal import rle_mask

    px = imagecodec.synth_pixels(8, 16, 8).astype(np.uint8)  # straddles 128
    allzero = np.zeros((3, 3), np.uint8)
    allone = np.full((2, 4), 255, np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("z", "rawz", bytearray(imagecodec.encode_rawz(allzero))),
            ("o", "rawz", bytearray(imagecodec.encode_rawz(allone))),
            ("p", "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, fmt string, bytes binary",
    )
    out = {}
    for r in rle_mask(imgs, threshold=128).collect():
        out.setdefault(r["image_id"], []).append(
            (r["start_pos"], r["run_len"])
        )

    def brute(arr):
        m = (arr.ravel() >= 128).astype(int).tolist()
        runs, s = [], None
        for idx, v in enumerate(m + [0]):
            if v and s is None:
                s = idx
            elif not v and s is not None:
                runs.append((s, idx - s))
                s = None
        return runs

    assert "z" not in out  # empty mask -> no runs
    assert sorted(out["o"]) == [(0, 8)]
    assert len(out["a"]) > 1  # fixture actually exercises multiple runs  # one full-coverage run
    assert sorted(out["a"]) == brute(px)
    assert sorted(out["p"]) == brute(px)
    # runs reconstruct the mask exactly (lossless RLE)
    rec = np.zeros(px.size, dtype=int)
    for s, ln in out["a"]:
        rec[s : s + ln] = 1
    assert np.array_equal(rec.reshape(px.shape), (px >= 128).astype(int))


def test_psnr_gate_exact_threshold_and_twin(spark):
    """The integer gate flips exactly at sse·factor = 255²·n (a planted
    single-pixel error sized to straddle the boundary); identical
    copies flag identical; shape mismatch fails closed; twin matches."""
    import duckdb

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import psnr_gate, psnr_gate_sql

    n = 64  # 8x8
    base = (np.arange(n, dtype=np.int64).reshape(8, 8) * 3 % 251).astype(
        np.uint8
    )
    # factor 10_000: gate is sse <= 65025*64/10000 = 416.16 -> sse 416
    # passes, 417 fails. Plant d with d^2 = 400 (pass) and 441 (fail).
    ok = base.copy()
    ok[0, 0] = np.uint8(int(ok[0, 0]) + 20)  # sse 400
    bad = base.copy()
    bad[0, 0] = np.uint8(int(bad[0, 0]) + 21)  # sse 441
    small = base[:4, :4].copy()
    rows = [
        ("same", IC.encode_rawz(base), "rawz", IC.encode_rawz(base.copy()), "rawz"),
        ("pass", IC.encode_rawz(base), "rawz", IC.encode_rawz(ok), "rawz"),
        ("fail", IC.encode_rawz(base), "rawz", IC.encode_rawz(bad), "rawz"),
        ("shape", IC.encode_rawz(base), "rawz", IC.encode_rawz(small), "rawz"),
    ]
    df = spark.createDataFrame(
        rows,
        "image_id string, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    got = {r["image_id"]: r.asDict() for r in psnr_gate(df).collect()}

    assert got["same"]["sse"] == 0 and got["same"]["identical"]
    assert got["same"]["pass_gate"]
    assert got["pass"]["sse"] == 400 and got["pass"]["pass_gate"]
    assert not got["pass"]["identical"]
    assert got["fail"]["sse"] == 441 and not got["fail"]["pass_gate"]
    assert got["shape"]["sse"] is None and not got["shape"]["pass_gate"]

    duck = duckdb.connect()
    duck.execute("CREATE TABLE pgx (image_id VARCHAR, va BIGINT, vb BIGINT)")
    px = []
    for name, arr in (("same", base), ("pass", ok), ("fail", bad)):
        for j in range(n):
            px.append((name, int(base.reshape(-1)[j]), int(arr.reshape(-1)[j])))
    duck.executemany("INSERT INTO pgx VALUES (?, ?, ?)", px)
    twin = {
        r[0]: r
        for r in duck.sql(psnr_gate_sql("SELECT * FROM pgx")).fetchall()
    }
    for name in ("same", "pass", "fail"):
        r = got[name]
        assert twin[name] == (
            name, r["n_px"], r["sse"], r["pass_gate"], r["identical"],
        )


