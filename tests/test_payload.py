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


def test_sobel_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import sobel_stats

    px = imagecodec.synth_pixels(3, 10, 7).astype(np.int64)
    # the gradient of the plain synthetic ramp is a constant g = 80 (no
    # mod-251 wrap fits in a 10x7 tile) — plant a bump so the threshold
    # actually separates edge pixels from background
    px[3, 4] = 250
    imgs = spark.createDataFrame(
        [
            ("a", 10, 7, "rawz", bytearray(imagecodec.encode_rawz(px.astype(np.uint8)))),
            # constant image: zero gradient everywhere
            ("b", 5, 5, "rawz", bytearray(imagecodec.encode_rawz(np.full((5, 5), 77, np.uint8)))),
            # same pixels via PNG: format-independent result
            ("c", 10, 7, "png", bytearray(imagecodec.encode_png(px.astype(np.uint8)))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    thr = 100
    got = {r["image_id"]: r for r in sobel_stats(imgs, threshold=thr).collect()}

    # scalar double-loop brute, written fresh against the docstring formula
    h, w = px.shape
    l1 = edges = 0
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            gx = (
                px[y - 1, x + 1] + 2 * px[y, x + 1] + px[y + 1, x + 1]
                - px[y - 1, x - 1] - 2 * px[y, x - 1] - px[y + 1, x - 1]
            )
            gy = (
                px[y + 1, x - 1] + 2 * px[y + 1, x] + px[y + 1, x + 1]
                - px[y - 1, x - 1] - 2 * px[y - 1, x] - px[y - 1, x + 1]
            )
            g = abs(int(gx)) + abs(int(gy))
            l1 += g
            edges += g >= thr
    a = got["a"]
    assert (a["grad_l1"], a["edge_count"], a["interior_count"]) == (l1, edges, 8 * 5)
    assert 0 < a["edge_count"] < a["interior_count"]  # threshold is discriminating
    b = got["b"]
    assert (b["grad_l1"], b["edge_count"], b["interior_count"]) == (0, 0, 9)
    c_row = got["c"]
    assert (c_row["grad_l1"], c_row["edge_count"]) == (l1, edges)


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


def test_equalize_images_matches_numpy(spark):
    from osm2geojson_spark.operators.multimodal import equalize_images

    imgs = synthetic_images(spark, 21)
    got = {r["image_id"]: r for r in equalize_images(imgs).collect()}
    for r in imgs.collect():
        px = imagecodec.decode(bytes(r["bytes"]), r["fmt"])
        n = px.size
        hist = np.bincount(px.ravel(), minlength=256)
        cdf = hist.cumsum()
        cdf_min = int(cdf[int(px.min())])
        lut = ((cdf.astype(np.int64) - cdf_min) * 255 // (n - cdf_min)).clip(0, 255)
        eq = lut[px]
        row = got[r["image_id"]]
        assert row["px_sum"] == int(eq.sum())
        assert row["px_min"] == int(eq.min()) and row["px_max"] == int(eq.max())
        assert np.array_equal(imagecodec.decode_rawz(bytes(row["bytes"])), eq)
        # full-range contrast achieved whenever the image isn't constant
        assert row["px_min"] == 0 and row["px_max"] == 255


def test_equalize_constant_image_maps_to_zero(spark):
    from osm2geojson_spark.operators.multimodal import equalize_images

    px = np.full((8, 8), 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [("flat", bytearray(imagecodec.encode_rawz(px)), 8, 8, "rawz")],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    row = equalize_images(df).collect()[0]
    assert (row["px_sum"], row["px_min"], row["px_max"]) == (0, 0, 0)


def test_otsu_matches_scalar_brute_and_edge_cases(spark):
    from osm2geojson_spark.operators.multimodal import otsu_threshold

    px = imagecodec.synth_pixels(5, 9, 6).astype(np.uint8)
    # bimodal image: the textbook case with an unambiguous valley
    bim = np.full((8, 8), 30, np.uint8)
    bim[2:6, 2:6] = 220
    imgs = spark.createDataFrame(
        [
            ("a", 9, 6, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("b", 8, 8, "rawz", bytearray(imagecodec.encode_rawz(bim))),
            ("c", 5, 5, "rawz",
             bytearray(imagecodec.encode_rawz(np.full((5, 5), 77, np.uint8)))),
            ("d", 9, 6, "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {r["image_id"]: r for r in otsu_threshold(imgs).collect()}

    def brute(arr):
        vals = [int(v) for v in arr.ravel()]
        n, s_all = len(vals), sum(vals)
        best = None
        for t in range(255):
            w0 = sum(1 for v in vals if v <= t)
            if w0 == 0 or w0 == n:
                continue
            s0 = sum(v for v in vals if v <= t)
            num = s0 * (n - w0) - (s_all - s0) * w0
            score = float(num) * float(num) / float(w0 * (n - w0))
            if best is None or score > best[1]:
                best = (t, score, w0, n - w0)
        return best

    for name, arr in (("a", px), ("b", bim), ("d", px)):
        t, score, n_bg, n_fg = brute(arr)
        r = got[name]
        assert (r["threshold"], r["n_bg"], r["n_fg"]) == (t, n_bg, n_fg)
        assert r["score"] == round(score, 6)
    # bimodal split lands in the valley between the modes
    assert 30 <= got["b"]["threshold"] < 220
    assert got["b"]["n_fg"] == 16
    # constant image: no valid split
    c = got["c"]
    assert (c["threshold"], c["score"], c["n_bg"], c["n_fg"]) == (77, 0.0, 25, 0)


def test_image_moments_match_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import image_moments

    px = imagecodec.synth_pixels(4, 7, 5).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", 7, 5, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("z", 4, 4, "rawz",
             bytearray(imagecodec.encode_rawz(np.zeros((4, 4), np.uint8)))),
            ("p", 7, 5, "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {r["image_id"]: r for r in image_moments(imgs).collect()}

    m = {}
    for p in range(3):
        for q in range(3 - p):
            m[(p, q)] = sum(
                (x**p) * (y**q) * int(px[y, x])
                for y in range(5)
                for x in range(7)
            )
    for name in ("a", "p"):
        r = got[name]
        assert (r["m00"], r["m10"], r["m01"], r["m20"], r["m11"], r["m02"]) == (
            m[(0, 0)], m[(1, 0)], m[(0, 1)], m[(2, 0)], m[(1, 1)], m[(0, 2)]
        )
        cx = m[(1, 0)] / m[(0, 0)]
        cy = m[(0, 1)] / m[(0, 0)]
        mu20 = m[(2, 0)] - m[(1, 0)] * cx
        mu02 = m[(0, 2)] - m[(0, 1)] * cy
        mu11 = m[(1, 1)] - m[(1, 0)] * cy
        assert (r["cx"], r["cy"]) == (round(cx, 6), round(cy, 6))
        assert r["theta"] == round(0.5 * math.atan2(2 * mu11, mu20 - mu02), 6)
    z = got["z"]
    assert z["m00"] == 0 and z["cx"] is None and z["theta"] is None


def test_glcm_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import (
        GLCM_HOMOG_SCALE,
        glcm_features,
    )

    px = imagecodec.synth_pixels(7, 9, 6).astype(np.uint8)
    px[2, 3] = 255  # plant a high-contrast outlier
    imgs = spark.createDataFrame(
        [
            ("a", 9, 6, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("c", 4, 4, "rawz",
             bytearray(imagecodec.encode_rawz(np.full((4, 4), 80, np.uint8)))),
            ("p", 9, 6, "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    for dx, dy in ((1, 0), (0, 1), (1, -1)):
        got = {
            r["image_id"]: r
            for r in glcm_features(imgs, levels=16, dx=dx, dy=dy).collect()
        }
        cnt = {}
        h, w = px.shape
        for y in range(h):
            for x in range(w):
                x2, y2 = x + dx, y + dy
                if 0 <= x2 < w and 0 <= y2 < h:
                    key = (int(px[y, x]) // 16, int(px[y2, x2]) // 16)
                    cnt[key] = cnt.get(key, 0) + 1
        n_pairs = sum(cnt.values())
        contrast = sum(n * (a - b) ** 2 for (a, b), n in cnt.items())
        dissim = sum(n * abs(a - b) for (a, b), n in cnt.items())
        energy = sum(n * n for n in cnt.values())
        homog = sum(
            n * round(GLCM_HOMOG_SCALE / (1 + abs(a - b)))
            for (a, b), n in cnt.items()
        )
        for name in ("a", "p"):
            r = got[name]
            assert (
                r["n_pairs"], r["contrast"], r["dissim"], r["energy"],
                r["homog_q"],
            ) == (n_pairs, contrast, dissim, energy, homog)
        c = got["c"]
        # constant image: zero contrast, perfect homogeneity
        assert c["contrast"] == 0 and c["dissim"] == 0
        assert c["homog_q"] == c["n_pairs"] * GLCM_HOMOG_SCALE
        assert c["energy"] == c["n_pairs"] ** 2


def test_median_filter_matches_scalar_brute_and_denoises(spark):
    from osm2geojson_spark.operators.multimodal import median_filter_stats

    px = imagecodec.synth_pixels(11, 8, 7).astype(np.uint8)
    noisy = px.copy()
    noisy[3, 4] = 255  # salt
    noisy[2, 2] = 0    # pepper
    imgs = spark.createDataFrame(
        [
            ("a", 8, 7, "rawz", bytearray(imagecodec.encode_rawz(noisy))),
            ("tiny", 2, 2, "rawz",
             bytearray(imagecodec.encode_rawz(np.zeros((2, 2), np.uint8)))),
            ("p", 8, 7, "png", bytearray(imagecodec.encode_png(noisy))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    out = median_filter_stats(imgs, with_bytes=True)
    got = {r["image_id"]: r for r in out.collect()}
    assert "tiny" not in got  # no interior

    h, w = noisy.shape
    med = np.zeros((h - 2, w - 2), dtype=np.int64)
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            med[y - 1, x - 1] = sorted(
                int(noisy[yy, xx])
                for yy in (y - 1, y, y + 1)
                for xx in (x - 1, x, x + 1)
            )[4]
    for name in ("a", "p"):
        r = got[name]
        assert (r["w"], r["h"]) == (6, 5)
        assert (r["px_sum"], r["px_min"], r["px_max"]) == (
            int(med.sum()), int(med.min()), int(med.max())
        )
        assert np.array_equal(
            imagecodec.decode_rawz(bytes(r["bytes"])), med.astype(np.uint8)
        )
    # the planted salt pixel is gone: filtered max is below 255
    assert got["a"]["px_max"] < 255


def test_distance_transform_matches_brute_min(spark):
    from osm2geojson_spark.operators.multimodal import distance_transform_rows

    rng = np.random.default_rng(41)
    px = rng.integers(0, 256, size=(9, 12)).astype(np.uint8)
    empty = np.zeros((5, 6), np.uint8)  # no pixel reaches the threshold
    imgs = spark.createDataFrame(
        [
            ("a", 12, 9, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("e", 6, 5, "rawz", bytearray(imagecodec.encode_rawz(empty))),
            ("p", 12, 9, "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    thr = 128
    got = {
        (r["image_id"], r["y"]): (r["row_dt_sum"], r["row_dt_max"], r["row_mask_count"])
        for r in distance_transform_rows(imgs, threshold=thr).collect()
    }

    # scalar brute: dt = min over mask pixels |dx|+|dy|, fresh from the contract
    h, w = px.shape
    mask = [(y, x) for y in range(h) for x in range(w) if px[y, x] >= thr]
    for y in range(h):
        dts = [
            min((abs(x - qx) + abs(y - qy) for qy, qx in mask), default=w + h)
            for x in range(w)
        ]
        assert got[("a", y)] == (sum(dts), max(dts), sum(1 for qy, _ in mask if qy == y))
        assert got[("p", y)] == got[("a", y)]  # codec-independent
    # empty mask: the documented cap everywhere
    for y in range(5):
        assert got[("e", y)] == (6 * (6 + 5), 6 + 5, 0)


def test_distance_transform_single_seed_is_manhattan(spark):
    from osm2geojson_spark.operators.multimodal import distance_transform_rows

    px = np.zeros((7, 7), np.uint8)
    px[3, 3] = 255  # a single seed: dt IS the Manhattan distance field
    imgs = spark.createDataFrame(
        [("s", 7, 7, "rawz", bytearray(imagecodec.encode_rawz(px)))],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {
        r["y"]: (r["row_dt_sum"], r["row_dt_max"])
        for r in distance_transform_rows(imgs, threshold=200).collect()
    }
    for y in range(7):
        dts = [abs(x - 3) + abs(y - 3) for x in range(7)]
        assert got[y] == (sum(dts), max(dts))


def test_hog_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import hog_features

    rng = np.random.default_rng(43)
    px = rng.integers(0, 256, size=(8, 11)).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", 11, 8, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("p", 11, 8, "png", bytearray(imagecodec.encode_png(px))),
            # constant image: every interior pixel has gx = gy = 0 -> bin 0,
            # weight 0 — histogram shape pins the zero-gradient convention
            ("c", 6, 6, "rawz", bytearray(imagecodec.encode_rawz(np.full((6, 6), 9, np.uint8)))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {}
    for r in hog_features(imgs).collect():
        got.setdefault(r["image_id"], {})[r["bin"]] = (r["mag_sum"], r["n_px"])

    ip = px.astype(int)
    h, w = ip.shape
    mag = [0] * 8
    cnt = [0] * 8
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            gx = ip[y, x + 1] - ip[y, x - 1]
            gy = ip[y + 1, x] - ip[y - 1, x]
            b = 4 * (gy < 0) + 2 * (gx < 0) + (abs(gy) > abs(gx))
            mag[b] += abs(gx) + abs(gy)
            cnt[b] += 1
    assert got["a"] == {b: (mag[b], cnt[b]) for b in range(8)}
    assert got["p"] == got["a"]
    assert got["c"] == {0: (0, 16), **{b: (0, 0) for b in range(1, 8)}}
    assert sum(c for _, c in got["a"].values()) == (h - 2) * (w - 2)


def test_warp_affine_identity_flip_and_floor_semantics(spark):
    from osm2geojson_spark.operators.multimodal import warp_affine

    rng = np.random.default_rng(47)
    px = rng.integers(0, 256, size=(10, 10)).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", 10, 10, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("p", 10, 10, "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )

    # identity
    got = {r["image_id"]: r for r in warp_affine(imgs, (256, 0, 0, 0, 256, 0)).collect()}
    assert got["a"]["px_sum"] == int(px.astype(np.int64).sum())
    assert got["a"]["inb_count"] == 100
    assert {k: dict(got["p"].asDict()) for k in ["p"]}["p"]["px_sum"] == got["a"]["px_sum"]

    # hflip: src_x = w-1-x — permutation, sum invariant, all in bounds
    gf = {r["image_id"]: r for r in warp_affine(imgs, (-256, 0, 256 * 9, 0, 256, 0)).collect()}
    assert gf["a"]["px_sum"] == got["a"]["px_sum"]
    assert gf["a"]["inb_count"] == 100

    # rotation-ish shear with negative sums: scalar brute with FLOOR
    coeffs = (247, -66, 5 * 256, 66, 247, -2 * 256)
    gw = {r["image_id"]: r for r in warp_affine(imgs, coeffs, with_bytes=True).collect()}
    a, b, c, d, e, f = coeffs
    warped = np.zeros((10, 10), dtype=np.int64)
    inb_n = 0
    for y in range(10):
        for x in range(10):
            sx = (a * x + b * y + c) // 256  # python // IS floor
            sy = (d * x + e * y + f) // 256
            if 0 <= sx < 10 and 0 <= sy < 10:
                warped[y, x] = px[sy, sx]
                inb_n += 1
    assert gw["a"]["px_sum"] == int(warped.sum())
    assert gw["a"]["inb_count"] == inb_n
    assert gw["a"]["px_max"] == int(warped.max())
    # re-decoded warped bytes reproduce the brute field exactly
    back = imagecodec.decode(bytes(gw["a"]["bytes"]), gw["a"]["fmt"])
    assert (back.astype(np.int64) == warped).all()
    assert gw["p"]["px_sum"] == gw["a"]["px_sum"]


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


def test_block_motion_recovers_planted_shift(spark):
    """block_motion == a scalar SAD replay, recovers an exact planted
    translation with SAD 0, and ranks by mean SAD with (dy, dx) ties."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import block_motion

    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, (12, 12), dtype=np.uint8)

    cases = {}
    for pid, (dx, dy) in enumerate([(1, -2), (-2, 0), (0, 0), (2, 2)]):
        a = base[2:10, 2:10]
        b = base[2 + dy : 10 + dy, 2 + dx : 10 + dx]
        cases[pid] = (a.copy(), b.copy(), dx, dy)
    rows = [
        (pid, IC.encode_rawz(a), "rawz", IC.encode_rawz(b), "rawz")
        for pid, (a, b, _, _) in cases.items()
    ]
    df = spark.createDataFrame(
        rows,
        "pair_id long, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    got = {r["pair_id"]: r for r in block_motion(df, search=2).collect()}

    def brute(a, b, search=2):
        h, w = a.shape
        best = None
        for dy in range(-search, search + 1):
            for dx in range(-search, search + 1):
                ay0, ay1 = max(0, -dy), min(h, h - dy)
                ax0, ax1 = max(0, -dx), min(w, w - dx)
                sa = a[ay0:ay1, ax0:ax1].astype(int)
                sb = b[ay0 + dy : ay1 + dy, ax0 + dx : ax1 + dx].astype(int)
                if sa.size == 0:
                    continue
                sad = int(np.abs(sa - sb).sum())
                key = (sad / sa.size, dy, dx)
                if best is None or key < best[0]:
                    best = (key, dx, dy, sad, sa.size)
        return best[1:]

    for pid, (a, b, dx, dy) in cases.items():
        r = got[pid]
        assert (r["best_dx"], r["best_dy"], r["best_sad"], r["overlap_px"]) == brute(a, b), pid
        # b crops base at +(dx, dy): B(x, y) = A(x + dx, y + dy), so the
        # matcher's zero-SAD candidate is the INVERSE displacement
        assert (r["best_dx"], r["best_dy"]) == (-dx, -dy), pid
        assert r["best_sad"] == 0


def test_min_seam_matches_brute_paths(spark):
    """min_seam == exhaustive enumeration of ALL 8-connected top-bottom
    paths on small grids, incl. a planted cheap channel the seam must
    follow."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import min_seam

    rng = np.random.default_rng(8)
    channel = rng.integers(100, 256, (8, 8), dtype=np.uint8)
    channel[:, 5] = channel[:, 4]  # zero horizontal gradient at x=4 (interior col 3)
    imgs = {
        "rand": rng.integers(0, 256, (8, 8), dtype=np.uint8),
        "flat": np.full((8, 8), 50, dtype=np.uint8),
        "chan": channel,
    }
    df = spark.createDataFrame(
        [(k, IC.encode_rawz(v), 8, 8, "rawz") for k, v in imgs.items()],
        "image_id string, bytes binary, w int, h int, fmt string",
    )
    got = {r["image_id"]: r for r in min_seam(df).collect()}

    def brute(img):
        z = img.astype(np.int64)
        e = np.abs(z[1:-1, 2:] - z[1:-1, :-2]) + np.abs(
            z[2:, 1:-1] - z[:-2, 1:-1]
        )
        h, w = e.shape
        best = None
        import itertools

        for xs in itertools.product(range(w), repeat=h):
            if any(abs(a - b) > 1 for a, b in zip(xs, xs[1:])):
                continue
            c = int(sum(e[y, x] for y, x in enumerate(xs)))
            key = (c, xs[-1])
            if best is None or key < best:
                best = key
        return best

    for name, img in imgs.items():
        c, ex = brute(img)
        r = got[name]
        assert (r["seam_cost"], r["seam_end_x"]) == (c, ex), name
        assert r["energy_total"] == int(
            (
                np.abs(img.astype(int)[1:-1, 2:] - img.astype(int)[1:-1, :-2])
                + np.abs(img.astype(int)[2:, 1:-1] - img.astype(int)[:-2, 1:-1])
            ).sum()
        )
    assert got["flat"]["seam_cost"] == 0


def test_histogram_match_matches_brute_and_self_identity(spark):
    """histogram_match == a scalar CDF replay; matching an image to
    ITSELF is the identity on present values; matching dark->bright
    raises the mean."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import histogram_match

    rng = np.random.default_rng(12)
    dark = rng.integers(0, 90, (8, 8), dtype=np.uint8)
    bright = rng.integers(140, 256, (10, 10), dtype=np.uint8)  # mixed sizes
    rows = [
        (1, IC.encode_rawz(dark), "rawz", IC.encode_rawz(bright), "rawz"),
        (2, IC.encode_rawz(dark), "rawz", IC.encode_rawz(dark), "rawz"),
    ]
    df = spark.createDataFrame(
        rows,
        "pair_id long, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    got = {r["pair_id"]: r for r in histogram_match(df).collect()}

    def brute(a, b):
        ca = np.bincount(a.ravel(), minlength=256).astype(np.int64)
        cb = np.bincount(b.ravel(), minlength=256).astype(np.int64)
        na, nb = a.size, b.size
        cdfa, cdfb = np.cumsum(ca), np.cumsum(cb)
        lut = np.zeros(256, dtype=np.int64)
        for v in range(256):
            for u in range(256):
                if cdfb[u] * na >= cdfa[v] * nb:
                    lut[v] = u
                    break
        out = lut[a.astype(np.int64)]
        present = ca > 0
        vs = np.arange(256)
        return (
            int((lut[present] * (vs[present] + 1)).sum()),
            int(out.sum()), int(out.min()), int(out.max()),
        )

    for pid, a, b in ((1, dark, bright), (2, dark, dark)):
        r = got[pid]
        assert (
            r["lut_checksum"], r["out_sum"], r["out_min"], r["out_max"]
        ) == brute(a, b), pid
    # self-match: identity on present values -> output == input stats
    assert got[2]["out_sum"] == int(dark.sum())
    assert (got[2]["out_min"], got[2]["out_max"]) == (int(dark.min()), int(dark.max()))
    # dark remapped onto bright must brighten
    assert got[1]["out_sum"] > int(dark.sum())
    assert got[1]["out_min"] >= 140


def test_morphology_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import morphology_stats

    px = imagecodec.synth_pixels(17, 9, 6).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            ("a", 9, 6, "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("tiny", 2, 2, "rawz",
             bytearray(imagecodec.encode_rawz(np.zeros((2, 2), np.uint8)))),
            ("p", 9, 6, "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {r["image_id"]: r for r in morphology_stats(imgs).collect()}
    assert "tiny" not in got  # no interior

    h, w = px.shape
    ero = np.zeros((h - 2, w - 2), dtype=np.int64)
    dil = np.zeros((h - 2, w - 2), dtype=np.int64)
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            nb = [
                int(px[yy, xx])
                for yy in (y - 1, y, y + 1)
                for xx in (x - 1, x, x + 1)
            ]
            ero[y - 1, x - 1] = min(nb)
            dil[y - 1, x - 1] = max(nb)
    grad = dil - ero
    for name in ("a", "p"):
        r = got[name]
        assert (r["w"], r["h"]) == (7, 4)
        assert (
            r["erode_sum"], r["dilate_sum"], r["grad_sum"], r["grad_max"]
        ) == (int(ero.sum()), int(dil.sum()), int(grad.sum()), int(grad.max()))
    # order-statistic sanity: erosion <= dilation everywhere
    assert got["a"]["erode_sum"] <= got["a"]["dilate_sum"]


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


def test_integral_box_sums_matches_brute_and_clips(spark):
    from osm2geojson_spark.operators.multimodal import integral_box_sums

    px = imagecodec.synth_pixels(31, 9, 6).astype(np.uint8)
    boxes = [
        (0, 0, 8, 5),      # full frame
        (2, 1, 5, 4),      # interior
        (0, 0, 0, 0),      # single pixel
        (7, 4, 30, 30),    # clipped both axes
        (-3, -2, 1, 1),    # clipped at origin
        (12, 12, 20, 20),  # fully outside -> no row
    ]
    imgs = spark.createDataFrame(
        [
            ("a", "rawz", bytearray(imagecodec.encode_rawz(px))),
            ("p", "png", bytearray(imagecodec.encode_png(px))),
        ],
        "image_id string, fmt string, bytes binary",
    )
    got = {}
    for r in integral_box_sums(imgs, boxes).collect():
        got[(r["image_id"], r["box_id"])] = r["box_sum"]
    for name in ("a", "p"):
        for bid, (x0, y0, x1, y1) in enumerate(boxes):
            cx0, cy0 = max(x0, 0), max(y0, 0)
            cx1, cy1 = min(x1, 8), min(y1, 5)
            if cx0 > cx1 or cy0 > cy1:
                assert (name, bid) not in got
                continue
            want = int(px[cy0 : cy1 + 1, cx0 : cx1 + 1].astype(np.int64).sum())
            assert got[(name, bid)] == want, (name, bid)


def test_harris_corners_matches_scalar_brute_and_finds_corner(spark):
    from osm2geojson_spark.operators.multimodal import harris_corners

    # planted L-corner: bright square in the upper-left of a dark field
    img = np.zeros((10, 10), np.uint8)
    img[1:5, 1:5] = 200
    rnd = imagecodec.synth_pixels(29, 10, 10).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            ("corner", "rawz", bytearray(imagecodec.encode_rawz(img))),
            ("rnd", "rawz", bytearray(imagecodec.encode_rawz(rnd))),
            ("tiny", "rawz",
             bytearray(imagecodec.encode_rawz(np.zeros((4, 4), np.uint8)))),
            ("p", "png", bytearray(imagecodec.encode_png(rnd))),
        ],
        "image_id string, fmt string, bytes binary",
    )
    got = {r["image_id"]: r for r in harris_corners(imgs).collect()}
    assert "tiny" not in got  # needs a 5x5 footprint

    def brute(px):
        px = px.astype(np.int64)
        h, w = px.shape
        best = None
        n_pos, r_sum, r_max = 0, 0, None
        for y in range(2, h - 2):
            for x in range(2, w - 2):
                sxx = syy = sxy = 0
                for vy in (y - 1, y, y + 1):
                    for vx in (x - 1, x, x + 1):
                        gx = int(px[vy, vx + 1]) - int(px[vy, vx - 1])
                        gy = int(px[vy + 1, vx]) - int(px[vy - 1, vx])
                        sxx += gx * gx
                        syy += gy * gy
                        sxy += gx * gy
                rr = 16 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
                n_pos += rr > 0
                r_sum += rr
                if r_max is None or rr > r_max:
                    r_max, best = rr, (x, y)
        return n_pos, r_sum, r_max, best

    for name, px in (("corner", img), ("rnd", rnd), ("p", rnd)):
        n_pos, r_sum, r_max, (bx, by) = brute(px)
        r = got[name]
        assert (r["n_pos"], r["r_sum"], r["r_max"]) == (n_pos, r_sum, r_max)
        assert (r["x_max"], r["y_max"]) == (bx, by)
    # the planted corner's argmax sits on the square's boundary region
    assert 3 <= got["corner"]["x_max"] <= 6
    assert got["corner"]["r_max"] > 0


def test_mutual_information_matches_brute_and_identities(spark):
    """mutual_information == a dict-based scalar MI replay; MI(a, a)
    equals H(a) (the self-pair identity); a constant B side gives
    MI == 0; and a bijective B (same field, shifted phase) also gives
    MI == H(a) because the joint collapses to the marginal."""
    import math as _m

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import mutual_information

    rng = np.random.default_rng(11)
    a0 = rng.integers(0, 40, (10, 10), dtype=np.uint8)
    b0 = ((a0.astype(int) * 3 + rng.integers(0, 4, a0.shape)) % 47).astype(
        np.uint8
    )
    cases = {
        0: (a0, b0),  # correlated but non-bijective
        1: (a0, a0),  # self pair: MI == H(a)
        2: (a0, np.full_like(a0, 7)),  # constant B: MI == 0
        3: (a0, ((a0.astype(int) + 13) % 251).astype(np.uint8)),  # bijection
    }
    rows = [
        (pid, IC.encode_rawz(a), "rawz", IC.encode_rawz(b), "rawz")
        for pid, (a, b) in cases.items()
    ]
    df = spark.createDataFrame(
        rows,
        "pair_id long, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    got = {r["pair_id"]: r for r in mutual_information(df).collect()}
    assert set(got) == set(cases)

    def s_q(counts):
        return sum(
            int(round(c * _m.log(c) * 1e6)) for c in counts.values() if c > 0
        )

    def brute(a, b):
        from collections import Counter

        av, bv = a.ravel().tolist(), b.ravel().tolist()
        n = len(av)
        sa, sb = s_q(Counter(av)), s_q(Counter(bv))
        jc = Counter(zip(av, bv))
        sab = s_q(jc)
        mi = round(_m.log(n) + ((sab - sa - sb) / 1e6) / n, 6) + 0.0
        return n, len(jc), sa, sb, sab, mi

    for pid, (a, b) in cases.items():
        r = got[pid]
        assert (
            r["n_px"], r["n_joint"], r["sa_q"], r["sb_q"], r["sab_q"], r["mi"]
        ) == brute(a, b), pid

    def entropy(a):
        from collections import Counter

        n = a.size
        return _m.log(n) - s_q(Counter(a.ravel().tolist())) / 1e6 / n

    h_a = entropy(a0)
    assert abs(got[1]["mi"] - h_a) < 1e-5  # self pair
    assert abs(got[3]["mi"] - h_a) < 1e-5  # bijective pair
    assert abs(got[2]["mi"]) < 1e-5  # independent-of-constant pair
    # the correlated pair sits strictly between 0 and H(a)
    assert 0.05 < got[0]["mi"] < h_a - 0.05
    # shape-mismatched pairs are dropped, not errored
    odd = spark.createDataFrame(
        [
            (
                9,
                IC.encode_rawz(a0),
                "rawz",
                IC.encode_rawz(a0[:4, :4].copy()),
                "rawz",
            )
        ],
        "pair_id long, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    assert mutual_information(odd).count() == 0


def test_template_match_exact_argmax_and_planted_crop(spark):
    """template_match == a float-NCC brute replay on random images; a
    template cropped from the image itself is found at its true offset
    with NCC exactly 1.0; exact score ties resolve to the smaller
    (y, x); zero-variance templates emit nothing."""
    import math as _m

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import template_match

    rng = np.random.default_rng(7)
    imgs = {}
    rows = []
    for pid in range(6):
        a = rng.integers(0, 256, (12, 12), dtype=np.uint8)
        t = a[3:9, 5:11].copy() if pid % 2 == 0 else rng.integers(
            0, 256, (6, 6), dtype=np.uint8
        )
        imgs[pid] = (a, t)
        rows.append((pid, IC.encode_rawz(a), "rawz", IC.encode_rawz(t), "rawz"))
    # a constructed exact tie: two identical windows in a striped image
    stripe = np.tile(
        np.array([[10, 200], [200, 10]], dtype=np.uint8), (4, 4)
    )  # 8x8, window (0,0) == window (2,0) == ...
    tpl = stripe[0:4, 0:4].copy()
    rows.append((100, IC.encode_rawz(stripe), "rawz", IC.encode_rawz(tpl), "rawz"))
    # zero-variance template: must emit nothing
    rows.append(
        (
            101,
            IC.encode_rawz(imgs[0][0]),
            "rawz",
            IC.encode_rawz(np.full((4, 4), 9, np.uint8)),
            "rawz",
        )
    )
    df = spark.createDataFrame(
        rows,
        "pair_id long, bytes_img binary, fmt_img string, bytes_tpl binary,"
        " fmt_tpl string",
    )
    got = {r["pair_id"]: r for r in template_match(df).collect()}
    assert 101 not in got

    def brute(a, t):
        th, tw = t.shape
        n = th * tw
        st, stt = int(t.sum()), int((t.astype(int) ** 2).sum())
        den_t = n * stt - st * st
        best = None
        for v in range(a.shape[0] - th + 1):
            for u in range(a.shape[1] - tw + 1):
                w = a[v : v + th, u : u + tw].astype(int)
                sa, saa = int(w.sum()), int((w * w).sum())
                num = n * int((w * t).sum()) - sa * st
                den_w = n * saa - sa * sa
                if den_w <= 0:
                    continue
                ncc = num / _m.sqrt(den_w * den_t)
                if best is None or ncc > best[0] + 1e-12:
                    best = (ncc, u, v)
        return best

    for pid, (a, t) in imgs.items():
        b = brute(a, t)
        r = got[pid]
        assert (r["best_x"], r["best_y"]) == (b[1], b[2]), pid
        assert abs(r["ncc"] - b[0]) < 1e-6, pid
    # planted crops: exact location and NCC == 1.0
    for pid in (0, 2, 4):
        r = got[pid]
        assert (r["best_x"], r["best_y"]) == (5, 3)
        assert r["ncc"] == 1.0
        assert r["num"] * r["num"] == r["den_w"] * r["den_t"]
    # tie case: many exact NCC=1 windows; the smallest (y, x) wins
    assert (got[100]["best_x"], got[100]["best_y"]) == (0, 0)
    assert got[100]["ncc"] == 1.0


def test_motion_field_matches_brute_and_planted_shift(spark):
    """motion_field == an independent SAD brute replay on random frame
    pairs; a frame B that is frame A shifted by (sx, sy) yields SAD 0 at
    (du, dv) == (-sx, -sy) for every tile where that displacement is
    feasible; mismatched shapes emit nothing; exact ties resolve to the
    smaller (dv, du)."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import motion_field

    rng = np.random.default_rng(11)
    B, R = 8, 2
    frames = {}
    rows = []
    for pid in range(4):
        a = rng.integers(0, 256, (24, 24), dtype=np.uint8)
        if pid % 2 == 0:
            sx, sy = (pid % 3) - 1, 1
            big = rng.integers(0, 256, (30, 30), dtype=np.uint8)
            big[3 : 3 + 24, 3 : 3 + 24] = a
            b = big[3 + sy : 3 + sy + 24, 3 + sx : 3 + sx + 24].copy()
            frames[pid] = (a, b, sx, sy)
        else:
            b = rng.integers(0, 256, (24, 24), dtype=np.uint8)
            frames[pid] = (a, b, None, None)
        rows.append((pid, IC.encode_rawz(a), "rawz", IC.encode_rawz(b), "rawz"))
    # shape mismatch: must emit nothing
    rows.append(
        (
            99,
            IC.encode_rawz(rng.integers(0, 256, (24, 24), dtype=np.uint8)),
            "rawz",
            IC.encode_rawz(rng.integers(0, 256, (16, 16), dtype=np.uint8)),
            "rawz",
        )
    )
    # constructed tie: constant frames -> every SAD 0, smallest (dv, du) wins
    flat = np.full((16, 16), 77, np.uint8)
    rows.append((100, IC.encode_rawz(flat), "rawz", IC.encode_rawz(flat), "rawz"))
    df = spark.createDataFrame(
        rows,
        "pair_id long, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    got = {}
    for r in motion_field(df, block=B, radius=R).collect():
        got[(r["pair_id"], r["bx"], r["by"])] = (r["du"], r["dv"], r["sad"])
    assert not any(k[0] == 99 for k in got)

    def brute(a, b, bx, by):
        best = None
        t = a[by : by + B, bx : bx + B].astype(int)
        for dv in range(-R, R + 1):
            for du in range(-R, R + 1):
                y0, x0 = by + dv, bx + du
                if y0 < 0 or x0 < 0 or y0 + B > b.shape[0] or x0 + B > b.shape[1]:
                    continue
                sad = int(
                    np.abs(t - b[y0 : y0 + B, x0 : x0 + B].astype(int)).sum()
                )
                if best is None or (sad, dv, du) < best:
                    best = (sad, dv, du)
        return best

    for pid, (a, b, sx, sy) in frames.items():
        for by in range(0, 24 - B + 1, B):
            for bx in range(0, 24 - B + 1, B):
                s, dv, du = brute(a, b, bx, by)
                assert got[(pid, bx, by)] == (du, dv, s), (pid, bx, by)
                if sx is not None:
                    fx, fy = -sx, -sy
                    if 0 <= bx + fx <= 24 - B and 0 <= by + fy <= 24 - B:
                        assert got[(pid, bx, by)] == (fx, fy, 0), (pid, bx, by)
    # tie pair: all-zero SADs, smallest (dv, du) = (-2, -2) where feasible
    assert got[(100, 8, 8)] == (-2, -2, 0)
    assert got[(100, 0, 0)] == (0, 0, 0)


def test_morphology_openclose_matches_brute_and_identities(spark):
    """morphology_openclose == a per-pixel clipped-neighborhood brute replay on
    random images; opening <= original <= closing pointwise (checked via
    the brute fields); a constant image is a fixed point of every op
    (gradient 0); checksums pin placement (transposed image differs)."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import morphology_openclose

    rng = np.random.default_rng(5)
    imgs = {}
    rows = []
    for pid in range(5):
        a = rng.integers(0, 256, (12, 12), dtype=np.uint8)
        imgs[pid] = a
        rows.append((pid, IC.encode_rawz(a), "rawz"))
    rows.append((50, IC.encode_rawz(np.full((8, 8), 99, np.uint8)), "rawz"))
    asym = np.zeros((6, 6), np.uint8)
    asym[1, 4] = 200
    rows.append((60, IC.encode_rawz(asym), "rawz"))
    rows.append((61, IC.encode_rawz(asym.T.copy()), "rawz"))
    df = spark.createDataFrame(
        rows, "image_id long, bytes binary, fmt string"
    )
    got = {r["image_id"]: r for r in morphology_openclose(df).collect()}

    def brute_op(a, op):
        h, w = a.shape
        out = np.zeros_like(a, dtype=int)
        for y in range(h):
            for x in range(w):
                nb = a[max(0, y - 1) : y + 2, max(0, x - 1) : x + 2]
                out[y, x] = op(nb)
        return out

    for pid, a in imgs.items():
        ero = brute_op(a, np.min)
        dil = brute_op(a, np.max)
        opn = brute_op(ero, np.max)
        cls = brute_op(dil, np.min)
        assert np.all(opn <= a) and np.all(a <= cls)
        y, x = np.mgrid[0 : a.shape[0], 0 : a.shape[1]]
        wgt = 1 + x + a.shape[1] * y
        r = got[pid]
        assert r["ero_sum"] == int(ero.sum()) and r["dil_sum"] == int(dil.sum())
        assert r["open_sum"] == int(opn.sum())
        assert r["close_sum"] == int(cls.sum())
        assert r["grad_sum"] == int((dil - ero).sum())
        assert r["ero_chk"] == int((ero * wgt).sum())
        assert r["open_chk"] == int((opn * wgt).sum())
    c = got[50]
    assert c["ero_sum"] == c["dil_sum"] == c["open_sum"] == c["close_sum"] == 99 * 64
    assert c["grad_sum"] == 0
    # same multiset of pixels, different placement -> different checksum
    assert got[60]["dil_sum"] == got[61]["dil_sum"]
    assert got[60]["ero_chk"] == got[61]["ero_chk"] == 0  # erosion kills the dot
    assert got[60]["open_sum"] == got[61]["open_sum"] == 0


def test_ssim_pairs_matches_brute_and_identities(spark):
    """ssim_pairs == the textbook float SSIM per 8x8 tile on random
    pairs (within quantization); an identical pair scores exactly 1.0;
    a constant-vs-constant pair is well-defined (no zero division);
    mismatched shapes emit nothing."""
    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import ssim_pairs

    rng = np.random.default_rng(3)
    data = {}
    rows = []
    for pid in range(5):
        a = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        if pid == 0:
            b = a.copy()
        elif pid == 1:
            b = np.clip(a.astype(int) + 12, 0, 255).astype(np.uint8)
        else:
            b = rng.integers(0, 256, (16, 16), dtype=np.uint8)
        data[pid] = (a, b)
        rows.append((pid, IC.encode_rawz(a), "rawz", IC.encode_rawz(b), "rawz"))
    rows.append(
        (
            50,
            IC.encode_rawz(np.full((8, 8), 40, np.uint8)),
            "rawz",
            IC.encode_rawz(np.full((8, 8), 200, np.uint8)),
            "rawz",
        )
    )
    rows.append(
        (
            99,
            IC.encode_rawz(rng.integers(0, 256, (16, 16), dtype=np.uint8)),
            "rawz",
            IC.encode_rawz(rng.integers(0, 256, (8, 8), dtype=np.uint8)),
            "rawz",
        )
    )
    df = spark.createDataFrame(
        rows,
        "pair_id long, bytes_a binary, fmt_a string, bytes_b binary,"
        " fmt_b string",
    )
    got = {r["pair_id"]: r for r in ssim_pairs(df, window=8).collect()}
    assert 99 not in got
    assert got[0]["mssim"] == 1.0 and got[0]["ssim_q_min"] == 1000000

    C1, C2 = (0.01 * 255) ** 2, (0.03 * 255) ** 2

    def brute(a, b):
        vals = []
        for wy in range(a.shape[0] // 8):
            for wx in range(a.shape[1] // 8):
                ta = a[wy * 8 : wy * 8 + 8, wx * 8 : wx * 8 + 8].astype(float)
                tb = b[wy * 8 : wy * 8 + 8, wx * 8 : wx * 8 + 8].astype(float)
                ma, mb = ta.mean(), tb.mean()
                va, vb = ta.var(), tb.var()
                cov = ((ta - ma) * (tb - mb)).mean()
                vals.append(
                    ((2 * ma * mb + C1) * (2 * cov + C2))
                    / ((ma * ma + mb * mb + C1) * (va + vb + C2))
                )
        return vals

    for pid, (a, b) in data.items():
        vals = brute(a, b)
        r = got[pid]
        assert r["n_win"] == len(vals) == 4
        assert abs(r["mssim"] - sum(vals) / len(vals)) < 1e-5, pid
        assert abs(r["ssim_q_min"] / 1e6 - min(vals)) < 1e-5, pid
    # constant pair: luminance term only, exact rational value
    c = got[50]
    exp = (2 * 40 * 200 + C1) / (40 * 40 + 200 * 200 + C1)
    assert abs(c["mssim"] - exp) < 1e-5 and c["n_win"] == 1


def test_hough_lines_planted_line_and_brute(spark):
    """hough_lines finds a planted horizontal line as the top cell, and
    the full output matches a NumPy brute replay of the identical
    accumulator on synthetic formula images."""
    from osm2geojson_spark.operators.multimodal import (
        hough_lines,
        hough_trig,
    )

    # planted image: all dark except row y=5 at 255 -> horizontal line
    w = h = 16
    px = np.zeros((h, w), dtype=np.uint8)
    px[5, :] = 255
    planted = spark.createDataFrame(
        [("planted", imagecodec.encode_rawz(px), "rawz")],
        "image_id string, bytes binary, fmt string",
    )
    got = hough_lines(planted, edge_thresh=200, min_votes=8, k=1).collect()
    assert len(got) == 1
    r = got[0]
    # theta_bin n_theta/2 is (cq, sq) = (0, 256): rho = y*256 // 512 = 2
    assert (r["theta_bin"], r["rho_idx"], r["votes"], r["rank"]) == (
        4, 2, 16, 1,
    )

    # brute replay on formula images (includes multi-image ranking)
    imgs = synthetic_images(spark, 40)
    got_all = {
        (r["image_id"], r["rank"]): (r["theta_bin"], r["rho_idx"], r["votes"])
        for r in hough_lines(imgs, edge_thresh=200, min_votes=8, k=3).collect()
    }
    trig = hough_trig(8)
    want = {}
    for i in range(40):
        ww = [16, 32, 64][i % 3]
        ys, xs = np.meshgrid(np.arange(ww), np.arange(ww), indexing="ij")
        v = (xs * 3 + ys * 7 + i * 13) % 251
        m = v >= 200
        cells = {}
        for t, cq, sq in trig:
            rho = np.floor_divide(xs[m] * cq + ys[m] * sq, 512)
            for u, c in zip(*np.unique(rho, return_counts=True)):
                if c >= 8:
                    cells[(t, int(u))] = int(c)
        top = sorted(cells.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for rk, ((t, u), c) in enumerate(top, 1):
            want[(f"img{i:012d}", rk)] = (t, u, c)
    assert got_all == want


def test_gaussian_blur_stats_matches_direct_conv_and_twin(spark):
    """Separable 5-tap blur == direct 25-term 2-D convolution (brute),
    and the DuckDB twin hash-matches on an explicit pixel table."""
    import duckdb

    from osm2geojson_spark.operators.multimodal import (
        GAUSS_K5,
        gaussian_blur_stats,
        gaussian_blur_stats_sql,
    )

    rng = np.random.default_rng(3)
    imgs, want = [], {}
    px_rows = []
    for i in range(6):
        w = h = int(rng.integers(5, 14))
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        iid = f"r{i}"
        imgs.append((iid, imagecodec.encode_rawz(px), "rawz"))
        # direct 2-D convolution
        p64 = px.astype(np.int64)
        conv = np.zeros((h - 4, w - 4), dtype=np.int64)
        for dy in range(5):
            for dx in range(5):
                conv += (
                    GAUSS_K5[dy] * GAUSS_K5[dx]
                    * p64[dy : h - 4 + dy, dx : w - 4 + dx]
                )
        sm = conv >> 8
        want[iid] = (
            conv.size, int(conv.sum()), int(sm.sum()), int(sm.max()),
            int((sm >= 200).sum()),
        )
        for yy in range(h):
            for xx in range(w):
                px_rows.append((iid, w, h, xx, yy, int(px[yy, xx])))

    df = spark.createDataFrame(imgs, "image_id string, bytes binary, fmt string")
    got = {
        r["image_id"]: (
            r["n_interior"], r["conv_sum"], r["smooth_sum"],
            r["smooth_max"], r["smooth_edges"],
        )
        for r in gaussian_blur_stats(df).collect()
    }
    assert got == want

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE pxt (image_id VARCHAR, w INT, h INT, x INT, y INT, v INT)"
    )
    duck.executemany("INSERT INTO pxt VALUES (?, ?, ?, ?, ?, ?)", px_rows)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(
            gaussian_blur_stats_sql("SELECT * FROM pxt")
        ).fetchall()
    }
    assert twin == want

    # too-small image emits nothing
    tiny = spark.createDataFrame(
        [("t", imagecodec.encode_rawz(np.zeros((4, 4), np.uint8)), "rawz")],
        "image_id string, bytes binary, fmt string",
    )
    assert gaussian_blur_stats(tiny).count() == 0


def test_canny_nms_matches_pixel_table_twin_and_thins_edges(spark):
    """canny_nms_stats == the DuckDB coordinate-join twin on random
    images, and a sharp step edge survives as a thin line (survivors
    far fewer than raw sobel-active pixels)."""
    import duckdb

    from osm2geojson_spark.operators.multimodal import (
        canny_nms_stats,
        sobel_stats,
    )
    from osm2geojson_spark.operators.multimodal import canny_nms_stats_sql

    rng = np.random.default_rng(47)
    imgs, px_rows = [], []
    for i in range(5):
        w = h = int(rng.integers(8, 15))
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        if i == 0:
            # sharp vertical step edge in a flat image
            px[:, :] = 10
            px[:, w // 2:] = 240
        iid = f"c{i}"
        imgs.append((iid, imagecodec.encode_rawz(px), "rawz"))
        for yy in range(h):
            for xx in range(w):
                px_rows.append((iid, w, h, xx, yy, int(px[yy, xx])))
    df = spark.createDataFrame(imgs, "image_id string, bytes binary, fmt string")
    got = {
        r["image_id"]: tuple(
            r[c] for c in (
                "n_considered", "n_survivors", "n_strong", "n_weak",
                "nms_sum",
            )
        )
        for r in canny_nms_stats(df).collect()
    }

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE pxc (image_id VARCHAR, w INT, h INT, x INT, y INT, v INT)"
    )
    duck.executemany("INSERT INTO pxc VALUES (?, ?, ?, ?, ?, ?)", px_rows)
    twin = {
        r[0]: r[1:]
        for r in duck.sql(canny_nms_stats_sql("SELECT * FROM pxc")).fetchall()
    }
    assert twin == got

    # thinning: the step image's survivors form ~one column, while the
    # raw sobel response is active on ~two columns either side
    w0 = [w for (iid, w, h, *_r) in
          [(r[0], r[1], r[2]) for r in px_rows if r[0] == "c0"][:1]][0]
    edge_rows = got["c0"]
    sob = {
        r["image_id"]: r["edge_count"]
        for r in sobel_stats(df, threshold=256).collect()
    }
    assert edge_rows[1] < sob["c0"]  # strictly thinner than raw response
    assert edge_rows[2] > 0  # strong edges found


def test_lbp_histogram_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import (
        LBP_OFFSETS,
        lbp_histogram,
        lbp_uniform_bin,
    )

    px = imagecodec.synth_pixels(5, 9, 8).astype(np.int64)
    px[3, 4] = 250  # plant a local max (all-zero code -> bin 0)
    px[5, 2] = 0    # plant a local min (all-one code -> bin 8)
    imgs = spark.createDataFrame(
        [
            ("a", 9, 8, "rawz",
             bytearray(imagecodec.encode_rawz(px.astype(np.uint8)))),
            ("c", 9, 8, "png",
             bytearray(imagecodec.encode_png(px.astype(np.uint8)))),
            # constant image: every code is 255 (>= everywhere) -> bin 8
            ("b", 5, 5, "rawz",
             bytearray(imagecodec.encode_rawz(np.full((5, 5), 9, np.uint8)))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {}
    for r in lbp_histogram(imgs).collect():
        got.setdefault(r["image_id"], {})[r["bin"]] = r["cnt"]

    # scalar double-loop brute against the docstring definition
    h, w = px.shape
    want = {}
    for y in range(1, h - 1):
        for x in range(1, w - 1):
            code = 0
            for k, (dx, dy) in enumerate(LBP_OFFSETS):
                if px[y + dy, x + dx] >= px[y, x]:
                    code |= 1 << k
            b = lbp_uniform_bin(code)
            want[b] = want.get(b, 0) + 1
    assert got["a"] == want
    assert got["c"] == want  # format-independent
    assert got["b"] == {8: 9}  # 3x3 interior, all codes 255 -> bin 8
    # uniform LUT sanity: transitions rule
    assert lbp_uniform_bin(0b00001111) == 4
    assert lbp_uniform_bin(0b01010101) == 9


def test_fast_corners_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import FAST_RING, fast_corners

    rng = np.random.RandomState(4)
    px = rng.randint(0, 256, size=(14, 16)).astype(np.int64)
    # plant an unambiguous bright corner: dark center, bright ring arc
    px[:, :] = 100
    px[6, 7] = 10  # center
    # make 11 contiguous ring pixels bright around it
    for k in range(11):
        dx, dy = FAST_RING[k]
        px[6 + dy, 7 + dx] = 240
    imgs = spark.createDataFrame(
        [
            ("a", 16, 14, "rawz",
             bytearray(imagecodec.encode_rawz(px.astype(np.uint8)))),
            ("p", 16, 14, "png",
             bytearray(imagecodec.encode_png(px.astype(np.uint8)))),
            # flat image: no corners
            ("b", 10, 10, "rawz",
             bytearray(imagecodec.encode_rawz(np.full((10, 10), 50, np.uint8)))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    t = 20
    got = {}
    for r in fast_corners(imgs, t=t).collect():
        got.setdefault(r["image_id"], {})[(r["x"], r["y"])] = (
            r["bright"], r["dark"]
        )

    # scalar brute against the docstring definition
    h, w = px.shape
    want = {}
    for y in range(3, h - 3):
        for x in range(3, w - 3):
            ring = [px[y + dy, x + dx] for dx, dy in FAST_RING]
            c = px[y, x]
            bseq = [v > c + t for v in ring] * 2
            dseq = [v < c - t for v in ring] * 2
            bright = any(
                all(bseq[s : s + 9]) for s in range(16)
            )
            dark = any(all(dseq[s : s + 9]) for s in range(16))
            if bright or dark:
                want[(x, y)] = (int(bright), int(dark))
    assert got["a"] == want
    assert got["p"] == want  # format-independent
    assert (7, 6) in got["a"] and got["a"][(7, 6)][0] == 1  # planted corner
    assert "b" not in got  # flat image: nothing


def test_ordered_dither_matches_scalar_brute(spark):
    from osm2geojson_spark.operators.multimodal import BAYER4, ordered_dither

    px = imagecodec.synth_pixels(3, 9, 7).astype(np.int64)
    imgs = spark.createDataFrame(
        [
            ("a", 9, 7, "rawz",
             bytearray(imagecodec.encode_rawz(px.astype(np.uint8)))),
            ("c", 9, 7, "png",
             bytearray(imagecodec.encode_png(px.astype(np.uint8)))),
            # all-white: every threshold passes -> ones == n_px per phase
            ("w", 4, 4, "rawz",
             bytearray(imagecodec.encode_rawz(np.full((4, 4), 255, np.uint8)))),
            # all-black: v=0 < 8 <= every threshold -> ones == 0
            ("b", 4, 4, "rawz",
             bytearray(imagecodec.encode_rawz(np.zeros((4, 4), np.uint8)))),
        ],
        "image_id string, w int, h int, fmt string, bytes binary",
    )
    got = {}
    for r in ordered_dither(imgs).collect():
        got.setdefault(r["image_id"], {})[r["phase"]] = (r["n_px"], r["ones"])

    h, w = px.shape
    want = {p: [0, 0] for p in range(16)}
    for y in range(h):
        for x in range(w):
            p = (y % 4) * 4 + (x % 4)
            want[p][0] += 1
            if px[y, x] >= 16 * BAYER4[y % 4][x % 4] + 8:
                want[p][1] += 1
    assert got["a"] == {p: tuple(v) for p, v in want.items()}
    assert got["c"] == got["a"]  # format-independent
    assert got["w"] == {p: (1, 1) for p in range(16)}
    assert got["b"] == {p: (1, 0) for p in range(16)}
    # phase counts cover the image exactly
    assert sum(v[0] for v in got["a"].values()) == h * w


def test_brief_match_recovers_translation_and_twin(spark):
    """B is an exact crop-translation of A with random (nonlinear)
    pixels: every A keypoint must match at hamming 0 displaced by
    exactly (-dx, -dy); the DuckDB twin replays the same pixels."""
    import duckdb
    import numpy as np

    from osm2geojson_spark.functions import imagecodec
    from osm2geojson_spark.operators.multimodal import (
        brief_match,
        brief_match_sql,
    )

    rng = np.random.default_rng(7)
    rows = []
    truth = {}
    px_rows, dim_rows = [], []
    for pid, (dx, dy) in enumerate([(0, 0), (2, -1), (-2, 2), (1, 2)]):
        w = 20
        a = rng.integers(0, 256, size=(w, w), dtype=np.uint8)
        b = np.zeros_like(a)
        for y in range(w):
            for x in range(w):
                sy, sx = y + dy, x + dx
                b[y, x] = (
                    a[sy, sx]
                    if 0 <= sy < w and 0 <= sx < w
                    else (x * 5 + y * 11 + pid) % 256
                )
        rows.append(
            (
                pid,
                bytearray(imagecodec.encode_rawz(a)),
                "rawz",
                bytearray(imagecodec.encode_rawz(b)),
                "rawz",
            )
        )
        truth[pid] = (dx, dy)
        for side, img in (("a", a), ("b", b)):
            dim_rows.append((pid, side, w, w))
            for y in range(w):
                for x in range(w):
                    px_rows.append((pid, side, x, y, int(img[y, x])))

    pairs = spark.createDataFrame(
        rows,
        "pair_id long, bytes_a binary, fmt_a string,"
        " bytes_b binary, fmt_b string",
    )
    got = sorted(
        (r["pair_id"], r["ax"], r["ay"], r["mx"], r["my"], r["hamming"])
        for r in brief_match(pairs).collect()
    )
    assert len(got) == 4 * 8 * 8  # margin-6 grid on 20px frames
    for pid, ax, ay, mx, my, ham in got:
        dx, dy = truth[pid]
        assert ham == 0, (pid, ax, ay)
        assert (mx, my) == (ax - dx, ay - dy), (pid, ax, ay, mx, my)

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE pxt (pair_id BIGINT, side VARCHAR, x BIGINT,"
        " y BIGINT, v BIGINT)"
    )
    duck.executemany("INSERT INTO pxt VALUES (?, ?, ?, ?, ?)", px_rows)
    duck.execute(
        "CREATE TABLE dimst (pair_id BIGINT, side VARCHAR, w BIGINT,"
        " h BIGINT)"
    )
    duck.executemany("INSERT INTO dimst VALUES (?, ?, ?, ?)", dim_rows)
    twin = sorted(
        tuple(r)
        for r in duck.sql(
            brief_match_sql(
                "SELECT * FROM pxt", "SELECT * FROM dimst"
            )
        ).fetchall()
    )
    assert twin == got


def test_haar_energy_parseval_and_brute(spark):
    """Independent invariants: unnormalized-Haar Parseval identity
    16·Σv² = Σll1² + Σlh1² + Σhl1² + Σhh1² per image (the 2x2 step is
    2·orthogonal), applied again at level 2; plus a scalar brute
    replay; plus constant image -> all detail energies 0."""
    import numpy as np

    from osm2geojson_spark.functions import imagecodec
    from osm2geojson_spark.operators.multimodal import haar_energy

    rng = np.random.default_rng(3)
    imgs = {
        "r": rng.integers(0, 256, size=(8, 12), dtype=np.uint8),
        "c": np.full((8, 8), 77, dtype=np.uint8),
    }
    rows = [
        (k, bytearray(imagecodec.encode_rawz(v)), "rawz")
        for k, v in imgs.items()
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {
        (r["image_id"], r["subband"]): (r["n_coeffs"], r["energy"])
        for r in haar_energy(df).collect()
    }

    for key, img in imgs.items():
        a = img.astype(np.int64)
        b = a.reshape(a.shape[0] // 2, 2, a.shape[1] // 2, 2)
        ll1 = b[:, 0, :, 0] + b[:, 0, :, 1] + b[:, 1, :, 0] + b[:, 1, :, 1]
        # scalar brute for lh1 on the raw definition
        lh1 = b[:, 0, :, 0] + b[:, 0, :, 1] - b[:, 1, :, 0] - b[:, 1, :, 1]
        hl1 = b[:, 0, :, 0] - b[:, 0, :, 1] + b[:, 1, :, 0] - b[:, 1, :, 1]
        hh1 = b[:, 0, :, 0] - b[:, 0, :, 1] - b[:, 1, :, 0] + b[:, 1, :, 1]
        assert got[(key, "lh1")] == (lh1.size, int((lh1 ** 2).sum()))
        # Parseval at level 1
        e1 = sum(int((m ** 2).sum()) for m in (ll1, lh1, hl1, hh1))
        assert e1 == 4 * int((a.astype(np.int64) ** 2).sum()) * 1  # 2x2: factor 4
        # level 2 from ll1
        c = ll1.reshape(ll1.shape[0] // 2, 2, ll1.shape[1] // 2, 2)
        ll2 = c[:, 0, :, 0] + c[:, 0, :, 1] + c[:, 1, :, 0] + c[:, 1, :, 1]
        lh2 = c[:, 0, :, 0] + c[:, 0, :, 1] - c[:, 1, :, 0] - c[:, 1, :, 1]
        hl2 = c[:, 0, :, 0] - c[:, 0, :, 1] + c[:, 1, :, 0] - c[:, 1, :, 1]
        hh2 = c[:, 0, :, 0] - c[:, 0, :, 1] - c[:, 1, :, 0] + c[:, 1, :, 1]
        for name, m in (
            ("hl1", hl1), ("hh1", hh1), ("ll2", ll2),
            ("lh2", lh2), ("hl2", hl2), ("hh2", hh2),
        ):
            assert got[(key, name)] == (m.size, int((m ** 2).sum())), name

    # constant image: every detail subband energy is exactly 0
    for name in ("lh1", "hl1", "hh1", "lh2", "hl2", "hh2"):
        assert got[("c", name)][1] == 0


def test_demosaic_reconstructs_constant_color_planes(spark):
    """Ground-truth test: a Bayer mosaic sampled from a CONSTANT RGB
    scene must reconstruct exactly that color at every interior pixel
    (bilinear interpolation of constants is the constant) — checked
    through the 4x sums; plus a scalar brute replay of a random
    mosaic."""
    import numpy as np

    from osm2geojson_spark.functions import imagecodec
    from osm2geojson_spark.operators.multimodal import demosaic_stats

    R, G, B = 120, 80, 200
    w = 12
    const = np.zeros((w, w), dtype=np.uint8)
    for y in range(w):
        for x in range(w):
            if x % 2 == 0 and y % 2 == 0:
                const[y, x] = R
            elif x % 2 == 1 and y % 2 == 1:
                const[y, x] = B
            else:
                const[y, x] = G
    rng = np.random.default_rng(11)
    rand = rng.integers(0, 256, size=(10, 10), dtype=np.uint8)
    rows = [
        ("const", bytearray(imagecodec.encode_rawz(const)), "rawz"),
        ("rand", bytearray(imagecodec.encode_rawz(rand)), "rawz"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r for r in demosaic_stats(df).collect()}

    n = (w - 2) * (w - 2)
    c = got["const"]
    assert c["n_px"] == n
    assert (c["r4_sum"], c["g4_sum"], c["b4_sum"]) == (
        4 * R * n, 4 * G * n, 4 * B * n
    )

    # scalar brute on the random mosaic
    a = rand.astype(int)
    rs = gs = bs = chk = 0
    for y in range(1, 9):
        for x in range(1, 9):
            v = a[y, x]
            ew = a[y, x - 1] + a[y, x + 1]
            ns = a[y - 1, x] + a[y + 1, x]
            dg = a[y - 1, x - 1] + a[y - 1, x + 1] + a[y + 1, x - 1] + a[y + 1, x + 1]
            if x % 2 == 0 and y % 2 == 0:
                r4, g4, b4 = 4 * v, ew + ns, dg
            elif x % 2 == 1 and y % 2 == 1:
                r4, g4, b4 = dg, ew + ns, 4 * v
            elif x % 2 == 1 and y % 2 == 0:
                r4, g4, b4 = 2 * ew, 4 * v, 2 * ns
            else:
                r4, g4, b4 = 2 * ns, 4 * v, 2 * ew
            rs += r4; gs += g4; bs += b4
            chk += (x + 2 * y + 1) * (r4 + 2 * g4 + 3 * b4)
    r = got["rand"]
    assert (r["n_px"], r["r4_sum"], r["g4_sum"], r["b4_sum"], r["chk"]) == (
        64, rs, gs, bs, chk
    )


def test_median_cut_recovers_planted_palette(spark):
    """A 4-color image (well-separated colors) must come back as
    exactly 4 leaves whose mean colors ARE the planted colors; plus a
    scalar replay of the cut rule on a random image and a uniform
    image collapsing to one leaf."""
    import random

    from osm2geojson_spark.operators.multimodal import median_cut_palette

    # a 2x2 grid in (r, g) with constant b: round 1 must split on r,
    # round 2 on g -> exactly the four planted colors
    colors = [(0, 0, 100), (0, 200, 100), (250, 0, 100), (250, 200, 100)]
    rows = []
    for i, (r, g, b) in enumerate(colors):
        rows += [("quad", r, g, b)] * (20 + i)
    rows += [("flat", 77, 88, 99)] * 30
    rng = random.Random(2)
    rows += [
        ("rand", rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(150)
    ]
    df = spark.createDataFrame(rows, "image_id string, r long, g long, b long")
    got = {}
    for row in median_cut_palette(df).collect():
        got.setdefault(row["image_id"], {})[row["leaf"]] = (
            row["n_px"], row["r_sum"], row["g_sum"], row["b_sum"]
        )

    quad = got["quad"]
    assert len(quad) == 4
    recovered = sorted(
        (rs // n, gs // n, bs // n) for n, rs, gs, bs in quad.values()
    )
    assert recovered == sorted(colors)
    # uniform image -> single leaf 0
    assert list(got["flat"].keys()) == [0]
    assert got["flat"][0] == (30, 30 * 77, 30 * 88, 30 * 99)

    # scalar replay on rand
    pts = [(r, g, b) for img, r, g, b in rows if img == "rand"]

    def split(sub):
        rng_ = [max(c) - min(c) for c in zip(*sub)]
        ch = rng_.index(max(rng_))
        vals = sorted(p[ch] for p in sub)
        med = vals[(len(vals) - 1) // 2]
        if med == vals[-1]:
            below = [v for v in vals if v < med]
            if below:
                med = below[-1]
        return ch, med

    ch1, med1 = split(pts)
    leaves = {}
    for side in (0, 1):
        sub = [p for p in pts if (p[ch1] > med1) == bool(side)]
        if not sub:
            continue
        ch2, med2 = split(sub)
        for p in sub:
            leaf = side * 2 + (1 if p[ch2] > med2 else 0)
            n, rs, gs, bs = leaves.get(leaf, (0, 0, 0, 0))
            leaves[leaf] = (n + 1, rs + p[0], gs + p[1], bs + p[2])
    assert got["rand"] == leaves


def test_dog_keypoints_scalar_brute_and_planted_blob(spark):
    """Scalar replay of the combined zero-sum DoG kernel + strict
    8-neighbor maximum on a random image, plus the designed property: a
    planted bright dot on a flat field yields exactly one keypoint at
    the dot (the band-pass peak), and a constant image yields none
    (zero-sum kernel)."""
    from osm2geojson_spark.operators.multimodal import (
        DOG_K3,
        GAUSS_K5,
        dog_keypoints,
    )

    blob = np.full((11, 11), 50, np.uint8)
    blob[5, 5] = 250
    flat = np.full((9, 9), 77, np.uint8)
    rnd = imagecodec.synth_pixels(41, 16, 16).astype(np.uint8)
    imgs = spark.createDataFrame(
        [
            ("blob", "rawz", bytearray(imagecodec.encode_rawz(blob))),
            ("flat", "rawz", bytearray(imagecodec.encode_rawz(flat))),
            ("rnd", "png", bytearray(imagecodec.encode_png(rnd))),
            ("tiny", "rawz",
             bytearray(imagecodec.encode_rawz(np.zeros((6, 6), np.uint8)))),
        ],
        "image_id string, fmt string, bytes binary",
    )
    got = {}
    for r in dog_keypoints(imgs, thresh=100).collect():
        got.setdefault(r["image_id"], []).append(
            (r["x"], r["y"], r["d"], r["absd"])
        )
    assert "flat" not in got and "tiny" not in got
    assert len(got["blob"]) == 1 and got["blob"][0][:2] == (5, 5)
    assert got["blob"][0][2] > 0  # bright dot: positive band-pass peak

    def brute(px, thresh):
        px = px.astype(np.int64)
        h, w = px.shape
        c5, c3 = GAUSS_K5, DOG_K3

        def D(x, y):
            acc = 0
            for dx in range(-2, 3):
                for dy in range(-2, 3):
                    kw = -c5[dx + 2] * c5[dy + 2]
                    if abs(dx) <= 1 and abs(dy) <= 1:
                        kw += 16 * c3[dx + 1] * c3[dy + 1]
                    acc += kw * int(px[y + dy, x + dx])
            return acc

        out = []
        for y in range(3, h - 3):
            for x in range(3, w - 3):
                d0 = D(x, y)
                if abs(d0) < thresh:
                    continue
                if all(
                    abs(d0) > abs(D(x + dx, y + dy))
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                    if (dx, dy) != (0, 0)
                ):
                    out.append((x, y, d0, abs(d0)))
        return sorted(out)

    assert sorted(got.get("rnd", [])) == brute(rnd, 100)
    assert sorted(got["blob"]) == brute(blob, 100)


def test_gray_world_stats_replay_and_equalization(spark):
    """Scalar replay on a designed color-cast image (red channel 2x),
    plus the designed properties: corrected channel sums equalize
    within truncation error on a cast WITHOUT clipping, and an already
    gray image is (almost) unchanged; twin byte-for-byte."""
    import duckdb

    from osm2geojson_spark.operators.multimodal import (
        gray_world_stats,
        gray_world_stats_sql,
    )

    rows = []
    # cast image: r = 2*base, g = base, b = base (base in 10..59)
    for p in range(50):
        base = 10 + p
        rows.append(("cast", 2 * base, base, base))
    # gray image: all channels equal
    for p in range(50):
        rows.append(("gray", 40 + p % 20, 40 + p % 20, 40 + p % 20))
    df = spark.createDataFrame(rows, "image_id string, r int, g int, b int")
    got = {r["image_id"]: r.asDict() for r in gray_world_stats(df).collect()}

    def replay(img):
        pts = [(r, g, b) for i, r, g, b in rows if i == img]
        sr = max(sum(p[0] for p in pts), 1)
        sg = max(sum(p[1] for p in pts), 1)
        sb = max(sum(p[2] for p in pts), 1)
        st = sr + sg + sb
        cr = cg = cb = ncl = 0
        for r, g, b in pts:
            vr, vg, vb = r * st // (3 * sr), g * st // (3 * sg), b * st // (3 * sb)
            ncl += 1 if (vr > 255 or vg > 255 or vb > 255) else 0
            cr += min(255, vr); cg += min(255, vg); cb += min(255, vb)
        return dict(n_px=len(pts), s_r=sr, s_g=sg, s_b=sb,
                    cr_sum=cr, cg_sum=cg, cb_sum=cb, n_clipped=ncl)

    for img in ("cast", "gray"):
        want = replay(img)
        for k, v in want.items():
            assert got[img][k] == v, (img, k)
    # equalization: corrected sums within truncation slack (1/px)
    g = got["cast"]
    assert abs(g["cr_sum"] - g["cg_sum"]) <= g["n_px"]
    assert abs(g["cg_sum"] - g["cb_sum"]) <= g["n_px"]
    assert g["n_clipped"] == 0

    duck = duckdb.connect()
    duck.execute("CREATE TABLE gwp (image_id VARCHAR, r BIGINT, g BIGINT, b BIGINT)")
    duck.executemany("INSERT INTO gwp VALUES (?,?,?,?)", rows)
    cols = ["n_px", "s_r", "s_g", "s_b", "cr_sum", "cg_sum", "cb_sum", "n_clipped"]
    twin = {
        r[0]: dict(zip(cols, r[1:]))
        for r in duck.sql(gray_world_stats_sql("SELECT * FROM gwp")).fetchall()
    }
    for img in got:
        for k in cols:
            assert twin[img][k] == got[img][k], (img, k)


def test_shot_detect_fires_at_planted_cut(spark):
    """Designed clips: slow drift (no cuts) vs a hard scene change at
    frame 3 — the cut fires exactly there; histogram replay including
    the emptied-bin contribution; twin byte-for-byte."""
    import duckdb

    from osm2geojson_spark.operators.multimodal import (
        SHOT_BINS,
        shot_detect,
        shot_detect_sql,
    )

    def frame(vbase):
        return np.full((8, 8), vbase, np.uint8)

    rows = []
    # clip "drift": values creep by 1 per frame (same bin mostly)
    for f in range(6):
        rows.append(("drift", f, "rawz",
                     bytearray(imagecodec.encode_rawz(frame(100 + f)))))
    # clip "cut": jumps from bin 2 to bin 13 at frame 3
    for f in range(6):
        v = 40 if f < 3 else 210
        rows.append(("cut", f, "rawz",
                     bytearray(imagecodec.encode_rawz(frame(v)))))
    df = spark.createDataFrame(
        rows, "clip_id string, frame_idx long, fmt string, bytes binary"
    )
    got = {
        (r["clip_id"], r["frame_idx"]): (r["l1"], r["is_cut"])
        for r in shot_detect(df, thresh=40).collect()
    }
    # replay
    pix = {(c, f): bytes_px for c, f, _, bytes_px in rows}
    for (c, f) in pix:
        if f == 0:
            assert (c, 0) not in got
            continue
        h0 = [0] * SHOT_BINS
        h1 = [0] * SHOT_BINS
        v_prev = 100 + (f - 1) if c == "drift" else (40 if f - 1 < 3 else 210)
        v_cur = 100 + f if c == "drift" else (40 if f < 3 else 210)
        h0[v_prev // SHOT_BINS] = 64
        h1[v_cur // SHOT_BINS] = 64
        l1 = sum(abs(a - b) for a, b in zip(h0, h1))
        assert got[(c, f)] == (l1, l1 >= 40), (c, f)
    assert got[("cut", 3)][1] is True
    assert not any(v[1] for k, v in got.items() if k[0] == "drift")

    duck = duckdb.connect()
    px_rows = []
    for (c, f), _ in pix.items():
        v = 100 + f if c == "drift" else (40 if f < 3 else 210)
        for p in range(64):
            px_rows.append((c, f, v))
    duck.execute("CREATE TABLE sdp (clip_id VARCHAR, frame_idx BIGINT, v BIGINT)")
    duck.executemany("INSERT INTO sdp VALUES (?,?,?)", px_rows)
    twin = {
        (r[0], r[1]): (r[2], r[3])
        for r in duck.sql(shot_detect_sql("SELECT * FROM sdp", thresh=40)).fetchall()
    }
    assert twin == got


def test_keyframe_select_shots_and_sharpest_and_twin(spark):
    """A two-shot clip (planted cut) yields shots {0,1} partitioned at
    the cut; within each shot the frame with the planted extra texture
    (strictly larger L1 gradient) wins; scalar gradient replay; twin
    bit-identical."""
    import duckdb

    from osm2geojson_spark.functions import imagecodec as IC
    from osm2geojson_spark.operators.multimodal import (
        keyframe_select,
        keyframe_select_sql,
    )

    H = W = 8
    frames, px_rows = [], []
    # clip with a hard cut at frame 3; frames 1 and 5 get extra texture
    for f in range(6):
        base = 40 if f < 3 else 200
        px = np.full((H, W), base, dtype=np.int64)
        px += (np.arange(W)[None, :] + np.arange(H)[:, None]) % 3
        if f in (1, 5):
            px[::2, ::2] += 40  # checkerboard = big gradient
        px = (px % 251).astype(np.uint8)
        frames.append(("c0", f, "rawz", IC.encode_rawz(px)))
        for y in range(H):
            for x in range(W):
                px_rows.append(("c0", f, y, x, int(px[y, x])))
    df = spark.createDataFrame(
        frames, "clip_id string, frame_idx long, fmt string, bytes binary"
    )
    got = {
        (r["clip_id"], r["shot_id"]): r.asDict()
        for r in keyframe_select(df, thresh=40).collect()
    }

    assert set(got) == {("c0", 0), ("c0", 1)}
    assert got[("c0", 0)]["n_frames"] == 3
    assert got[("c0", 1)]["n_frames"] == 3
    assert got[("c0", 0)]["key_frame_idx"] == 1
    assert got[("c0", 1)]["key_frame_idx"] == 5

    # scalar gradient replay for the winners
    import collections

    pxmap = collections.defaultdict(dict)
    for cid, f, y, x, v in px_rows:
        pxmap[f][(y, x)] = v
    for f, shot in ((1, 0), (5, 1)):
        g = sum(
            abs(pxmap[f][(y, x + 1)] - pxmap[f][(y, x)])
            for y in range(H)
            for x in range(W - 1)
        ) + sum(
            abs(pxmap[f][(y + 1, x)] - pxmap[f][(y, x)])
            for y in range(H - 1)
            for x in range(W)
        )
        assert got[("c0", shot)]["sharp"] == g

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE kpx (clip_id VARCHAR, frame_idx BIGINT, y BIGINT,"
        " x BIGINT, v BIGINT)"
    )
    duck.executemany("INSERT INTO kpx VALUES (?, ?, ?, ?, ?)", px_rows)
    twin = {
        (r[0], r[1]): r
        for r in duck.sql(
            keyframe_select_sql("SELECT * FROM kpx", thresh=40)
        ).fetchall()
    }
    for k, r in got.items():
        assert twin[k] == (
            r["clip_id"], r["shot_id"], r["n_frames"],
            r["key_frame_idx"], r["sharp"],
        )


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


def test_unsharp_stats_matches_direct_and_twin(spark):
    """Unsharp = clamp((512v - conv)>>8): direct NumPy replay + twin;
    a planted dark-pixel-next-to-bright-edge exercises the lo clip."""
    import duckdb

    from osm2geojson_spark.operators.multimodal import (
        GAUSS_K5,
        unsharp_stats,
        unsharp_stats_sql,
    )

    rng = np.random.default_rng(7)
    imgs, want, px_rows = [], {}, []
    mats = []
    for i in range(5):
        w = h = int(rng.integers(6, 13))
        px = rng.integers(0, 256, (h, w)).astype(np.uint8)
        mats.append((f"r{i}", px))
    # planted clip case: black center pixel inside a white field
    forced = np.full((9, 9), 255, np.uint8)
    forced[4, 4] = 0
    mats.append(("clip", forced))
    for iid, px in mats:
        h, w = px.shape
        imgs.append((iid, imagecodec.encode_rawz(px), "rawz"))
        p64 = px.astype(np.int64)
        conv = np.zeros((h - 4, w - 4), dtype=np.int64)
        for dy in range(5):
            for dx in range(5):
                conv += (
                    GAUSS_K5[dy] * GAUSS_K5[dx]
                    * p64[dy : h - 4 + dy, dx : w - 4 + dx]
                )
        raw = (512 * p64[2 : h - 2, 2 : w - 2] - conv) >> 8
        sharp = np.clip(raw, 0, 255)
        want[iid] = (
            sharp.size, int(sharp.sum()), int(sharp.max()),
            int((raw < 0).sum()), int((raw > 255).sum()),
        )
        for yy in range(h):
            for xx in range(w):
                px_rows.append((iid, w, h, xx, yy, int(px[yy, xx])))

    df = spark.createDataFrame(imgs, "image_id string, bytes binary, fmt string")
    got = {
        r["image_id"]: (
            r["n_interior"], r["sharp_sum"], r["sharp_max"],
            r["n_clip_lo"], r["n_clip_hi"],
        )
        for r in unsharp_stats(df).collect()
    }
    assert got == want
    # the black-dot image must clip low (dark pixel oversharpened
    # negative) AND high (bright ring boosted past 255)
    assert got["clip"][3] > 0 and got["clip"][4] > 0

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE upxt (image_id VARCHAR, w INT, h INT, x INT, y INT, v INT)"
    )
    duck.executemany("INSERT INTO upxt VALUES (?, ?, ?, ?, ?, ?)", px_rows)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(unsharp_stats_sql("SELECT * FROM upxt")).fetchall()
    }
    assert twin == want


def test_bilateral_stats_edge_preservation_and_twin(spark):
    """Bilateral vs direct replay; a hard step edge must smooth LESS
    than the same-contrast image under a plain binomial average."""
    import duckdb

    from osm2geojson_spark.operators.multimodal import (
        BILAT_WR,
        BILAT_WS,
        bilateral_stats,
        bilateral_stats_sql,
    )

    rng = np.random.default_rng(11)
    mats = [(f"r{i}", rng.integers(0, 256, (9, 9)).astype(np.uint8)) for i in range(4)]
    step = np.zeros((9, 9), np.uint8)
    step[:, 5:] = 250  # hard vertical edge
    mats.append(("step", step))

    def direct(px):
        p = px.astype(np.int64)
        h, w = p.shape
        ctr = p[1 : h - 1, 1 : w - 1]
        num = np.zeros_like(ctr)
        den = np.zeros_like(ctr)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                nb = p[1 + dy : h - 1 + dy, 1 + dx : w - 1 + dx]
                wgt = BILAT_WS[dy + 1][dx + 1] * np.array(BILAT_WR)[np.abs(nb - ctr)]
                num += wgt * nb
                den += wgt
        o = num // den
        return (
            o.size, int(o.sum()), int(o.max()), int(np.abs(o - ctr).sum()),
        )

    imgs = [(iid, imagecodec.encode_rawz(px), "rawz") for iid, px in mats]
    px_rows = [
        (iid, px.shape[1], px.shape[0], xx, yy, int(px[yy, xx]))
        for iid, px in mats
        for yy in range(px.shape[0])
        for xx in range(px.shape[1])
    ]
    df = spark.createDataFrame(imgs, "image_id string, bytes binary, fmt string")
    got = {
        r["image_id"]: (r["n_interior"], r["out_sum"], r["out_max"], r["diff_sum"])
        for r in bilateral_stats(df).collect()
    }
    assert got == {iid: direct(px) for iid, px in mats}
    # edge preservation: the step image barely changes (only the LUT
    # tail lets any cross-edge mass leak) — diff_sum stays tiny vs what
    # a plain 3x3 binomial average would do (edge column would move by
    # ~(250/16)*4 per pixel = huge)
    assert got["step"][3] <= 9 * 7  # near-zero smoothing across the edge

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE bpxt (image_id VARCHAR, w INT, h INT, x INT, y INT, v INT)"
    )
    duck.executemany("INSERT INTO bpxt VALUES (?, ?, ?, ?, ?, ?)", px_rows)
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(bilateral_stats_sql("SELECT * FROM bpxt")).fetchall()
    }
    assert twin == got


def test_undistort_stats_scalar_replay_and_identity_center(spark):
    """Radial model vs scalar replay; the exact center pixel of an odd
    image maps to itself (r2=0), edges push out of bounds."""
    import duckdb
    import math

    from osm2geojson_spark.operators.multimodal import (
        UNDIST_FP,
        UNDIST_KDEN,
        undistort_stats,
        undistort_stats_sql,
    )

    rng = np.random.default_rng(5)
    mats = [(f"r{i}", rng.integers(0, 256, (11, 11)).astype(np.uint8)) for i in range(4)]

    def brute(px):
        h, w = px.shape
        n_oob = 0
        tot = 0
        mx = 0
        for y in range(h):
            for x in range(w):
                dx2 = 2 * x - (w - 1)
                dy2 = 2 * y - (h - 1)
                r2 = dx2 * dx2 + dy2 * dy2
                fq = UNDIST_FP + (r2 * UNDIST_FP) // UNDIST_KDEN
                sx = math.floor(
                    (math.floor(dx2 * fq / UNDIST_FP) + (w - 1)) / 2.0
                )
                sy = math.floor(
                    (math.floor(dy2 * fq / UNDIST_FP) + (h - 1)) / 2.0
                )
                if 0 <= sx < w and 0 <= sy < h:
                    v = int(px[sy, sx])
                    tot += v
                    mx = max(mx, v)
                else:
                    n_oob += 1
        return px.size, n_oob, tot, mx

    imgs = [(iid, imagecodec.encode_rawz(px), "rawz") for iid, px in mats]
    df = spark.createDataFrame(imgs, "image_id string, bytes binary, fmt string")
    got = {
        r["image_id"]: (r["n_px"], r["n_oob"], r["out_sum"], r["out_max"])
        for r in undistort_stats(df).collect()
    }
    assert got == {iid: brute(px) for iid, px in mats}
    # mild barrel on an 11x11: the extreme corners push out of range
    assert all(v[1] > 0 for v in got.values())

    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE udpt (image_id VARCHAR, w INT, h INT, x INT, y INT, v INT)"
    )
    duck.executemany(
        "INSERT INTO udpt VALUES (?, ?, ?, ?, ?, ?)",
        [
            (iid, px.shape[1], px.shape[0], xx, yy, int(px[yy, xx]))
            for iid, px in mats
            for yy in range(px.shape[0])
            for xx in range(px.shape[1])
        ],
    )
    twin = {
        r[0]: tuple(r[1:])
        for r in duck.sql(undistort_stats_sql("SELECT * FROM udpt")).fetchall()
    }
    assert twin == got


