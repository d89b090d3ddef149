"""Image codecs + synthetic table + tiling pipeline.

Invariants from BASELINE.json input_hint: decoded-pixel allclose (exact for
lossless, PSNR >= 40 dB for the lossy slot), caption equality, phash
equality; tile assignment must equal the pure-python quadkey golden at every
ladder resolution.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from activity_files_spark.codecs.image import (
    decode,
    decode_bmp,
    decode_jpeg,
    decode_png,
    encode,
    encode_bmp,
    encode_jpeg,
    encode_png,
    phash64,
    psnr_db,
)
from activity_files_spark.data.images import (
    caption_for,
    image_index,
    make_image_row,
    pixels_for,
    synth_images,
)
from activity_files_spark.functions.quadkey import cell_id_py, quadkey_py
from activity_files_spark.operators.tiling import (
    salted_repartition,
    tile_assign,
    tile_histogram,
    validate_images,
)


def rand_px(h, w, seed=7):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def test_bmp_roundtrip_exact():
    for h, w in [(16, 16), (48, 64), (5, 7)]:  # odd width exercises padding
        px = rand_px(h, w)
        assert np.array_equal(decode_bmp(encode_bmp(px)), px)


def test_png_roundtrip_exact():
    for h, w in [(16, 16), (48, 64), (3, 5)]:
        px = rand_px(h, w)
        data = encode_png(px)
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        assert np.array_equal(decode_png(data), px)


def test_jpeg_lossy_psnr_gate():
    px = rand_px(48, 64)
    data = encode_jpeg(px)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"  # real JFIF
    got = decode_jpeg(data)
    p = psnr_db(px, got)
    assert 40.0 <= p < 65.0  # lossy but above the invariant gate
    # deterministic: same input -> same bytes
    assert encode_jpeg(px) == encode_jpeg(px)


def test_jpeg_garbage_app0_raises():
    with pytest.raises((ValueError, NotImplementedError)):
        decode_jpeg(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    with pytest.raises(ValueError):  # no SOI marker: not a JFIF bitstream
        decode_jpeg(b"FAKEJPG1" + b"\x00" * 32)


def test_psnr_identical_inf():
    px = rand_px(8, 8)
    assert psnr_db(px, px) == float("inf")


def test_phash_properties():
    px = rand_px(32, 32, seed=1)
    h1 = phash64(px)
    assert h1 == phash64(px.copy())  # deterministic
    assert isinstance(h1, int) and -(1 << 63) <= h1 < (1 << 63)
    # small perturbation -> small hamming distance; different image -> large
    noisy = px.astype(np.int16) + np.random.default_rng(2).integers(-4, 5, px.shape)
    noisy = np.clip(noisy, 0, 255).astype(np.uint8)
    other = rand_px(32, 32, seed=99)
    ham = lambda a, b: bin((a ^ b) & ((1 << 64) - 1)).count("1")  # noqa: E731
    assert ham(h1, phash64(noisy)) <= 16
    assert ham(h1, phash64(other)) >= 20


def test_make_image_row_golden():
    row = make_image_row(0)
    assert row["image_id"] == "img_000000000000"
    assert (row["w"], row["h"], row["fmt"]) == (16, 16, "png")
    assert row["caption"] == f"caption for img_000000000000 at cell {quadkey_py(40.0, -105.0, 12)}"
    px = decode(row["bytes"], row["fmt"])
    assert np.array_equal(px, pixels_for(0, 16, 16))
    assert row["phash"] == phash64(px)
    assert image_index(row["image_id"]) == 0
    # lossy row decodes within gate
    row2 = make_image_row(2)
    assert row2["fmt"] == "jpeg"
    px2 = decode(row2["bytes"], "jpeg")
    assert psnr_db(px2, pixels_for(2, row2["w"], row2["h"])) >= 40.0


def test_synth_images_spark_and_validate(spark):
    imgs = synth_images(spark, 30, partitions=4)
    diag = validate_images(imgs).collect()
    assert len(diag) == 30
    bad = [d for d in diag if not d["ok"]]
    assert bad == []
    by_fmt = {}
    for d in diag:
        by_fmt.setdefault(d["fmt"], []).append(d)
    assert set(by_fmt) == {"png", "bmp", "jpeg"}
    assert all(d["psnr_db"] >= 40.0 for d in by_fmt["jpeg"])


def test_validate_catches_corruption(spark):
    imgs = synth_images(spark, 6, partitions=2)
    # corrupt captions for one row
    bad = imgs.withColumn(
        "caption",
        F.when(F.col("image_id") == "img_000000000003", F.lit("wrong")).otherwise(
            F.col("caption")
        ),
    )
    diag = {d["image_id"]: d for d in validate_images(bad).collect()}
    assert not diag["img_000000000003"]["caption_ok"]
    assert diag["img_000000000003"]["pixels_ok"]  # pixels untouched
    assert all(d["ok"] for k, d in diag.items() if k != "img_000000000003")


def test_tile_assign_matches_golden(spark):
    imgs = synth_images(spark, 20, partitions=2)
    tiles = tile_assign(imgs, resolutions=[8, 10, 12]).collect()
    assert len(tiles) == 60  # 20 images x 3 resolutions
    for t in tiles:
        i = image_index(t["image_id"])
        lat = 40.0 + (i % 1000) * 0.0005
        lon = -105.0 - (i % 1000) * 0.0005
        assert t["cell_id"] == cell_id_py(lat, lon, t["zoom"]), t
        assert t["quadkey"] == quadkey_py(lat, lon, t["zoom"]), t
    # ladder property: z=10 quadkey is a prefix of z=12
    by_img = {}
    for t in tiles:
        by_img.setdefault(t["image_id"], {})[t["zoom"]] = t["quadkey"]
    for qks in by_img.values():
        assert qks[12].startswith(qks[10]) and qks[10].startswith(qks[8])


def test_tile_histogram_and_salting(spark):
    imgs = synth_images(spark, 50, partitions=4)
    tiles = tile_assign(imgs, resolutions=[8])
    hist = tile_histogram(tiles).collect()
    assert sum(r["n_images"] for r in hist) == 50
    salted = salted_repartition(tiles, "cell_id", 8, "image_id", n_partitions=8)
    assert salted.count() == 50  # salting never changes row counts
    assert "_salt" in salted.columns


def test_resize_and_features(spark):
    from activity_files_spark.operators.tiling import image_features, resize_images
    from activity_files_spark.codecs.image import decode_png
    from activity_files_spark.data.images import image_index, pixels_for

    imgs = synth_images(spark, 9, partitions=2)
    resized = {r["image_id"]: r for r in resize_images(imgs, size=16).collect()}
    assert len(resized) == 9
    import numpy as np

    r0 = resized["img_000000000000"]
    px = decode_png(bytes(r0["png"]))
    assert px.shape == (16, 16, 3)
    # 16x16 source resized to 16x16 is the identity (area avg of 1x1 blocks)
    assert np.array_equal(px, pixels_for(0, 16, 16))

    feats = {r["image_id"]: r for r in image_features(imgs).collect()}
    f0 = feats["img_000000000000"]
    ref = pixels_for(0, 16, 16).astype(float)
    assert abs(f0["mean_r"] - ref[:, :, 0].mean()) < 1e-9
    assert f0["std_gray"] > 0


def test_skew_safe_histogram_pathological_cell(spark):
    """90% of points in ONE cell: the salted two-phase rollup spreads the
    hot cell across salt_buckets partial groups and still returns exactly
    the same histogram as the direct rollup."""
    from activity_files_spark.operators.tiling import skew_safe_histogram

    n = 5000
    # 90% of ids at one location (one hot cell), the rest spread out
    pts = spark.range(n).selectExpr(
        "concat('img_', id) AS image_id",
        "CASE WHEN id % 10 < 9 THEN 40.0 ELSE 40.0 + (id % 97) * 0.01 END AS lat",
        "CASE WHEN id % 10 < 9 THEN -105.0 ELSE -105.0 - (id % 89) * 0.01 END AS lon",
    )
    tiles = tile_assign(pts, resolutions=[12])
    direct = {(r["zoom"], r["cell_id"]): r["n_images"] for r in tile_histogram(tiles).collect()}
    salted = {(r["zoom"], r["cell_id"]): r["n_images"] for r in
              skew_safe_histogram(tiles, salt_buckets=16).collect()}
    assert salted == direct
    hot = max(direct.values())
    assert hot >= 0.9 * n * 0.99  # the skew really exists
    # phase-1 partials spread the hot cell across ~16 groups
    from pyspark.sql import functions as F

    partials = (
        tiles.withColumn("_salt", F.pmod(F.hash(F.col("image_id")), F.lit(16)))
        .groupBy("zoom", "cell_id", "_salt").count()
    )
    hot_parts = partials.groupBy("zoom", "cell_id").count().agg(F.max("count")).collect()[0][0]
    assert hot_parts == 16
