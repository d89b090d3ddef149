"""Raster tiling pipeline over the image+caption table (north rule).

Stages:
- :func:`tile_assign` — res-ladder tile assignment: each image lands in
  exactly one cell per resolution; the ladder is emitted as exploded
  (image_id, zoom, cell_id, quadkey) rows. Mercator trig runs ONCE per row
  (shared y01 projection), each extra resolution is two multiplies+floors —
  the plan stays in whole-stage codegen.
- :func:`validate_images` — per-row invariants (input_hint): decoded-pixel
  allclose (exact for lossless fmts, PSNR >= 40 dB for lossy), caption
  equality, phash equality. The numpy decode body is
  :func:`validate_images_kernel`; ``validate_images`` wraps it in one
  mapInPandas (no per-row Python driver logic).
- :func:`salted_repartition` — explicit skew handling for dense cells:
  appends a deterministic salt derived from a uniqueness column and
  repartitions on (key, salt); AQE skew-join config in session.py is the
  second line of defense.

At 10^12 rows the tile_assign output is written partitioned by
(zoom, cell prefix) so downstream PIP/kNN joins are co-located.

Kernel/wrapper split: ``validate_images`` and ``image_channel_stats`` are
one-line DataFrame wrappers, ``map_kernels(df, <name>_kernel(...))``, over
:class:`~activity_files_spark.operators.kernels.Kernel` factories. A query
that decodes rows straight out of a Python generator (data/images.py's
``synth_images(..., then=[...])``) chains the kernel behind it, so
generator and validator share one Python worker per task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from activity_files_spark.codecs.image import LOSSLESS_FMTS, decode, phash64, psnr_db
from activity_files_spark.functions.quadkey import (
    mercator_xy01_col,
    quadkey_from_cell_id_col,
    tile_index_col,
)
from activity_files_spark.operators.kernels import Kernel, map_kernels

PSNR_GATE_DB = 40.0


def ladder_cell_ids(lat, lon, resolutions: list[int]) -> list:
    """Packed cell-id Columns for every resolution from ONE projection."""
    x01, y01 = mercator_xy01_col(lat, lon)
    return [
        F.shiftleft(tile_index_col(x01, z), z).bitwiseOR(tile_index_col(y01, z))
        for z in resolutions
    ]


def tile_assign(
    df: DataFrame,
    resolutions: list[int] = (8, 10, 12),
    id_col: str = "image_id",
    lat: str = "lat",
    lon: str = "lon",
    with_quadkey: bool = True,
    extra_cols: tuple = (),
) -> DataFrame:
    """Explode each row to its res-ladder cells: (id, zoom, cell_id
    [, quadkey][, extra_cols...]). ``extra_cols`` carry through the explode
    (e.g. a geofence label from an upstream PIP join) so fused
    tile+join plans keep a single pass."""
    cells = ladder_cell_ids(F.col(lat), F.col(lon), list(resolutions))
    ladder = F.array(
        *[
            F.struct(F.lit(z).alias("zoom"), c.alias("cell_id"))
            for z, c in zip(resolutions, cells)
        ]
    )
    keep = [F.col(c) for c in extra_cols]
    out = (
        df.select(F.col(id_col), *keep, F.explode(ladder).alias("t"))
        .select(id_col, *extra_cols, F.col("t.zoom").alias("zoom"),
                F.col("t.cell_id").alias("cell_id"))
    )
    if with_quadkey:
        # zoom values are disjoint, so a when-chain dispatches each exploded
        # row to the right fixed-z string builder (still pure codegen)
        qk = None
        for z in resolutions:
            branch = quadkey_from_cell_id_col(F.col("cell_id"), z)
            qk = branch if qk is None else F.when(F.col("zoom") == z, branch).otherwise(qk)
        out = out.withColumn("quadkey", qk)
    return out


def validate_images(images: DataFrame, passthrough: tuple = ()) -> DataFrame:
    """Per-row invariant check (input_hint): :func:`validate_images_kernel`
    over ``images`` in one mapInPandas."""
    return map_kernels(images, validate_images_kernel(images.schema, passthrough))


def validate_images_kernel(input_schema, passthrough: tuple = ()) -> Kernel:
    """Per-row invariant check of image rows with ``input_schema`` (a
    StructType or DDL string): yields diagnostics (image_id, fmt, psnr_db,
    pixels_ok, caption_ok, phash_ok, ok [, passthrough...]).

    Arrow kernel: regenerates the expected pixels from the row index encoded
    in image_id, decodes `bytes`, and checks exact equality (lossless) or
    PSNR >= 40 dB (lossy), caption equality, and phash equality.
    ``passthrough`` columns (e.g. lat/lon) are carried to the output so a
    downstream tile/PIP stage consumes the validated rows without a join —
    the fused shape of the north-star pipeline (decode+invariants and
    tiling in one pass over the scan)."""
    from activity_files_spark.data.images import (
        caption_for,
        image_index,
        pixels_for,
    )

    if isinstance(input_schema, str):
        input_schema = StructType.fromDDL(input_schema)
    missing = [c for c in passthrough if c not in input_schema.names]
    if missing:
        raise ValueError(
            f"validate_images passthrough columns not on the input: {missing} "
            f"(have {input_schema.names})"
        )
    extra = list(passthrough)
    schema = (
        "image_id string, fmt string, psnr_db double, pixels_ok boolean, "
        "caption_ok boolean, phash_ok boolean, ok boolean"
        + "".join(f", {c} {input_schema[c].dataType.simpleString()}" for c in extra)
    )

    def kernel(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                i = image_index(row.image_id)
                px = decode(bytes(row.bytes), row.fmt)
                ref = pixels_for(i, row.w, row.h)
                if row.fmt in LOSSLESS_FMTS:
                    p = float("inf") if np.array_equal(px, ref) else psnr_db(px, ref)
                    pixels_ok = bool(np.array_equal(px, ref))
                else:
                    p = psnr_db(px, ref)
                    pixels_ok = p >= PSNR_GATE_DB
                caption_ok = row.caption == caption_for(i)
                phash_ok = int(row.phash) == phash64(px)
                rec = {
                    "image_id": row.image_id,
                    "fmt": row.fmt,
                    "psnr_db": p if np.isfinite(p) else 99.0,
                    "pixels_ok": pixels_ok,
                    "caption_ok": caption_ok,
                    "phash_ok": phash_ok,
                    "ok": pixels_ok and caption_ok and phash_ok,
                }
                for c in extra:
                    rec[c] = getattr(row, c)
                recs.append(rec)
            yield pd.DataFrame(recs)

    return Kernel(kernel, schema)


def image_channel_stats(images: DataFrame) -> DataFrame:
    """Per-(image, channel) histogram statistics of image rows:
    :func:`image_channel_stats_kernel` in one mapInPandas."""
    return map_kernels(images, image_channel_stats_kernel())


def image_channel_stats_kernel() -> Kernel:
    """Per-(image, channel) histogram statistics from DECODED pixels:
    (image_id, channel, n_px, n_distinct, val_sum, min_val, max_val,
    mode_val, mode_n) — mode ties break to the smallest value so the row
    is deterministic. One np.bincount per channel inside the Arrow kernel;
    the per-row outputs are tiny, so at corpus scale the job is a pure
    map (scan-bound), no shuffle until whatever rollup the caller adds.

    Feed it lossless rows (png/bmp): the stats then pin the whole
    encode->bytes->decode chain against a closed-form oracle (the synth
    sawtooth is exact modular arithmetic a SQL twin can replay)."""
    schema = (
        "image_id string, channel int, n_px long, n_distinct long, "
        "val_sum long, min_val int, max_val int, mode_val int, mode_n long"
    )

    def kernel(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                px = decode(bytes(row.bytes), row.fmt)
                for c in range(3):
                    hist = np.bincount(px[:, :, c].ravel(), minlength=256)
                    nz = np.flatnonzero(hist)
                    mode_val = int(nz[np.argmax(hist[nz])])  # argmax: first max
                    recs.append(
                        {
                            "image_id": row.image_id,
                            "channel": c,
                            "n_px": int(hist.sum()),
                            "n_distinct": int(len(nz)),
                            "val_sum": int((hist[nz] * nz).sum()),
                            "min_val": int(nz[0]),
                            "max_val": int(nz[-1]),
                            "mode_val": mode_val,
                            "mode_n": int(hist[mode_val]),
                        }
                    )
            yield pd.DataFrame(recs, columns=[
                "image_id", "channel", "n_px", "n_distinct", "val_sum",
                "min_val", "max_val", "mode_val", "mode_n",
            ])

    return Kernel(kernel, schema)


def gif_roundtrip_stats(ids: DataFrame, id_col: str = "i") -> DataFrame:
    """Drive the GIF89a codec (codecs/gif.py) end-to-end per row index
    ``i``: synthesize the deterministic gray sawtooth
    ``gray(x, y) = (3x + 5y + 7i) mod 256`` at ``w = 24 + (i%5)*8``,
    ``h = 16 + (i%3)*16``, encode it as a REAL GIF bitstream (even rows
    through the dictionary-LZW path, odd rows through the vectorized
    all-literal path — both valid GIF LZW), decode the container back,
    and emit exact pixel aggregates from the DECODED array:

    - ``val_sum``   = Σ gray                      (pins values)
    - ``moment``    = Σ gray * (y*w + x + 1)      (pins POSITIONS — any
      transpose/reorder/off-by-one in the LZW or sub-block walk shifts it)
    - ``lossless``  = decoded == synthesized, bit-for-bit

    The formula is exact modular arithmetic, so a SQL twin replays every
    aggregate with no decoder at all (the same closed-form discipline as
    image_channel_stats); ``lossless`` must come back uniformly TRUE.
    Pure map over Arrow batches — no shuffle, scan-bound at corpus scale.
    """
    from activity_files_spark.codecs.gif import decode_gif, encode_gif

    schema = (
        "image_id string, w int, h int, n_px long, val_sum long, "
        "moment long, n_bytes long, lossless boolean"
    )

    def kernel(batches):
        for pdf in batches:
            recs = []
            for i in pdf[id_col].astype("int64"):
                i = int(i)
                w = 24 + (i % 5) * 8
                h = 16 + (i % 3) * 16
                x = np.arange(w, dtype=np.int64)[None, :]
                y = np.arange(h, dtype=np.int64)[:, None]
                gray = ((3 * x + 5 * y + 7 * i) % 256).astype(np.uint8)
                data = encode_gif(gray, compress=(i % 2 == 0))
                dec = decode_gif(data)
                g2 = dec[:, :, 0]
                ok = bool(
                    np.array_equal(g2, gray)
                    and np.array_equal(dec[:, :, 1], gray)
                    and np.array_equal(dec[:, :, 2], gray)
                )
                pos = (y * w + x + 1).astype(np.int64)
                recs.append(
                    {
                        "image_id": f"gif_{i:06d}",
                        "w": w,
                        "h": h,
                        "n_px": int(w * h),
                        "val_sum": int(g2.astype(np.int64).sum()),
                        "moment": int((g2.astype(np.int64) * pos).sum()),
                        "n_bytes": len(data),
                        "lossless": ok,
                    }
                )
            yield pd.DataFrame(recs, columns=[
                "image_id", "w", "h", "n_px", "val_sum", "moment",
                "n_bytes", "lossless",
            ])

    return ids.mapInPandas(kernel, schema)


def salted_repartition(
    df: DataFrame, key: str, salt_buckets: int, unique_col: str, n_partitions: int | None = None
) -> DataFrame:
    """Deterministic salted repartition for skewed keys: salt = positive hash
    of ``unique_col`` mod buckets; repartition on (key, _salt). Downstream
    per-key aggregations do partial agg per salt then a second (tiny) agg."""
    out = df.withColumn("_salt", F.pmod(F.hash(F.col(unique_col)), F.lit(salt_buckets)))
    if n_partitions:
        return out.repartition(n_partitions, F.col(key), F.col("_salt"))
    return out.repartition(F.col(key), F.col("_salt"))


def resize_images(images: DataFrame, size: int = 32) -> DataFrame:
    """Decode + deterministic area-average resize to size x size, re-encoded
    as PNG (lossless): (image_id, fmt, bytes -> resized png bytes, w, h).
    The resize kernel is the same integral-image area average the pHash
    pipeline uses — real pixels in, real pixels out."""
    import numpy as np
    import pandas as pd

    from activity_files_spark.codecs.image import decode, encode_png
    from activity_files_spark.codecs.image import _resize_area

    schema = "image_id string, png binary, w int, h int"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = decode(bytes(r.bytes), r.fmt)
                chans = [
                    np.clip(_resize_area(px[:, :, c].astype(np.float64), size), 0, 255)
                    for c in range(3)
                ]
                small = np.stack(chans, axis=-1).astype(np.uint8)
                rows.append({"image_id": r.image_id, "png": encode_png(small),
                             "w": size, "h": size})
            yield pd.DataFrame(rows)

    return images.mapInPandas(kernel, schema)


def image_features(images: DataFrame) -> DataFrame:
    """Per-image features over decoded pixels: mean/std per channel + phash.
    The feature-extraction stage of a training-data pipeline."""
    import numpy as np
    import pandas as pd

    from activity_files_spark.codecs.image import decode, phash64

    schema = (
        "image_id string, mean_r double, mean_g double, mean_b double, "
        "std_gray double, phash long"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = decode(bytes(r.bytes), r.fmt).astype(np.float64)
                gray = 0.299 * px[:, :, 0] + 0.587 * px[:, :, 1] + 0.114 * px[:, :, 2]
                rows.append({
                    "image_id": r.image_id,
                    "mean_r": float(px[:, :, 0].mean()),
                    "mean_g": float(px[:, :, 1].mean()),
                    "mean_b": float(px[:, :, 2].mean()),
                    "std_gray": float(gray.std()),
                    "phash": phash64(px.astype(np.uint8)),
                })
            yield pd.DataFrame(rows)

    return images.mapInPandas(kernel, schema)


def tile_histogram(tiles: DataFrame) -> DataFrame:
    """Per (zoom, cell) image counts — the tiling rollup used by bench."""
    return tiles.groupBy("zoom", "cell_id").agg(F.count("*").alias("n_images"))


def skew_safe_histogram(
    tiles: DataFrame,
    salt_buckets: int = 16,
    unique_col: str = "image_id",
) -> DataFrame:
    """Two-phase per-cell rollup for pathologically dense cells (the
    dense-urban-cell case in the north star): phase 1 aggregates per
    (zoom, cell, salt) — the hot cell's rows spread over ``salt_buckets``
    reducers — phase 2 merges the tiny per-salt partials.

    Identical result to :func:`tile_histogram`; use when one cell holds a
    disproportionate share of the table (AQE skew-join handles skewed JOINS
    automatically, but a skewed AGGREGATION key still funnels to one task
    without salting).
    """
    salted = tiles.withColumn(
        "_salt", F.pmod(F.hash(F.col(unique_col)), F.lit(salt_buckets))
    )
    partial = salted.groupBy("zoom", "cell_id", "_salt").agg(
        F.count("*").alias("_n")
    )
    return partial.groupBy("zoom", "cell_id").agg(F.sum("_n").alias("n_images"))
