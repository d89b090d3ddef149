"""Deterministic synthetic image+caption table (FIXTURES.md §1).

Schema exactly per BASELINE.json input_hint:
    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long)
plus the implied fixture-grid geolocation (lat, lon) used by tiling/PIP/kNN
so every fixture shares one coordinate frame:
    lat_i = 40.0 + (i % 1000) * 0.0005
    lon_i = -105.0 - (i % 1000) * 0.0005

Every value is a pure function of the row index ``i`` — no wall clock, no
unseeded RNG — so checkpoint/resume tests stay deterministic and the
validation stage can regenerate the expected pixels from ``image_id`` alone.

Generation happens executor-side via ``mapInPandas`` over ``spark.range``
(the body is :func:`synth_images_kernel`):
at 10^12 design scale the generator is just a stand-in for an Iceberg scan,
but the pipeline shape (partitioned source -> Arrow batches) is identical.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from activity_files_spark.codecs.image import decode, encode, phash64
from activity_files_spark.functions.quadkey import quadkey_py
from activity_files_spark.operators.kernels import Kernel, map_kernels

W_CYCLE = (16, 32, 64)
H_CYCLE = (16, 32, 48)
FMT_CYCLE = ("png", "bmp", "jpeg")

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lat double, lon double"
)


def image_meta(i: int) -> tuple[int, int, str, float, float]:
    w = W_CYCLE[i % 3]
    h = H_CYCLE[i % 3]
    fmt = FMT_CYCLE[i % 3]
    lat = 40.0 + (i % 1000) * 0.0005
    lon = -105.0 - (i % 1000) * 0.0005
    return w, h, fmt, lat, lon


SMOOTH_PIXEL_AREA = 16384  # >= 128x128: representative tiers use smooth pixels


def pixels_for(i: int, w: int, h: int) -> np.ndarray:
    """Procedural pixels, deterministic in (i, w, h).

    Two statistics tiers, dispatched on area alone so the generator and the
    validator (which re-derives expected pixels from image_id + stored w/h)
    agree without any side-channel:

    - **small fixtures** (< 128x128): adversarial sawtooth — channel c at
      (x, y) is a small affine fn mod 256. The mod-256 wraps put sharp
      discontinuities everywhere, the worst case for every lossy path
      (the real JPEG codec's PSNR >= 40 dB gate is proven against these).
    - **representative tiers** (>= 128x128, i.e. the bench's hundreds-of-KB
      images): smooth low-frequency sinusoids — the locally-smooth
      statistics real photo corpora have (and the transform-coding model
      JPEG is built on). Phase and frequency vary with the row index so
      phash/near-dup structure stays diverse.
    """
    if w * h >= SMOOTH_PIXEL_AREA:
        return _pixels_smooth(i, w, h)
    xs = (np.arange(w) % 256).astype(np.uint8)
    ys = (np.arange(h) % 256).astype(np.uint8)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c, (cx, cy, ci) in enumerate(((3, 5, 7), (7, 11, 13), (13, 17, 19))):
        out[:, :, c] = (ys * np.uint8(cy))[:, None] + (
            xs * np.uint8(cx) + np.uint8((i * ci) % 256)
        )[None, :]
    return out


def _pixels_smooth(i: int, w: int, h: int) -> np.ndarray:
    """Smooth deterministic pixels: per channel a low-frequency 2D sinusoid
    with i-dependent phase and integer frequencies (vectorized float64 ->
    rounded uint8; no wrap discontinuities)."""
    x = np.arange(w, dtype=np.float64)[None, :] / float(w)
    y = np.arange(h, dtype=np.float64)[:, None] / float(h)
    out = np.empty((h, w, 3), dtype=np.uint8)
    for c, (pf, qf, ph) in enumerate(((2, 3, 0.13), (3, 2, 0.41), (1, 4, 0.71))):
        fx = pf + (i % 4)
        fy = qf + ((i // 4) % 4)
        phase = 2.0 * np.pi * (((i * 2654435761) % 4096) / 4096.0 + ph)
        wave = np.sin(2.0 * np.pi * (fx * x + fy * y) + phase)
        out[:, :, c] = np.clip(np.rint(128.0 + 100.0 * wave), 0, 255).astype(np.uint8)
    return out


def caption_for(i: int) -> str:
    _, _, _, lat, lon = image_meta(i)
    return f"caption for img_{i:012d} at cell {quadkey_py(lat, lon, 12)}"


def make_image_row(i: int, dims: list | None = None) -> dict:
    """One fully-materialized row (golden-path twin of the Spark generator).

    ``dims``: optional [(w, h), ...] cycle overriding the default tiny
    16-64px sizes — bench tables use representative hundreds-of-KB images
    (the shape real 10^12-image corpora have) so per-image decode compute
    dominates fixed per-row overhead. Every invariant (pixels, phash,
    caption) derives from the row itself, so validation is dims-agnostic."""
    w, h, fmt, lat, lon = image_meta(i)
    if dims is not None:
        w, h = dims[i % len(dims)]
    px = pixels_for(i, w, h)
    data = encode(px, fmt)
    # phash is computed from the DECODED pixels so the stored value is the
    # invariant the validation stage re-derives (lossy fmts quantize first)
    ph = phash64(decode(data, fmt))
    return {
        "image_id": f"img_{i:012d}",
        "bytes": data,
        "w": w,
        "h": h,
        "fmt": fmt,
        "caption": caption_for(i),
        "phash": ph,
        "lat": lat,
        "lon": lon,
    }


def image_index(image_id: str) -> int:
    return int(image_id.removeprefix("img_"))


def synth_images(
    spark: SparkSession,
    n: int,
    partitions: int = 32,
    dims: list | None = None,
    then: Sequence[Kernel] = (),
) -> DataFrame:
    """Distributed deterministic image table: n rows, executor-side encode.
    ``dims`` as in :func:`make_image_row`. ``then``: kernels that consume
    the rows in the generator's own mapInPandas (operators/kernels.py), so
    a decode or validate step costs no second Python worker."""
    return map_kernels(
        spark.range(n, numPartitions=partitions), synth_images_kernel(dims), *then
    )


def synth_images_kernel(dims: list | None = None) -> Kernel:
    """IMAGE_SCHEMA rows from a frame of row indices ``id``."""

    def gen(batches):
        for pdf in batches:
            rows = [make_image_row(int(i), dims=dims) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    return Kernel(gen, IMAGE_SCHEMA)
