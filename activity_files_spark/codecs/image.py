"""Pure-numpy image codecs + metrics for the image+caption table
(BASELINE.json input_hint: (image_id, bytes, w, h, fmt, caption, phash)).

No image libraries exist in this container (no PIL/cv2), so:

- **bmp**: real 24-bit uncompressed BMP (BITMAPINFOHEADER, BGR bottom-up,
  4-byte row padding) — lossless, readable by any standard tool.
- **png**: real 8-bit RGB PNG (zlib, filter 0) — lossless, standards-valid
  (checked against the PNG spec CRC/chunk layout).
- **gif**: real GIF89a (dictionary LZW, sub-block framing — see
  :mod:`activity_files_spark.codecs.gif`) for the gray-palette tier,
  where palette indexing is exact; color input raises rather than
  quantizing.
- **jpeg**: REAL baseline JPEG (ITU T.81 SOF0, Annex-K tables — see
  :mod:`activity_files_spark.codecs.jpeg`) at quality 98 / 4:4:4, which
  holds the pipeline's PSNR >= 40 dB lossy invariant even on the
  adversarial sawtooth fixtures (measured worst case 43.0 dB): a standard
  JFIF bitstream any external decoder can read.

Metrics:
- :func:`psnr_db` — peak signal-to-noise ratio over uint8 pixels.
- :func:`phash64` — 64-bit perceptual hash (32x32 grayscale -> 2D DCT-II ->
  low-frequency 8x8 block -> median threshold), pure numpy, deterministic.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


# ------------------------------------------------------------------ BMP

def encode_bmp(px: np.ndarray) -> bytes:
    """px: (h, w, 3) uint8 RGB -> 24-bit BMP bytes."""
    h, w, _ = px.shape
    row_size = (w * 3 + 3) & ~3
    img_size = row_size * h
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + img_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    bgr = px[::-1, :, ::-1]  # bottom-up, BGR
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + info + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", data, 10)[0]
    w, h = struct.unpack_from("<ii", data, 18)
    bpp = struct.unpack_from("<H", data, 28)[0]
    if bpp != 24:
        raise ValueError(f"unsupported BMP bpp={bpp}")
    row_size = (w * 3 + 3) & ~3
    arr = np.frombuffer(data, dtype=np.uint8, count=row_size * abs(h), offset=offset)
    rows = arr.reshape(abs(h), row_size)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR -> RGB


# ------------------------------------------------------------------ PNG

def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(px: np.ndarray) -> bytes:
    """px: (h, w, 3) uint8 RGB -> 8-bit truecolor PNG (filter 0)."""
    h, w, _ = px.shape
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), px.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        sig
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bit_depth, color_type = struct.unpack_from(">IIBB", payload)
            if bit_depth != 8 or color_type != 2:
                raise ValueError("only 8-bit RGB PNG supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    filters = raw[:, 0]
    # fast path: filter 0 everywhere (what our encoder emits) — one uint8
    # copy, no int32 inflation, no per-row python (the unfilter loop was the
    # memory-traffic hot spot of the whole validate kernel)
    if not filters.any():
        return raw[:, 1:].reshape(h, w, 3).copy()
    px = raw[:, 1:].reshape(h, w, 3).astype(np.int32)
    # support filter types 0 (None), 1 (Sub), 2 (Up) — we emit 0 only, but a
    # spec-conformant reader tolerates the common ones
    out = np.zeros_like(px)
    for r in range(h):
        f = filters[r]
        if f == 0:
            out[r] = px[r]
        elif f == 1:
            acc = px[r].copy()
            for c in range(1, w):
                acc[c] = (acc[c] + acc[c - 1]) & 0xFF
            out[r] = acc
        elif f == 2:
            out[r] = (px[r] + out[r - 1]) & 0xFF
        else:
            raise ValueError(f"unsupported PNG filter {f}")
    return out.astype(np.uint8)


# ------------------------------------------------------------------ "jpeg" slot

JPEG_QUALITY = 98  # 4:4:4 at q98: worst measured PSNR 43.0 dB on the
# adversarial sawtooth fixtures — the >= 40 dB gate holds with ~3 dB margin


def encode_jpeg(px: np.ndarray) -> bytes:
    """Real baseline JPEG (T.81 SOF0) — see codecs/jpeg.py."""
    from activity_files_spark.codecs.jpeg import encode_jpeg as _enc

    return _enc(px, quality=JPEG_QUALITY, subsampling="444")


def decode_jpeg(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JFIF bitstream")
    from activity_files_spark.codecs.jpeg import decode_jpeg as _dec

    return _dec(data)


# ------------------------------------------------------------------ dispatch

def encode(px: np.ndarray, fmt: str) -> bytes:
    if fmt == "bmp":
        return encode_bmp(px)
    if fmt == "png":
        return encode_png(px)
    if fmt == "jpeg":
        return encode_jpeg(px)
    if fmt == "gif":
        from activity_files_spark.codecs.gif import encode_gif

        return encode_gif(px)  # grayscale tier; color raises (no quantizer)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "bmp":
        return decode_bmp(data)
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        return decode_jpeg(data)
    if fmt == "gif":
        from activity_files_spark.codecs.gif import decode_gif

        return decode_gif(data)
    raise ValueError(f"unknown fmt {fmt!r}")


# gif is lossless for the gray-palette tier the encoder accepts
LOSSLESS_FMTS = {"png", "bmp", "gif"}


# ------------------------------------------------------------------ metrics

def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR over uint8 pixel arrays; inf for identical.

    The squared-error sum runs in exact integer arithmetic (int16 diff,
    int32 squares, int64 sum — 8x less memory traffic than float64 temps;
    exact for any image under 2^53 total error, so the resulting mse is the
    mathematically exact value)."""
    diff = a.astype(np.int16) - b.astype(np.int16)
    sq = diff.astype(np.int32)
    mse = float(np.sum(sq * sq, dtype=np.int64)) / diff.size
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def _dct_matrix(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


_DCT32 = _dct_matrix(32)


# bumped when block-mean arithmetic changes in a way that can move stored
# phash values by an ulp (cached bench image tables key on it); v3 = real
# JPEG in the jpeg slot + smooth representative-tier pixels
PHASH_VERSION = 3


def _resize_area(gray: np.ndarray, size: int = 32) -> np.ndarray:
    """Deterministic area-average resize to size x size (float64).

    Divisible dimensions (every real bench/corpus tier: 256x192 etc.) take
    the direct reshape block-sum — ~5x the integral-image path and MORE
    accurate (no large-cancellation subtraction); ragged dimensions keep
    the integral-image gather."""
    h, w = gray.shape
    if h % size == 0 and w % size == 0:
        bh, bw = h // size, w // size
        blocks = gray.astype(np.float64).reshape(size, bh, size, bw)
        return blocks.sum(axis=(1, 3)) / float(bh * bw)
    ys = (np.arange(size + 1) * h / size).astype(np.int64)
    xs = (np.arange(size + 1) * w / size).astype(np.int64)
    ys = np.clip(ys, 0, h)
    xs = np.clip(xs, 0, w)
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    # integral image for exact block means; fully vectorized gather
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = np.cumsum(np.cumsum(gray.astype(np.float64), 0), 1)
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    return (
        ii[np.ix_(y1, x1)] - ii[np.ix_(y0, x1)] - ii[np.ix_(y1, x0)] + ii[np.ix_(y0, x0)]
    ) / area


def phash64(px: np.ndarray) -> int:
    """64-bit perceptual hash: grayscale -> 32x32 area resize -> 2D DCT-II ->
    top-left 8x8 low-frequency block (DC excluded from the median) ->
    bit i set iff coeff > median. Signed int64 (two's complement) so the
    value fits the table's int64 phash column."""
    gray = (
        0.299 * px[:, :, 0].astype(np.float64)
        + 0.587 * px[:, :, 1].astype(np.float64)
        + 0.114 * px[:, :, 2].astype(np.float64)
    )
    small = _resize_area(gray, 32)
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].flatten()
    med = np.median(block[1:])
    bits = block > med
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    if v >= 1 << 63:
        v -= 1 << 64
    return v
