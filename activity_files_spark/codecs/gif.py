"""Pure-numpy GIF89a codec (CompuServe GIF, the fourth real image
container beside BMP/PNG/baseline-JPEG in :mod:`codecs.image`).

GIF is palette-indexed: a pixel is an index into a <=256-entry color
table, so 8-bit grayscale (palette entry ``i`` = ``(i, i, i)``) round-trips
LOSSLESSLY — that is the tier this pipeline encodes (the same reasoning
the reference applies when it base64-gates binary payloads rather than
re-compressing them: keep the invariant checkable). Color inputs with
more than 256 distinct colors would need quantization (lossy) and are
rejected rather than silently degraded.

Encoder
-------
Two valid-LZW strategies, both producing streams ANY standard decoder
accepts. Each collects its codes and their widths and packs them once,
LSB-first, through the shared packer (:func:`codecs.bits.pack`):

- ``compress=True`` (default for fixtures): the real GIF-variant LZW —
  dictionary build, variable 9->12-bit codes, early-change width bumps,
  clear-on-full. Python dict loop; fine for fixture-sized images.
- ``compress=False`` (the Arrow-batch fast path): the classic
  "uncompressed GIF" technique — every pixel a literal 9-bit code with a
  CLEAR every 253 literals so the dictionary never assigns a code that
  would widen past 9 bits. The code stream is then built by array
  slicing alone — no per-pixel python at all.

Decoder
-------
General GIF-variant LZW (handles dictionary streams, KwKwK self-reference,
deferred clears, 12-bit cap), global AND local color tables, sub-block
reassembly, extension-block skipping. Interlaced images and animation
composition are honest ``NotImplementedError`` boundaries (single-frame
still images are the pipeline's payload; the first image descriptor wins).

Layout references: GIF89a specification (CompuServe, 1990-07-31) —
public format documentation; no reference-repo counterpart exists
(activity_files ships no raster codec at all).
"""

from __future__ import annotations

import struct

import numpy as np

from activity_files_spark.codecs.bits import pack

_MAX_CODE = 4095  # 12-bit GIF LZW ceiling


# ------------------------------------------------------------------ LZW

def _lzw_encode(indices: np.ndarray, min_code_size: int = 8) -> bytes:
    """Real GIF-variant LZW over palette indices (python dict loop); the
    codes and their widths are collected and packed once."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    codes, widths = [clear], [width]
    data = indices.tobytes()
    if not data:
        return pack([clear, eoi], [width, width], lsb_first=True)
    run = data[0:1]
    for i in range(1, len(data)):
        c = data[i : i + 1]
        if run + c in table:
            run += c
            continue
        codes.append(table[run])
        widths.append(width)
        table[run + c] = nxt
        # early-change: the width that can hold code `nxt` applies to the
        # NEXT emitted code as soon as `nxt` is assigned
        if nxt == (1 << width) and width < 12:
            width += 1
        nxt += 1
        if nxt > _MAX_CODE:
            codes.append(clear)
            widths.append(width)
            table = {bytes([j]): j for j in range(clear)}
            nxt = eoi + 1
            width = min_code_size + 1
        run = c
    codes += [table[run], eoi]
    widths += [width, width]
    return pack(codes, widths, lsb_first=True)


def _lzw_encode_literal(indices: np.ndarray, min_code_size: int = 8) -> bytes:
    """'Uncompressed GIF': all-literal codes with periodic CLEARs so the
    code width stays fixed at min_code_size+1 — no per-pixel python."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    flat = indices.astype(np.uint16).ravel()
    # after a CLEAR the decoder assigns a new code per symbol starting at
    # eoi+1; (2^width - 1) - (eoi + 1) + 1 = 253 symbols keep every
    # assigned code (and the widths they imply) strictly below 1<<width
    chunk = (1 << width) - eoi - 2
    # a CLEAR opens the stream and every chunk; an EOI closes it
    codes = np.insert(flat, np.arange(0, max(len(flat), 1), chunk), clear)
    codes = np.append(codes, eoi)
    return pack(codes, np.full(len(codes), width), lsb_first=True)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> np.ndarray:
    """General GIF-variant LZW decode -> uint8 palette indices."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8), bitorder="little")
    out = bytearray()
    pos = 0
    width = min_code_size + 1
    base = [bytes([i]) for i in range(clear)]
    table: list[bytes] = []
    prev: bytes | None = None
    weights = [1 << b for b in range(13)]
    nbits = bits.shape[0]
    while pos + width <= nbits:
        code = 0
        for b in range(width):
            if bits[pos + b]:
                code += weights[b]
        pos += width
        if code == clear:
            table = []
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if code < clear:
            entry = base[code]
        elif code - eoi - 1 < len(table):
            entry = table[code - eoi - 1]
        elif prev is not None and code == eoi + 1 + len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"GIF LZW: code {code} out of range at bit {pos}")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        # early-change mirror: widen when the NEXT assignable code would
        # not fit the current width (12-bit cap, deferred clear allowed)
        if eoi + 1 + len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) >= n_expected:
            break
    if len(out) < n_expected:
        raise ValueError(
            f"GIF LZW: stream ended at {len(out)}/{n_expected} pixels"
        )
    return np.frombuffer(bytes(out[:n_expected]), dtype=np.uint8)


# ------------------------------------------------------------------ GIF

_GRAY_PALETTE = np.repeat(np.arange(256, dtype=np.uint8), 3).tobytes()


def encode_gif(px: np.ndarray, compress: bool = True) -> bytes:
    """(h, w, 3) uint8 with r==g==b (or (h, w) gray) -> GIF89a bytes.

    Grayscale keeps the codec lossless (palette entry i = (i,i,i));
    non-gray input raises ValueError rather than quantizing.
    """
    if px.ndim == 3:
        if px.shape[2] != 3:
            raise ValueError(f"expected 3 channels, got {px.shape[2]}")
        if not (
            np.array_equal(px[:, :, 0], px[:, :, 1])
            and np.array_equal(px[:, :, 1], px[:, :, 2])
        ):
            raise ValueError(
                "GIF tier is palette-lossless grayscale; color input would "
                "need lossy quantization (encode as png/bmp/jpeg instead)"
            )
        gray = px[:, :, 0]
    elif px.ndim == 2:
        gray = px
    else:
        raise ValueError(f"bad pixel array rank {px.ndim}")
    h, w = gray.shape
    if not h or not w:
        raise ValueError("empty image")
    out = bytearray()
    out += b"GIF89a"
    # logical screen: GCT present, 8-bit color resolution, 2^8 entries
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += _GRAY_PALETTE
    # image descriptor at (0,0), no local table, not interlaced
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    out.append(8)  # LZW min code size
    lzw = (
        _lzw_encode(np.ascontiguousarray(gray).ravel())
        if compress
        else _lzw_encode_literal(np.ascontiguousarray(gray))
    )
    for i in range(0, len(lzw), 255):
        blk = lzw[i : i + 255]
        out.append(len(blk))
        out += blk
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> (h, w, 3) uint8 RGB (first image descriptor).

    Malformed/truncated containers raise ValueError (the repo-wide codec
    error contract; cf. codecs/mp4.py); interlace is NotImplementedError.
    """
    try:
        return _decode_gif(data)
    except (IndexError, struct.error) as exc:
        raise ValueError(f"truncated/malformed GIF: {exc}") from exc


def _decode_gif(data: bytes) -> np.ndarray:
    if data[:6] not in (b"GIF89a", b"GIF87a"):
        raise ValueError("not a GIF")
    sw, sh, packed, _bg, _par = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data, dtype=np.uint8, count=n * 3, offset=pos)
        gct = gct.reshape(n, 3)
        pos += n * 3
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer before any image
            break
        if b == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x} at {pos}")
        _, _left, _top, w, h, ipacked = struct.unpack_from("<BHHHHB", data, pos)
        pos += 10
        pal = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            pal = np.frombuffer(
                data, dtype=np.uint8, count=n * 3, offset=pos
            ).reshape(n, 3)
            pos += n * 3
        if ipacked & 0x40:
            raise NotImplementedError("interlaced GIF")
        if pal is None:
            raise ValueError("GIF image with no color table")
        min_code = data[pos]
        pos += 1
        chunks = []
        while data[pos]:
            ln = data[pos]
            chunks.append(data[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(b"".join(chunks), min_code, w * h)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("GIF pixel index outside color table")
        return pal[idx].reshape(h, w, 3)
    raise ValueError("GIF contains no image data")


__all__ = ["encode_gif", "decode_gif"]
