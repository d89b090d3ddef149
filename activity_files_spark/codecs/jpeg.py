"""Real baseline JPEG (ITU T.81, SOF0 sequential Huffman) in pure numpy.

The ``jpeg`` slot of the image+caption table (BASELINE.json input_hint)
carries real JFIF bitstreams that any standard decoder (libjpeg, PIL,
browsers) can read. No image library exists in this container, so both
directions are implemented from the public spec:

- **Encoder** (:func:`encode_jpeg`): RGB -> JFIF YCbCr (BT.601 full range),
  optional 4:2:0 box subsampling, 8x8 orthonormal DCT (identical to the
  T.81 FDCT definition), Annex-K quantization tables scaled by the public
  IJG quality formula (pure integer arithmetic, so oracles can replay the
  DQT payload in SQL), zigzag, DC-difference + AC run-length coding with
  the Annex-K Huffman tables, and a fully **vectorized bit-packer**: every
  (codeword, amplitude) pair in the scan becomes one (value, bitlength)
  field, and the shared packer (:func:`codecs.bits.pack`, MSB-first, pad
  bit 1) emits the entropy stream without a per-symbol python loop; byte
  stuffing stays here. Optional restart intervals
  (DRI/RSTn) segment the scan exactly as the spec prescribes.
- **Decoder** (:func:`decode_jpeg`): marker walk (APPn/COM tolerated, DQT /
  DHT / SOF0 / DRI / SOS), canonical Huffman tables expanded into 16-bit
  lookup tables (one O(1) table probe per symbol instead of bit-by-bit
  tree walking), per-segment DC predictor reset at RSTn, dequantize +
  inverse zigzag + IDCT vectorized over all blocks of a component at once,
  nearest-neighbour chroma upsampling, YCbCr -> RGB.

Honest boundaries (raise ``NotImplementedError``): progressive (SOF2),
arithmetic coding (SOF9+), 12-bit precision, and component counts other
than 1 or 3 — baseline sequential covers the overwhelming majority of real
JPEG files and everything this pipeline emits.

Reference parity note: the reference repo has no image codecs at all (its
scope is activity files); this module exists for the graft's image axis
(pyspark x image). All constants are public ITU T.81 Annex K values.
"""

from __future__ import annotations

import ctypes
import struct
from collections import Counter
from functools import lru_cache

import numpy as np

from . import _native
from .bits import pack

# ------------------------------------------------------------- constants
# Zigzag order: position k in the scan -> row-major coefficient index.
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
# inverse permutation: row-major coefficient index -> zigzag scan position
INV_ZIGZAG = np.argsort(ZIGZAG)
INV_ZIGZAG.flags.writeable = False

# Annex K.1 / K.2 base quantization tables (row-major).
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 Huffman table specs: (bits[1..16] counts, symbol values).
HUFF_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
HUFF_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
HUFF_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)
HUFF_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)

DEFAULT_QUALITY = 96


def _dct8() -> np.ndarray:
    k = np.arange(8)[:, None]
    i = np.arange(8)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / 16.0) * 0.5
    m[0] *= 1.0 / np.sqrt(2.0)
    return m


_DCT8 = _dct8()  # orthonormal: identical to the T.81 FDCT/IDCT definition


def quant_table(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling — pure integer arithmetic (SQL-replayable)."""
    q = max(1, min(100, int(quality)))
    s = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * s + 50) // 100
    return np.clip(t, 1, 255).astype(np.int64)


# ------------------------------------------------------- color transforms

def _rgb_to_ycbcr(px: np.ndarray) -> list[np.ndarray]:
    r = px[:, :, 0].astype(np.float64)
    g = px[:, :, 1].astype(np.float64)
    b = px[:, :, 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.1687358916 * r - 0.3312641084 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.4186875892 * g - 0.0813124108 * b
    return [np.clip(np.rint(c), 0, 255).astype(np.uint8) for c in (y, cb, cr)]


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64)
    cbf -= 128.0
    crf = cr.astype(np.float64)
    crf -= 128.0
    out = np.empty(y.shape + (3,), dtype=np.float64)
    r, g, b = out[:, :, 0], out[:, :, 1], out[:, :, 2]
    np.multiply(crf, 1.402, out=r)
    r += yf
    np.multiply(cbf, -0.3441362862, out=g)
    g -= 0.7141362862 * crf
    g += yf
    np.multiply(cbf, 1.772, out=b)
    b += yf
    np.rint(out, out=out)
    np.clip(out, 0, 255, out=out)
    return out.astype(np.uint8)


def _box2(plane: np.ndarray) -> np.ndarray:
    """2x2 box average (JFIF-centered chroma siting approximation)."""
    h, w = plane.shape
    ph, pw = (h + 1) & ~1, (w + 1) & ~1
    if (ph, pw) != (h, w):
        plane = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    p = plane.astype(np.uint16).reshape(ph // 2, 2, pw // 2, 2)
    return ((p.sum(axis=(1, 3)) + 2) >> 2).astype(np.uint8)


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = plane.shape
    if (h, w) == (ph, pw):
        return plane
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _blockify(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H,W multiples of 8 -> (nblk, 8, 8) in raster block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def _unblockify(blocks: np.ndarray, bh: int, bw: int) -> np.ndarray:
    return (
        blocks.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
    )


# --------------------------------------------------------------- huffman

@lru_cache(maxsize=64)
def _canonical_codes(bits, values):
    """T.81 C.2: (codes uint32[256], lens uint8[256]) indexed by symbol.
    Cached by the spec tuples (read-only results shared by cache hits)."""
    codes = np.zeros(256, dtype=np.uint32)
    lens = np.zeros(256, dtype=np.uint8)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[k]
            codes[sym] = code
            lens[sym] = length
            code += 1
            k += 1
        code <<= 1
    codes.flags.writeable = False
    lens.flags.writeable = False
    return codes, lens


@lru_cache(maxsize=64)
def _decode_lut(key: tuple) -> np.ndarray:
    """16-bit prefix LUT: next16 -> (length << 8) | symbol; 0 = invalid.

    Cached by the (bits, values) tuples themselves: a corpus encoded with
    one table set (the common case — every baseline encoder ships the
    K.3/K.5 defaults) builds each 64K LUT once per process instead of
    once per image. The returned array is marked read-only because cache
    hits share it."""
    bits, values = key
    lut = np.zeros(1 << 16, dtype=np.uint16)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = values[k]
            start = code << (16 - length)
            lut[start : start + (1 << (16 - length))] = (length << 8) | sym
            code += 1
            k += 1
        code <<= 1
    lut.flags.writeable = False
    return lut


def _size_category(v: np.ndarray) -> np.ndarray:
    """Bit category of each value: exact via frexp on the exact float64."""
    return np.frexp(np.abs(v).astype(np.float64))[1].astype(np.int64)


# ------------------------------------------------------------ interleave

def _component_geometry(h: int, w: int, samplings):
    """Per component: (block rows, block cols, sh, sv) + MCU grid (my, mx)."""
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mx = -(-w // (8 * hmax))
    my = -(-h // (8 * vmax))
    geo = [(my * sv, mx * sh, sh, sv) for sh, sv in samplings]
    return geo, my, mx


@lru_cache(maxsize=64)
def _geometry_plan(h: int, w: int, samplings: tuple):
    """Everything decode_jpeg derives from (h, w, samplings) alone, cached:
    component geometry, per-component stream→raster permutations, and the
    per-MCU component plan. A corpus of same-shaped images (every batch
    pipeline) pays the arange/argsort setup once per shape per process."""
    geo, my, mx = _component_geometry(h, w, samplings)
    sidx, blocks_per_mcu = _stream_indices(geo, mx)
    perms = []
    for sx in sidx:
        sx.flags.writeable = False
        perm = np.argsort(sx, kind="stable")
        perm.flags.writeable = False
        perms.append(perm)
    mcu_plan: list[int] = []
    for ci, (sh, sv) in enumerate(samplings):
        mcu_plan.extend([ci] * (sh * sv))
    mcu_plan_arr = np.asarray(mcu_plan, dtype=np.int32)
    mcu_plan_arr.flags.writeable = False
    return geo, my, mx, tuple(sidx), perms, mcu_plan_arr, blocks_per_mcu


def _stream_indices(geo, mx):
    """Per component, the scan-stream index of each raster-order block."""
    per_mcu = [sh * sv for _, _, sh, sv in geo]
    total = sum(per_mcu)
    base = np.cumsum([0] + per_mcu[:-1])
    out = []
    for (bh, bw, sh, sv), b in zip(geo, base):
        by = np.arange(bh)[:, None]
        bx = np.arange(bw)[None, :]
        mcu = (by // sv) * mx + (bx // sh)
        within = (by % sv) * sh + (bx % sh)
        out.append((mcu * total + b + within).ravel())
    return out, total


# ---------------------------------------------------------------- encode

def _scan_segment(val: np.ndarray, ln: np.ndarray) -> bytes:
    """Entropy-coded segment: MSB-first, 1-padded, 0xFF byte-stuffed."""
    by = np.frombuffer(pack(val, ln, pad=1), dtype=np.uint8)
    stuff = np.flatnonzero(by == 0xFF)
    if len(stuff):
        by = np.insert(by, stuff + 1, 0)
    return by.tobytes()


def _entropy_entries(zz, sidx, dc_codes, dc_lens, ac_codes, ac_lens,
                     blocks_per_mcu, restart_interval):
    """One component's scan entries: (sort key, packed value, bit length).

    Key layout: sidx * 128 + 2 * zigzag_position (DC at 0, EOB at 127) keeps
    every symbol of a block ordered and blocks in scan order; ZRL escapes
    sit at key positions strictly between their neighbours.
    """
    n = zz.shape[0]
    order = np.argsort(sidx, kind="stable")
    zs = zz[order]
    sx = sidx[order].astype(np.int64)

    # DC differences with per-restart-segment predictor reset
    dc = zs[:, 0].astype(np.int64)
    prev = np.concatenate([[0], dc[:-1]])
    if restart_interval:
        seg = (sx // blocks_per_mcu) // restart_interval
        first = np.concatenate([[True], seg[1:] != seg[:-1]])
        prev[first] = 0
    diff = dc - prev
    dsize = _size_category(diff)
    damp = np.where(diff >= 0, diff, diff + (1 << dsize) - 1).astype(np.int64)
    dkey = sx * 128
    dval = (dc_codes[dsize].astype(np.int64) << dsize) | damp
    dlen = dc_lens[dsize].astype(np.int64) + dsize

    # AC run-length symbols
    ac = zs[:, 1:].astype(np.int64)
    flat = ac.ravel()
    pos = np.flatnonzero(flat)
    row = pos // 63
    col = pos % 63  # zigzag position - 1
    prev_col = np.full(len(pos), -1, dtype=np.int64)
    if len(pos) > 1:
        same = row[1:] == row[:-1]
        prev_col[1:] = np.where(same, col[:-1], -1)
    run = col - prev_col - 1
    nzrl = run // 16
    rem = run % 16
    aval_ = flat[pos]
    asize = _size_category(aval_)
    aamp = np.where(aval_ >= 0, aval_, aval_ + (1 << asize) - 1)
    asym = (rem << 4) | asize
    akey = sx[row] * 128 + 2 * (col + 1)
    aval = (ac_codes[asym].astype(np.int64) << asize) | aamp
    alen = ac_lens[asym].astype(np.int64) + asize

    # ZRL escapes (run >= 16): key'd just before their AC symbol
    ztot = int(nzrl.sum())
    if ztot:
        zi = np.repeat(np.arange(len(pos)), nzrl)
        jz = np.arange(ztot) - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
        zkey = akey[zi] - 32 * (nzrl[zi] - jz)
        zval = np.full(ztot, int(ac_codes[0xF0]), dtype=np.int64)
        zlen = np.full(ztot, int(ac_lens[0xF0]), dtype=np.int64)
    else:
        zkey = zval = zlen = np.empty(0, dtype=np.int64)

    # EOB for every block whose last nonzero AC is before position 63
    last = np.full(n, -1, dtype=np.int64)
    if len(pos):
        np.maximum.at(last, row, col)  # col ascends within a row -> max = last
    need = last < 62
    ekey = sx[need] * 128 + 127
    eval_ = np.full(int(need.sum()), int(ac_codes[0x00]), dtype=np.int64)
    elen = np.full(int(need.sum()), int(ac_lens[0x00]), dtype=np.int64)

    key = np.concatenate([dkey, akey, zkey, ekey])
    val = np.concatenate([dval, aval, zval, eval_])
    ln = np.concatenate([dlen, alen, zlen, elen])
    return key, val, ln


def encode_jpeg(
    px: np.ndarray,
    quality: int = DEFAULT_QUALITY,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes.

    ``subsampling``: "444" (default — every pixel keeps full chroma, which
    is what holds the pipeline's PSNR >= 40 dB invariant on adversarial
    images) or "420" (2x2 box-averaged chroma, the common web layout).
    ``restart_interval``: MCUs per restart segment (0 = no DRI/RSTn).
    """
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_jpeg expects (h, w, 3) RGB")
    h, w = px.shape[:2]
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    y, cb, cr = _rgb_to_ycbcr(px)
    if subsampling == "420":
        planes = [y, _box2(cb), _box2(cr)]
        samplings = [(2, 2), (1, 1), (1, 1)]
    else:
        planes = [y, cb, cr]
        samplings = [(1, 1)] * 3

    geo, my, mx, sidx, _perms, _plan, blocks_per_mcu = _geometry_plan(
        h, w, tuple(samplings)
    )
    qluma = quant_table(QUANT_LUMA, quality)
    qchroma = quant_table(QUANT_CHROMA, quality)
    qtabs = [qluma, qchroma, qchroma]

    dc_specs = [HUFF_DC_LUMA, HUFF_DC_CHROMA, HUFF_DC_CHROMA]
    ac_specs = [HUFF_AC_LUMA, HUFF_AC_CHROMA, HUFF_AC_CHROMA]

    keys, vals, lens = [], [], []
    for plane, (bh, bw, _, _), sx, qt, dspec, aspec in zip(
        planes, geo, sidx, qtabs, dc_specs, ac_specs
    ):
        padded = _pad_edge(plane, bh * 8, bw * 8)
        blocks = _blockify(padded).astype(np.float64) - 128.0
        coef = _DCT8 @ blocks @ _DCT8.T  # broadcast matmul over all blocks
        zz = np.rint(
            coef.reshape(-1, 64)[:, ZIGZAG] / qt[ZIGZAG].astype(np.float64)
        ).astype(np.int64)
        dcodes, dlens = _canonical_codes(*dspec)
        acodes, alens = _canonical_codes(*aspec)
        k, v, ln = _entropy_entries(
            zz, sx, dcodes, dlens, acodes, alens, blocks_per_mcu, restart_interval
        )
        keys.append(k)
        vals.append(v)
        lens.append(ln)

    key = np.concatenate(keys)
    val = np.concatenate(vals)
    ln = np.concatenate(lens)
    order = np.argsort(key, kind="stable")
    val = val[order]
    ln = ln[order]
    key = key[order]

    if restart_interval:
        seg = (key // 128) // blocks_per_mcu // restart_interval
        bounds = np.flatnonzero(seg[1:] != seg[:-1]) + 1
        pieces = []
        start = 0
        for i, b in enumerate(list(bounds) + [len(val)]):
            pieces.append(_scan_segment(val[start:b], ln[start:b]))
            if b < len(val):
                pieces.append(bytes([0xFF, 0xD0 + (i % 8)]))
            start = b
        scan = b"".join(pieces)
    else:
        scan = _scan_segment(val, ln)

    # ---- headers
    out = [b"\xff\xd8"]  # SOI
    out.append(
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    )
    for tid, qt in ((0, qluma), (1, qchroma)):
        out.append(
            b"\xff\xdb"
            + struct.pack(">HB", 67, tid)
            + qt[ZIGZAG].astype(np.uint8).tobytes()
        )
    comp_sof = b"".join(
        struct.pack("BBB", cid + 1, (sh << 4) | sv, 0 if cid == 0 else 1)
        for cid, (sh, sv) in enumerate(samplings)
    )
    out.append(
        b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * 3, 8, h, w, 3) + comp_sof
    )
    for cls, tid, (bits, values) in (
        (0, 0, HUFF_DC_LUMA),
        (0, 1, HUFF_DC_CHROMA),
        (1, 0, HUFF_AC_LUMA),
        (1, 1, HUFF_AC_CHROMA),
    ):
        payload = bytes(bits) + bytes(values)
        out.append(
            b"\xff\xc4"
            + struct.pack(">HB", 3 + len(payload), (cls << 4) | tid)
            + payload
        )
    if restart_interval:
        out.append(b"\xff\xdd" + struct.pack(">HH", 4, restart_interval))
    comp_sos = b"".join(
        struct.pack("BB", cid + 1, 0 if cid == 0 else 0x11) for cid in range(3)
    )
    out.append(b"\xff\xda" + struct.pack(">HB", 6 + 2 * 3, 3) + comp_sos + b"\x00\x3f\x00")
    out.append(scan)
    out.append(b"\xff\xd9")  # EOI
    return b"".join(out)


# ---------------------------------------------------------------- decode

class _Corrupt(ValueError):
    pass


def _parse(data: bytes) -> dict:
    """Marker walk -> header state + entropy-coded scan bytes."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    ht: dict[tuple[int, int], tuple] = {}
    sof = None
    sos = None
    dri = 0
    markers: list[int] = []
    scan = None
    n = len(data)
    while pos + 2 <= n:
        if data[pos] != 0xFF:
            raise _Corrupt(f"expected marker at {pos}")
        marker = data[pos + 1]
        markers.append(marker)
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone markers
            continue
        if pos + 2 > n:
            raise _Corrupt("truncated marker segment")
        (length,) = struct.unpack_from(">H", data, pos)
        if length < 2:
            raise _Corrupt(f"marker 0x{marker:02x} with invalid length {length}")
        seg = data[pos + 2 : pos + length]
        if marker == 0xDB:  # DQT (possibly several tables)
            off = 0
            while off < len(seg):
                pq, tid = seg[off] >> 4, seg[off] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit DQT precision")
                tbl = np.frombuffer(seg, dtype=np.uint8, count=64, offset=off + 1)
                full = np.zeros(64, dtype=np.int64)
                full[ZIGZAG] = tbl
                qt[tid] = full
                off += 65
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                cls, tid = seg[off] >> 4, seg[off] & 15
                bits = tuple(seg[off + 1 : off + 17])
                cnt = sum(bits)
                values = tuple(seg[off + 17 : off + 17 + cnt])
                ht[(cls, tid)] = (bits, values)
                off += 17 + cnt
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, hh, ww, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision")
            comps = []
            for c in range(nc):
                cid, sf, qid = struct.unpack_from("BBB", seg, 6 + 3 * c)
                comps.append((cid, sf >> 4, sf & 15, qid))
            sof = (hh, ww, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG SOF{marker - 0xC0}: only baseline sequential (SOF0/1) supported"
            )
        elif marker == 0xDD:  # DRI
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            sel = []
            for c in range(ns):
                cid, tids = struct.unpack_from("BB", seg, 1 + 2 * c)
                sel.append((cid, tids >> 4, tids & 15))
            sos = sel
            # entropy data runs to the next real marker (skip stuffing/RST);
            # vectorized scan-end search (a per-byte python walk was 10% of
            # whole-image decode time)
            start = pos + length
            buf = np.frombuffer(data, dtype=np.uint8, count=n - start, offset=start)
            if len(buf) >= 2:
                nxt = buf[1:]
                real = (buf[:-1] == 0xFF) & (nxt != 0x00) & ~((nxt >= 0xD0) & (nxt <= 0xD7))
                hits = np.flatnonzero(real)
                p = start + (int(hits[0]) if len(hits) else len(buf) - 1)
            else:
                p = n
            scan = data[start:p]
            pos = p
            continue
        pos += length
    if sof is None or sos is None or scan is None:
        raise _Corrupt("missing SOF0/SOS/scan")
    return {
        "qt": qt,
        "ht": ht,
        "sof": sof,
        "sos": sos,
        "dri": dri,
        "scan": scan,
        "markers": markers,
    }


def _decode_segment(seg: bytes, comps, luts, zz_arrays, fill_pos):
    """Decode one restart segment (MCU-interleaved) into the zz arrays.

    The Huffman chase is sequential by nature (each symbol's start depends
    on the previous symbol's length), but everything *per bit position* is
    precomputed vectorized and FUSED: for every position p and every table
    in play we precompute the total advance of a symbol starting at p
    (code length + magnitude-bit count), the symbol byte, and the fully
    sign-extended coefficient value of the magnitude bits that follow the
    code. The sequential loop is then ~3 O(1) indexed reads per
    coefficient (bytes / int16-memoryview indexing — no numpy scalar
    boxing), and the zigzag writes are batched into one numpy scatter per
    component instead of a scalar ``zz[bi, k] = r`` per coefficient.

    ``comps``: component index of every block in this segment, in scan
    order; ``fill_pos``: per-component next write slot (stream order).

    When the box has a C compiler the whole walk runs in the compiled
    kernel (:mod:`._native`) — one LUT probe per symbol, coefficients
    written directly into the zigzag arrays; this python path is the
    bit-identical reference fallback.
    """
    unstuffed = seg.replace(b"\xff\x00", b"\xff")
    total_bits = len(unstuffed) * 8
    if total_bits == 0:
        if len(comps):
            raise _Corrupt("empty entropy segment")
        return 0
    lib = _native.chase_lib()
    if lib is not None:
        return _decode_segment_native(
            lib, unstuffed, comps, total_bits, luts, zz_arrays, fill_pos
        )
    raw = np.frombuffer(unstuffed, dtype=np.uint8)
    # pad 6 bytes so the 16-bit peek window exists for every position a
    # symbol's magnitude bits can reach (p + ln <= total_bits + 15);
    # next16[8k+r] = bits [8k+r, 8k+r+16) = (24-bit window at byte k) >> (8-r)
    nbits = total_bits + 16
    padded = np.concatenate([raw, np.zeros(6, dtype=np.uint8)]).astype(np.int32)
    w24 = (padded[:-2] << 16) | (padded[1:-1] << 8) | padded[2:]
    next16 = (
        (w24[:, None] >> (8 - np.arange(8, dtype=np.int32))) & 0xFFFF
    ).ravel()[:nbits]

    def _adv_sym(lut, is_dc):
        dec = lut[next16[:total_bits]]
        ln = (dec >> 8).astype(np.uint8)
        sym = dec.astype(np.uint8)
        if is_dc:
            # adv==0 marks an invalid code (unassigned, or a DC size the
            # 16-bit peek window cannot serve — spec max is 11)
            size = np.minimum(sym, 15)
            ok = (ln != 0) & (sym <= 15)
        else:
            size = sym & 15
            ok = ln != 0
        adv = (ln + size) * ok.astype(np.uint8)
        return adv.tobytes(), sym.tobytes()

    tables = {}  # (id(lut), is_dc) -> (adv_bytes, sym_bytes)
    for dc_lut, ac_lut in luts:
        for lut, is_dc in ((dc_lut, True), (ac_lut, False)):
            if (id(lut), is_dc) not in tables:
                tables[(id(lut), is_dc)] = _adv_sym(lut, is_dc)
    per_comp = [
        (tables[(id(d), True)][0],) + tables[(id(a), False)] for d, a in luts
    ]

    nc = len(zz_arrays)
    fill_start = list(fill_pos)
    # walk output: per component, coefficient positions + flat zz indices,
    # and DC symbol positions (one per block, in fill order)
    ac_pos: list[list[int]] = [[] for _ in range(nc)]
    ac_idx: list[list[int]] = [[] for _ in range(nc)]
    dc_pos: list[list[int]] = [[] for _ in range(nc)]
    comps_list = comps.tolist() if isinstance(comps, np.ndarray) else comps
    try:
        blocks_done = _chase(
            comps_list, per_comp, ac_pos, ac_idx, dc_pos, fill_pos, total_bits
        )
    except IndexError:
        raise _Corrupt("entropy stream truncated mid-symbol") from None

    def _extend(peek, size):
        # JPEG receive/extend: interpret `size` magnitude bits (MSB-first
        # at the top of the 16-bit peek) as a signed coefficient
        size1 = np.maximum(size, 1)
        r = peek >> (16 - size)
        ext = np.where(r < (1 << (size1 - 1)), r - ((1 << size1) - 1), r)
        return np.where(size > 0, ext, 0)

    for ci in range(nc):
        zz_flat = zz_arrays[ci].ravel()
        dlut, alut = luts[ci]
        if ac_pos[ci]:
            parr = np.asarray(ac_pos[ci], dtype=np.int64)
            dec = alut[next16[parr]]
            vals = _extend(next16[parr + (dec >> 8)], dec & 15)
            zz_flat[np.asarray(ac_idx[ci], dtype=np.int64)] = vals
        if dc_pos[ci]:
            parr = np.asarray(dc_pos[ci], dtype=np.int64)
            dec = dlut[next16[parr]]
            diffs = _extend(next16[parr + (dec >> 8)], np.minimum(dec & 0xFF, 15))
            preds = np.cumsum(diffs, dtype=np.int64)
            slots = (fill_start[ci] + np.arange(len(parr), dtype=np.int64)) << 6
            zz_flat[slots] = preds
    return blocks_done


_CHASE_ERRORS = {
    -1: "invalid DC huffman code",
    -2: "invalid AC huffman code",
    -3: "AC run overflows block",
    -5: "entropy stream truncated mid-symbol",
    -6: "block fill overflow",
}


@lru_cache(maxsize=8)
def _ptr_types(nc: int):
    """ctypes pointer + pointer-array types for an nc-component call —
    building the array TYPE (PU16 * nc) per decode is measurable overhead;
    the types are pure functions of nc."""
    p64 = ctypes.POINTER(ctypes.c_int64)
    pu16 = ctypes.POINTER(ctypes.c_uint16)
    return p64, pu16, p64 * nc, pu16 * nc


def _decode_segment_native(lib, unstuffed, comps, total_bits, luts, zz_arrays,
                           fill_pos):
    """Run one restart segment through the compiled kernel: the C walk
    probes the same 16-bit LUTs and writes sign-extended coefficients
    straight into the (blocks, 64) zigzag arrays — bit-identical to the
    python path by the shared T.81 semantics (property-tested)."""
    nc = len(zz_arrays)
    bits = unstuffed + b"\x00" * 6  # pad the 16-bit peek window
    comps_arr = np.ascontiguousarray(comps, dtype=np.int32)
    fp = np.asarray(fill_pos, dtype=np.int64)
    caps = np.asarray([z.shape[0] for z in zz_arrays], dtype=np.int64)
    P64, PU16, P64_N, PU16_N = _ptr_types(nc)
    rc = lib.afs_decode_seg(
        ctypes.cast(ctypes.c_char_p(bits), ctypes.POINTER(ctypes.c_uint8)),
        total_bits,
        comps_arr.ctypes.data_as(ctypes.POINTER(ctypes.c_int32)),
        len(comps_arr),
        PU16_N(*[d.ctypes.data_as(PU16) for d, _ in luts]),
        PU16_N(*[a.ctypes.data_as(PU16) for _, a in luts]),
        fp.ctypes.data_as(P64),
        caps.ctypes.data_as(P64),
        P64_N(*[z.ctypes.data_as(P64) for z in zz_arrays]),
    )
    if rc < 0:
        raise _Corrupt(_CHASE_ERRORS[int(rc)])
    fill_pos[:] = fp.tolist()
    return int(rc)


def _chase(comps, per_comp, ac_pos, ac_idx, dc_pos, fill_pos, total_bits):
    """Sequential Huffman walk: advances the bit cursor symbol by symbol
    (2 O(1) bytes-indexings per symbol) recording only *positions* — all
    value math happens vectorized afterwards in ``_decode_segment``."""
    pos = 0
    blocks_done = 0
    for ci in comps:
        if pos >= total_bits:
            break
        dadv, aadv, asym = per_comp[ci]
        bi = fill_pos[ci]
        fill_pos[ci] += 1
        base = bi << 6
        pa = ac_pos[ci].append
        ia = ac_idx[ci].append
        # DC
        a = dadv[pos]
        if a == 0:
            raise _Corrupt("invalid DC huffman code")
        dc_pos[ci].append(pos)
        pos += a
        # AC
        k = 1
        while k <= 63:
            a = aadv[pos]
            if a == 0:
                raise _Corrupt("invalid AC huffman code")
            sym = asym[pos]
            if sym == 0xF0:  # ZRL
                pos += a
                k += 16
                continue
            size = sym & 15
            if size == 0:  # EOB (0x00) or spec-invalid run-only symbol
                pos += a
                break
            k += sym >> 4
            if k > 63:
                raise _Corrupt("AC run overflows block")
            pa(pos)
            ia(base + k)
            pos += a
            k += 1
        blocks_done += 1
    return blocks_done


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline JFIF bytes -> (h, w, 3) uint8 RGB (or (h, w, 3) replicated
    gray for single-component streams)."""
    st = _parse(data)
    h, w, comps = st["sof"]
    nc = len(comps)
    if nc not in (1, 3):
        raise NotImplementedError(f"{nc}-component JPEG")
    samplings = [(sh, sv) for _, sh, sv, _ in comps]
    geo, my, mx, _sidx, perms, mcu_plan_arr, blocks_per_mcu = _geometry_plan(
        h, w, tuple(samplings)
    )
    nmcu = my * mx

    luts = []
    sel_by_cid = {cid: (dcid, acid) for cid, dcid, acid in st["sos"]}
    for cid, _, _, _ in comps:
        dcid, acid = sel_by_cid[cid]
        if (0, dcid) not in st["ht"] or (1, acid) not in st["ht"]:
            raise _Corrupt("missing huffman table")
        luts.append(
            (_decode_lut(st["ht"][(0, dcid)]), _decode_lut(st["ht"][(1, acid)]))
        )

    zz_arrays = [
        np.zeros((bh * bw, 64), dtype=np.int64) for bh, bw, _, _ in geo
    ]
    fill_pos = [0] * nc

    # restart segments: scan bytes are split at RSTn markers
    scan = st["scan"]
    dri = st["dri"]
    segments: list[bytes] = []
    if dri:
        p = 0
        start = 0
        while p + 1 < len(scan):
            if scan[p] == 0xFF and 0xD0 <= scan[p + 1] <= 0xD7:
                segments.append(scan[start:p])
                start = p + 2
                p += 2
            else:
                p += 1
        segments.append(scan[start:])
    else:
        segments = [scan]

    remaining = nmcu
    for si, seg in enumerate(segments):
        mcus = min(dri, remaining) if dri else remaining
        plan = np.tile(mcu_plan_arr, mcus)
        _decode_segment(seg, plan, luts, zz_arrays, fill_pos)
        remaining -= mcus

    hmax = max(sh for sh, _ in samplings)
    vmax = max(sv for _, sv in samplings)
    planes = []
    for ci, ((bh, bw, sh, sv), zz, perm) in enumerate(zip(geo, zz_arrays, perms)):
        # blocks were filled in stream order; map back to raster order
        raster = np.empty_like(zz)
        raster[perm] = zz[: bh * bw]
        qid = comps[ci][3]
        if qid not in st["qt"]:
            raise _Corrupt("missing quant table")
        # dequantize in zigzag order, then un-zigzag as ONE gather (the
        # inverse permutation of the scatter coef[:, ZIGZAG] = dq —
        # identical values, no zero-fill pass)
        dq = raster * st["qt"][qid][ZIGZAG]
        coef = dq[:, INV_ZIGZAG].astype(np.float64).reshape(-1, 8, 8)
        spat = _DCT8.T @ coef @ _DCT8
        spat += 128.0
        np.rint(spat, out=spat)
        np.clip(spat, 0, 255, out=spat)
        plane = _unblockify(spat.astype(np.uint8), bh, bw)
        # upsample to full resolution, crop to (h, w)
        ry, rx = vmax // sv, hmax // sh
        if ry > 1 or rx > 1:
            ph, pw = plane.shape
            plane = np.broadcast_to(
                plane[:, None, :, None], (ph, ry, pw, rx)
            ).reshape(ph * ry, pw * rx)
        planes.append(plane[:h, :w])
    if nc == 1:
        return np.stack([planes[0]] * 3, axis=-1)
    return _ycbcr_to_rgb(*planes)


# ------------------------------------------------------------------ stats

def jpeg_stats(data: bytes) -> dict:
    """Marker-walk stats for the driver query: exact-integer header facts
    plus scan accounting — everything here is independently recomputable
    from the encoder parameters (quality formula is integer arithmetic)."""
    st = _parse(data)
    h, w, comps = st["sof"]
    mc = Counter(st["markers"])
    scan = np.frombuffer(st["scan"], dtype=np.uint8)
    n_rst = 0
    if len(scan) >= 2:
        n_rst = int(
            ((scan[:-1] == 0xFF) & (scan[1:] >= 0xD0) & (scan[1:] <= 0xD7)).sum()
        )
    return {
        "width": int(w),
        "height": int(h),
        "n_components": len(comps),
        "n_dqt_tables": len(st["qt"]),
        "n_dht_tables": len(st["ht"]),
        "dqt_sum_luma": int(st["qt"][0].sum()) if 0 in st["qt"] else 0,
        "dqt_sum_chroma": int(st["qt"][1].sum()) if 1 in st["qt"] else 0,
        "restart_interval": int(st["dri"]),
        "n_restart_markers": n_rst + sum(mc[m] for m in range(0xD0, 0xD8)),
        "scan_bytes": len(st["scan"]),
        "total_bytes": len(data),
        "max_h_sampling": max(sh for _, sh, _, _ in comps),
        "max_v_sampling": max(sv for _, _, sv, _ in comps),
    }
