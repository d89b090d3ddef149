"""Optional compiled fast path for the sequential JPEG entropy decode.

The pure-numpy decoder in ``jpeg.py`` vectorizes everything per bit
position, but the Huffman walk itself is inherently sequential (each
symbol's start depends on the previous symbol's length) and the
vectorized preparation pays for every bit position in the stream when
only ~4% are ever visited.  This module compiles a ~70-line C kernel
with the system compiler at first use and calls it through ctypes: one
16-bit-LUT probe per symbol, sign-extended magnitude bits, coefficients
written straight into the per-component zigzag arrays.

Everything is best-effort: if there is no compiler or the build fails,
callers fall back to the bit-identical pure-Python/numpy path in
``jpeg._decode_segment``, which remains the reference implementation and is
property-tested against this one (``tests/test_jpeg.py`` forces it by
setting ``_lib = False``).

The .so is cached in the system temp dir keyed by a hash of the C
source (``activity_files_spark/_tmpcache.py``: loaded only if this uid
owns it and nobody else may write it), so the many Spark python workers
on one box compile at most once and recompile automatically when the
kernel changes.  No third-party packages are involved (nothing
pip/apt-installed) — just ctypes + cc.
"""
from __future__ import annotations

import ctypes
import hashlib
import subprocess

from activity_files_spark._tmpcache import cached

_C_SRC = r"""
#include <stdint.h>

/* 16-bit MSB-first peek at bit position p; `bits` is padded with >= 6
   zero bytes past the last real byte so every reachable window exists. */
static inline uint32_t peek16(const uint8_t *bits, int64_t p)
{
    int64_t byte = p >> 3;
    uint32_t w24 = ((uint32_t)bits[byte] << 16) |
                   ((uint32_t)bits[byte + 1] << 8) | bits[byte + 2];
    return (w24 >> (8 - (p & 7))) & 0xFFFF;
}

/* JPEG receive/extend: `size` magnitude bits at the top of `peek`. */
static inline int64_t extend(uint32_t peek, int size)
{
    int64_t r = peek >> (16 - size);
    if (r < ((int64_t)1 << (size - 1)))
        r -= ((int64_t)1 << size) - 1;
    return r;
}

/* Decode one restart segment (MCU-interleaved scan order).

   bits        unstuffed entropy bytes, zero-padded by >= 6 bytes
   total_bits  real (unpadded) bit count
   comps[b]    component index of block b
   dc/ac_lut   per-component 65536-entry LUTs: (code_len << 8) | symbol,
               0 = invalid code
   fill_pos    next block slot per component (updated in place)
   blk_cap     block capacity per component (defensive bound)
   zz          per-component coefficient arrays, raveled (blocks, 64)

   Returns blocks completed (>= 0) or a negative error:
     -1 invalid DC code   -2 invalid AC code   -3 AC run overflow
     -5 stream truncated mid-symbol            -6 block fill overflow
*/
int64_t afs_decode_seg(const uint8_t *bits, int64_t total_bits,
                       const int32_t *comps, int64_t n_blocks,
                       const uint16_t **dc_lut, const uint16_t **ac_lut,
                       int64_t *fill_pos, const int64_t *blk_cap,
                       int64_t **zz)
{
    int64_t pos = 0, blocks_done = 0;
    int64_t pred[16] = {0};
    for (int64_t b = 0; b < n_blocks; b++) {
        int32_t ci = comps[b];
        if (pos >= total_bits)
            break;
        const uint16_t *dl = dc_lut[ci], *al = ac_lut[ci];
        if (fill_pos[ci] >= blk_cap[ci])
            return -6;
        int64_t *z = zz[ci] + (fill_pos[ci] << 6);
        fill_pos[ci] += 1;
        /* DC */
        uint16_t dec = dl[peek16(bits, pos)];
        int ln = dec >> 8, sym = dec & 0xFF;
        if (ln == 0 || sym > 15)
            return -1;
        pos += ln;
        if (sym) {
            pred[ci] += extend(peek16(bits, pos), sym);
            pos += sym;
        }
        z[0] = pred[ci];
        /* AC */
        int k = 1;
        while (k <= 63) {
            if (pos >= total_bits)
                return -5;
            dec = al[peek16(bits, pos)];
            ln = dec >> 8;
            sym = dec & 0xFF;
            if (ln == 0)
                return -2;
            if (sym == 0xF0) { /* ZRL */
                pos += ln;
                k += 16;
                continue;
            }
            int size = sym & 15;
            if (size == 0) { /* EOB or spec-invalid run-only symbol */
                pos += ln;
                break;
            }
            k += sym >> 4;
            if (k > 63)
                return -3;
            pos += ln;
            z[k] = extend(peek16(bits, pos), size);
            pos += size;
            k++;
        }
        blocks_done++;
    }
    return blocks_done;
}
"""

_lib = None  # None = not tried, False = unavailable, else CDLL
SO_NAME = f"afs_jpeg_{hashlib.sha256(_C_SRC.encode()).hexdigest()[:16]}.so"


def _compile(so_path: str) -> None:
    c_path = so_path[:-3] + ".c"
    with open(c_path, "w") as f:
        f.write(_C_SRC)
    subprocess.run(
        ["cc", "-O3", "-shared", "-fPIC", "-o", so_path, c_path],
        check=True, capture_output=True, timeout=120,
    )


def _build() -> ctypes.CDLL:
    lib = ctypes.CDLL(cached(SO_NAME, _compile))
    P64 = ctypes.POINTER(ctypes.c_int64)
    PU16 = ctypes.POINTER(ctypes.c_uint16)
    lib.afs_decode_seg.restype = ctypes.c_int64
    lib.afs_decode_seg.argtypes = [
        ctypes.POINTER(ctypes.c_uint8), ctypes.c_int64,
        ctypes.POINTER(ctypes.c_int32), ctypes.c_int64,
        ctypes.POINTER(PU16), ctypes.POINTER(PU16),
        P64, P64,
        ctypes.POINTER(P64),
    ]
    return lib


def chase_lib():
    """The compiled kernel, or None when unavailable (callers fall back)."""
    global _lib
    if _lib is None:
        try:
            _lib = _build()
        except Exception:
            _lib = False
    return _lib or None
