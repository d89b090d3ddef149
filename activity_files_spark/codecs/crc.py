"""Every checksum the codecs carry, in one place.

Ogg's CRC-32 (RFC 3533: unreflected poly 0x04C11DB7, init 0, no xorout) is
zlib's reflected CRC-32 over bit-reversed bytes, bit-reversed back. The 8/16
bit CRCs share one table engine, each set by (width, poly, bit order) and
the init its function defaults to: FIT CRC-16/ARC (fit_crc.dart:7-46), FLAC
CRC-8 and CRC-16 (RFC 9639) and MPEG audio CRC-16.

From ``BULK_MIN_BYTES`` on the engine folds instead of looping: CRCs are
GF(2)-linear, so ``_CRC_ROW_W``-byte rows get their CRCs from state 0 in
``_CRC_ROW_W`` numpy column passes (one uint16 lane per row), chained by
crc(s, A||B) = L(crc(s, A)) ^ crc(0, B), with L (advance past a zero row)
split into two 256-entry tables by state byte. The passes cost ~0.6 ms at
any size, so the fold wins only from ~6-8 KiB up (4-core x86, CPython 3.11,
numpy 1.26); at 1 MiB it takes ~6 ms against ~90 ms for the loop.
"""

from __future__ import annotations

import functools
import zlib

import numpy as np

REV8 = bytes(int(f"{b:08b}"[::-1], 2) for b in range(256))

_CRC_ROW_W = 64  # bytes per row lane = numpy column passes per fold
BULK_MIN_BYTES = 8192  # measured loop/fold crossover, see module docstring


def ogg_crc(data: bytes) -> int:
    """Unreflected CRC-32 poly 0x04C11DB7, init 0, xorout 0 (RFC 3533)."""
    c = zlib.crc32(data.translate(REV8), 0xFFFFFFFF) ^ 0xFFFFFFFF
    return int.from_bytes(c.to_bytes(4, "little").translate(REV8), "big")


def _table_crc(width: int, poly: int, reflected: bool):
    """``run(data, crc)``: the register ``crc`` advanced over ``data``."""
    mask = (1 << width) - 1
    top = width - 8
    table = []
    for b in range(256):
        c = b if reflected else b << top
        for _ in range(8):
            if reflected:
                c = (c >> 1) ^ poly if c & 1 else c >> 1
            else:
                c = ((c << 1) ^ poly if c >> (width - 1) else c << 1) & mask
        table.append(c)
    lanes = np.array(table, np.uint16)

    def loop(data, crc: int) -> int:
        t = table
        if reflected:
            for b in data:
                crc = (crc >> 8) ^ t[(crc ^ b) & 0xFF]
        else:
            for b in data:
                crc = ((crc << 8) & mask) ^ t[((crc >> top) ^ b) & 0xFF]
        return crc

    @functools.cache
    def shift_tables():
        """L's lo/hi tables: state byte 0/1 advanced past a zero row."""
        zeros = bytes(_CRC_ROW_W)
        return ([loop(zeros, s) for s in range(256)],
                [loop(zeros, s << 8) for s in range(256)])

    def run(data, crc: int) -> int:
        if len(data) < BULK_MIN_BYTES:
            return loop(data, crc)
        rows = len(data) // _CRC_ROW_W
        a = np.frombuffer(data, np.uint8, rows * _CRC_ROW_W).reshape(rows, _CRC_ROW_W)
        y = np.zeros(rows, np.uint16)
        for c in range(_CRC_ROW_W):
            if reflected:
                y = lanes[(y ^ a[:, c]) & 0xFF] ^ (y >> 8)
            else:
                y = lanes[((y >> top) ^ a[:, c]) & 0xFF] ^ ((y << 8) & mask)
        lo, hi = shift_tables()
        for ry in y.tolist():
            crc = lo[crc & 0xFF] ^ hi[crc >> 8] ^ ry
        return loop(data[rows * _CRC_ROW_W:], crc)

    return run


_ARC16 = _table_crc(16, 0xA001, reflected=True)
_CRC8 = _table_crc(8, 0x07, reflected=False)
_CRC16_8005 = _table_crc(16, 0x8005, reflected=False)


def fit_crc16(data: bytes, crc: int = 0) -> int:
    """FIT CRC-16 (the FIT SDK checksum, CRC-16/ARC) continued from ``crc``;
    property-tested against the nibble-table ``sources.fit._crc16_scalar``."""
    return _ARC16(data, crc)


def flac_crc8(data: bytes) -> int:
    """FLAC frame-header CRC-8, poly 0x07, init 0."""
    return _CRC8(data, 0)


def flac_crc16(data: bytes) -> int:
    """FLAC frame CRC-16, poly 0x8005 MSB-first, init 0."""
    return _CRC16_8005(data, 0)


def crc16_mpeg(data: bytes, init: int = 0xFFFF) -> int:
    """MPEG audio protection CRC-16: poly 0x8005 MSB-first, init 0xFFFF, no
    final xor. FLAC's CRC-16 with another init, and FIT's generator in the
    opposite bit order."""
    return _CRC16_8005(data, init)
