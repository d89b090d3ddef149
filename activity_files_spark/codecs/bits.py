"""The one bit packer of the codec encoders (FLAC, JPEG and GIF).

A bitstream is a run of fields: field ``i`` is the low ``lens[i]`` bits of
``vals[i]``, so a negative value packs as two's complement. A field may be
longer than 64 bits; the bits above the int64 value repeat its sign
(leading zeros for a non-negative value), so a rice unary code of quotient
``q`` is simply the value 1 in ``q + 1`` bits. Bit order and pad bit are
fixed by each format and passed by its codec: FLAC and JPEG fill each byte
from the top bit (JPEG pads with 1s), GIF's LZW codes fill it from bit 0.
"""

from __future__ import annotations

import numpy as np


def pack(vals, lens, lsb_first: bool = False, pad: int = 0) -> bytes:
    """Fields -> bytes in one vectorized pass: a ragged arange gives every
    bit its shift within its field, one shift/mask reads the bits and
    ``np.packbits`` folds them into bytes, the last one padded with
    ``pad``."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return b""
    # fields of up to 32 bits only need each value's low 32 bits: int32
    # halves the memory traffic of the per-bit arrays
    wide = lens.max() > 32 or total >= 2**31
    dt = np.int64 if wide else np.int32
    ends = np.cumsum(lens, dtype=dt)
    k = np.arange(total, dtype=dt)
    if lsb_first:
        shift = np.subtract(k, np.repeat(ends - lens.astype(dt), lens), out=k)
    else:
        shift = np.subtract(np.repeat(ends - 1, lens), k, out=k)
    if wide:
        np.minimum(shift, 63, out=shift)  # past bit 63: the sign bit
    v = np.repeat(np.asarray(vals, dtype=np.int64).astype(dt), lens)
    np.right_shift(v, shift, out=v)
    bits = np.empty(total + (-total % 8), dtype=np.uint8)
    np.bitwise_and(v, 1, out=bits[:total], casting="unsafe")
    bits[total:] = pad
    return np.packbits(bits, bitorder="little" if lsb_first else "big").tobytes()


class BitWriter:
    """Collects MSB-first fields (FLAC's layout) and packs them once, at
    :meth:`bytes`."""

    def __init__(self):
        self.nbits = 0
        self._vals, self._lens = [], []  # scalar fields since the last array
        self._chunks = []

    def write(self, value: int, n: int) -> None:
        self._vals.append(value)
        self._lens.append(n)
        self.nbits += n

    def write_array(self, vals, lens) -> None:
        """Many fields at once; ``lens`` may be one width for all of them."""
        vals = np.asarray(vals, dtype=np.int64)
        lens = np.broadcast_to(np.asarray(lens, dtype=np.int64), vals.shape)
        self._chunks += [(self._vals, self._lens), (vals, lens)]
        self._vals, self._lens = [], []
        self.nbits += int(lens.sum())

    def align(self) -> None:
        """Pad with zero bits to a byte boundary."""
        self.write(0, -self.nbits % 8)

    def bytes(self) -> bytes:
        parts = self._chunks + [(self._vals, self._lens)]
        return pack(np.concatenate([np.asarray(v, np.int64) for v, _ in parts]),
                    np.concatenate([np.asarray(n, np.int64) for _, n in parts]))
