"""The five codec CRCs (codecs/crc.py) against their catalogue check values
and a bit-at-a-time reference, on both sides of the bulk-fold threshold."""

from __future__ import annotations

import numpy as np
import pytest

from activity_files_spark.codecs.crc import BULK_MIN_BYTES
from activity_files_spark.codecs.flac import flac_crc8, flac_crc16
from activity_files_spark.codecs.mp3 import crc16_mpeg
from activity_files_spark.codecs.ogg import ogg_crc
from activity_files_spark.sources.fit import fit_crc16

# name -> (function, width, poly, reflected, init, check value of b"123456789")
CRCS = {
    "fit": (fit_crc16, 16, 0xA001, True, 0, 0xBB3D),
    "flac8": (flac_crc8, 8, 0x07, False, 0, 0xF4),
    "flac16": (flac_crc16, 16, 0x8005, False, 0, 0xFEE8),
    "mpeg": (crc16_mpeg, 16, 0x8005, False, 0xFFFF, 0xAEE7),
    "ogg": (ogg_crc, 32, 0x04C11DB7, False, 0, 0x89A1897F),
}

T = BULK_MIN_BYTES


def bitwise(data: bytes, width: int, poly: int, reflected: bool, init: int) -> int:
    mask = (1 << width) - 1
    crc = init
    for b in data:
        if reflected:
            crc ^= b
            for _ in range(8):
                crc = (crc >> 1) ^ poly if crc & 1 else crc >> 1
        else:
            crc ^= b << (width - 8)
            for _ in range(8):
                crc = ((crc << 1) ^ poly if crc >> (width - 1) else crc << 1) & mask
    return crc


@pytest.mark.parametrize("name", sorted(CRCS))
def test_crc_check_value(name):
    fn, *_, check = CRCS[name]
    assert fn(b"123456789") == check


@pytest.mark.parametrize("n", [0, 1, T - 1, T, T + 1, 64 * 1024 + 3])
@pytest.mark.parametrize("name", sorted(CRCS))
def test_crc_matches_bitwise_reference(name, n):
    fn, width, poly, reflected, init, _ = CRCS[name]
    data = np.random.default_rng(n).integers(0, 256, n, dtype=np.uint8).tobytes()
    assert fn(data) == bitwise(data, width, poly, reflected, init)


@pytest.mark.parametrize("n", [1, T + 1])
def test_fit_crc16_continues_from_incoming_state(n):
    data = np.random.default_rng(n).integers(0, 256, n, dtype=np.uint8).tobytes()
    for state in (0x1234, 0xFFFF):
        assert fit_crc16(data, state) == bitwise(data, 16, 0xA001, True, state)
    # chaining through the state equals one pass over the concatenation
    assert fit_crc16(data[n // 2:], fit_crc16(data[: n // 2])) == fit_crc16(data)
