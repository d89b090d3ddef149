"""Ogg container + FLAC-in-Ogg mapping tests (codecs/ogg.py).

The reference repo has no audio codecs; these pin the public-spec
behaviors of RFC 3533 page framing and the xiph FLAC-to-Ogg mapping:
lossless round-trips, lacing edge cases (255-multiples, empty packets,
page-spanning packets), CRC/sequence/continuation corruption detection
(raise-never-misdecode), and the BOS/EOS/granule page structure.
"""

import struct

import numpy as np
import pytest

from activity_files_spark.codecs.ogg import (
    demux_ogg,
    encode_ogg_flac,
    mux_ogg,
    ogg_crc,
    parse_ogg_flac,
)


def _pages(data: bytes):
    """Walk raw pages -> list of dicts (no CRC check; structural only)."""
    out = []
    pos = 0
    while pos < len(data):
        cap, ver, htype, gran, serial, seq, crc, nseg = struct.unpack_from(
            "<4sBBqIIIB", data, pos
        )
        assert cap == b"OggS"
        lacing = data[pos + 27 : pos + 27 + nseg]
        body = sum(lacing)
        out.append({
            "htype": htype, "granule": gran, "seq": seq, "nseg": nseg,
            "lacing": list(lacing), "offset": pos,
            "page_len": 27 + nseg + body,
        })
        pos += 27 + nseg + body
    return out


def _clip(seed: int = 1, n: int = 3000, ch: int = 2) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(-4000, 4000, size=(n, ch)).astype(np.int16)


# ---------------------------------------------------------------------------
# round-trips
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ch", [1, 2])
@pytest.mark.parametrize("block_size", [192, 500, 4096])
def test_ogg_flac_roundtrip(ch, block_size):
    x = _clip(seed=block_size + ch, ch=ch)
    y, sr, bps = parse_ogg_flac(encode_ogg_flac(x, 22050, block_size=block_size))
    assert sr == 22050 and bps == 16
    assert (y == x).all()


def test_ogg_flac_roundtrip_correlated_stereo():
    t = np.arange(2000, dtype=np.int64)
    left = np.abs((t * 137) % 8192 - 4096) - 2048
    x = np.stack([left, ((t % 5) - 2) * 64 - left], axis=1).astype(np.int16)
    y, _, _ = parse_ogg_flac(encode_ogg_flac(x, 8000, block_size=500))
    assert (y == x).all()


def test_mux_demux_packet_identity_with_page_spans():
    big = bytes(range(256)) * 400  # 102400 bytes: spans two pages
    pkts = [b"hdr", big, b"", b"x" * 510, b"tail"]  # empty + 255-multiple
    grans = [0, 10, 10, 20, 30]
    back = demux_ogg(mux_ogg(pkts, grans, serial=9, break_after=frozenset({0})))
    assert back == pkts


def test_spanning_packet_sets_continuation_flag_and_minus_one_granule():
    big = b"q" * (255 * 255 + 100)  # strictly more than one full page
    raw = mux_ogg([big], [77], serial=1)
    pages = _pages(raw)
    assert len(pages) == 2
    assert pages[0]["htype"] & 0x01 == 0  # first page starts the packet
    assert pages[0]["granule"] == -1  # nothing completes on it
    assert pages[1]["htype"] & 0x01  # second continues it
    assert pages[1]["granule"] == 77


# ---------------------------------------------------------------------------
# page structure per the FLAC mapping
# ---------------------------------------------------------------------------


def test_page_structure_bos_headers_eos_granules():
    x = _clip(seed=3, n=1500)
    raw = encode_ogg_flac(x, 8000, block_size=500)
    pages = _pages(raw)
    assert pages[0]["htype"] & 0x02  # BOS
    assert all(not (p["htype"] & 0x02) for p in pages[1:])
    assert pages[-1]["htype"] & 0x04  # EOS
    assert all(not (p["htype"] & 0x04) for p in pages[:-1])
    # BOS page carries exactly the mapping header packet, alone
    assert pages[0]["nseg"] == 1
    # header pages (packets 0-1) carry granule 0; audio granules ascend to n
    assert pages[0]["granule"] == 0 and pages[1]["granule"] == 0
    audio_grans = [p["granule"] for p in pages[2:]]
    assert audio_grans == sorted(audio_grans)
    assert audio_grans[-1] == 1500
    assert [p["seq"] for p in pages] == list(range(len(pages)))


def test_eos_rewrite_when_last_packet_flushes_its_own_page():
    # forcing a break after the FINAL packet exercises the in-place
    # EOS re-stamp (header_type + CRC rewrite) on the already-emitted page
    raw = mux_ogg([b"a", b"b"], [1, 2], serial=8, break_after=frozenset({0, 1}))
    pages = _pages(raw)
    assert len(pages) == 2
    assert pages[-1]["htype"] & 0x04
    assert demux_ogg(raw) == [b"a", b"b"]  # CRC re-stamp is valid


def test_first_packet_is_mapping_header():
    raw = encode_ogg_flac(_clip(seed=4, n=600), 44100)
    first = demux_ogg(raw)[0]
    assert first[:5] == b"\x7fFLAC"
    assert first[5:7] == bytes([1, 0])  # mapping version 1.0
    assert struct.unpack_from(">H", first, 7)[0] == 1  # one more header pkt
    assert first[9:13] == b"fLaC"


# ---------------------------------------------------------------------------
# corruption: raise, never mis-decode
# ---------------------------------------------------------------------------


def test_crc_corruption_detected():
    raw = bytearray(encode_ogg_flac(_clip(seed=5), 8000))
    raw[50] ^= 0x40
    with pytest.raises(ValueError, match="CRC mismatch"):
        parse_ogg_flac(bytes(raw))


def test_missing_page_detected_as_sequence_gap():
    pkts = [bytes([i]) * 40 for i in range(6)]
    raw = mux_ogg(pkts, list(range(6)), serial=6,
                  break_after=frozenset(range(6)))
    pages = _pages(raw)
    assert len(pages) == 6
    p = pages[2]
    cut = raw[: p["offset"]] + raw[p["offset"] + p["page_len"] :]
    with pytest.raises(ValueError, match="sequence gap"):
        demux_ogg(cut)


def test_truncated_tail_detected():
    raw = encode_ogg_flac(_clip(seed=7), 8000)
    with pytest.raises(ValueError, match="truncated Ogg"):
        demux_ogg(raw[:-3])


def test_stream_ending_mid_packet_detected():
    big = b"z" * (255 * 255 + 10)
    raw = mux_ogg([big], [1], serial=2)
    first_len = _pages(raw)[0]["page_len"]
    with pytest.raises(ValueError, match="mid-packet"):
        demux_ogg(raw[:first_len])


def test_bad_capture_pattern_detected():
    raw = bytearray(encode_ogg_flac(_clip(seed=8), 8000))
    raw[0:4] = b"OggZ"
    with pytest.raises(ValueError, match="capture pattern"):
        demux_ogg(bytes(raw))


def test_vorbis_payload_is_honest_stub():
    ident = b"\x01vorbis" + bytes(23)
    raw = mux_ogg([ident], [0], serial=3)
    with pytest.raises(NotImplementedError, match="vorbis"):
        parse_ogg_flac(raw)


def test_unknown_first_packet_rejected():
    raw = mux_ogg([b"not-a-mapping-header"], [0], serial=4)
    with pytest.raises(ValueError, match="FLAC mapping header"):
        parse_ogg_flac(raw)


def test_unsupported_mapping_version_rejected():
    raw = encode_ogg_flac(_clip(seed=9, n=300), 8000)
    pkts = demux_ogg(raw)
    bad = bytearray(pkts[0])
    bad[5] = 2  # major version bump
    raw2 = mux_ogg([bytes(bad)] + pkts[1:], [0] * len(pkts), serial=5,
                   break_after=frozenset({0, 1}))
    with pytest.raises(ValueError, match="mapping version"):
        parse_ogg_flac(raw2)


def test_flac_frame_corruption_surfaces_through_bitstream_crc():
    raw = bytearray(encode_ogg_flac(_clip(seed=10, n=800), 8000, block_size=256))
    pages = _pages(bytes(raw))
    # flip a byte inside the last page's payload, then re-stamp the page
    # CRC so only the FLAC-level CRC-8/16 can catch it
    p = pages[-1]
    body_start = p["offset"] + 27 + p["nseg"]
    raw[body_start + 10] ^= 0x08
    struct.pack_into("<I", raw, p["offset"] + 22, 0)
    crc = ogg_crc(bytes(raw[p["offset"] : p["offset"] + p["page_len"]]))
    struct.pack_into("<I", raw, p["offset"] + 22, crc)
    with pytest.raises(ValueError):
        parse_ogg_flac(bytes(raw))


def test_ogg_crc_known_vector():
    # CRC-32/MPEG-2-family forward polynomial, init 0, xorout 0: the check
    # value for "123456789" under this exact config (CRC-32/XFER uses the
    # same reflection/init/xorout but a different poly; this is the RFC
    # 3533 variant) — pinned from an independent bit-at-a-time evaluation
    def bitwise(data):
        crc = 0
        for b in data:
            crc ^= b << 24
            for _ in range(8):
                crc = ((crc << 1) ^ 0x04C11DB7 if crc & 0x80000000 else crc << 1) & 0xFFFFFFFF
        return crc

    for v in (b"", b"123456789", b"OggS" + bytes(30)):
        assert ogg_crc(v) == bitwise(v)
    # longer pages (single and multi-row lengths), vs the bit loop
    rng = np.random.default_rng(42)
    for n in (255, 256, 257, 64 * 9, 64 * 9 + 17, 5000):
        v = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
        assert ogg_crc(v) == bitwise(v), n


# ---------------------------------------------------------------------------
# multimodal wiring
# ---------------------------------------------------------------------------


def test_decode_audio_ogg_fmt():
    from activity_files_spark.operators.multimodal import decode_audio

    x = _clip(seed=11, n=1200)
    out = decode_audio(encode_ogg_flac(x, 8000), "ogg", 1200, 2)
    assert out.dtype == np.int16
    assert (out == x).all()


def test_mp3_still_honestly_stubbed():
    from activity_files_spark.operators.multimodal import decode_audio

    with pytest.raises(NotImplementedError, match="mp3"):
        decode_audio(b"\xff\xfb\x90\x00", "mp3", 100, 1)
