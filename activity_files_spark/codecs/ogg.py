"""Pure-python Ogg container + FLAC-in-Ogg mapping (both fully public:
RFC 3533 for the Ogg page framing, xiph's "FLAC-to-Ogg mapping" spec for
the payload layout).

This converts the "ogg" entry of the multimodal audio surface from an
honest stub into a fourth REAL codec by composing the Ogg page demuxer
with the existing RFC 9639 FLAC bitstream codec (codecs/flac.py): an
Ogg-FLAC stream is FLAC metadata blocks and frames carried as Ogg packets,
so demux + concatenation reconstructs a native FLAC stream bit-for-bit.

Reference parity note: the reference repo (activity_files) has NO audio
codecs; this file exists for the multimodal-pipeline axis of the north
star, mirroring the WAV/Y4M/FLAC pattern at multimodal.py:42-230.

Ogg page layout (RFC 3533 §6):
  "OggS" | version(0) | header_type | granule(8 LE) | serial(4 LE) |
  page_seq(4 LE) | crc32(4 LE) | n_segments(1) | lacing table | payload
header_type bits: 0x01 continuation, 0x02 BOS, 0x04 EOS. A packet is the
concatenation of segments up to the first lacing value < 255 (a packet of
an exact multiple of 255 bytes therefore ends with a 0 lacing value); a
page that fills all 255 segments mid-packet continues on the next page.
The CRC is the unreflected CRC-32/POSIX-style polynomial 0x04C11DB7 with
zero init and zero xor-out, computed over the page with the CRC field
zeroed (codecs/crc.py runs it through zlib over bit-reversed bytes).

FLAC-to-Ogg mapping: the first packet (alone on the BOS page) is
  0x7F "FLAC" major minor n_header_packets(2 BE) "fLaC" STREAMINFO-block
followed by ``n_header_packets`` metadata-block packets (a VORBIS_COMMENT
is mandatory), then one FLAC frame per packet. The granule position of an
audio page is the total sample count through the last packet completing on
that page; header pages carry granule 0 and a page where no packet ends
carries -1.
"""

from __future__ import annotations

import struct

import numpy as np

from activity_files_spark.codecs.crc import ogg_crc
from activity_files_spark.codecs.flac import (
    encode_frames,
    parse_flac,
    streaminfo_block,
)


def _emit_page(
    out: bytearray,
    serial: int,
    seq: int,
    granule: int,
    header_type: int,
    lacing: list[int],
    payload: bytes,
) -> None:
    hdr = struct.pack(
        "<4sBBqIIIB",
        b"OggS",
        0,
        header_type,
        granule,
        serial,
        seq,
        0,  # CRC placeholder
        len(lacing),
    ) + bytes(lacing)
    page = bytearray(hdr + payload)
    crc = ogg_crc(bytes(page))
    struct.pack_into("<I", page, 22, crc)
    out += page


def mux_ogg(
    packets: list[bytes],
    granules: list[int],
    serial: int,
    break_after: frozenset[int] = frozenset(),
) -> bytes:
    """Pack packets into Ogg pages. ``granules[i]`` is the stream granule
    position after packet i completes (headers 0, audio = cumulative
    samples). Packets longer than one page span pages with the
    continuation flag; header-type BOS is set on the first page and EOS on
    the last. ``break_after`` forces a page flush after those packet
    indexes (the FLAC mapping wants the first packet alone on the BOS page
    and header packets on separate pages from audio)."""
    if len(packets) != len(granules):
        raise ValueError("mux_ogg wants one granule per packet")
    out = bytearray()
    seq = 0
    # current page state
    lacing: list[int] = []
    payload = bytearray()
    page_granule = -1  # no packet ends on this page (yet)
    continued = False

    def flush(eos: bool) -> None:
        nonlocal seq, lacing, payload, page_granule, continued
        ht = (0x01 if continued else 0) | (0x02 if seq == 0 else 0)
        if eos:
            ht |= 0x04
        _emit_page(out, serial, seq, page_granule, ht, lacing, bytes(payload))
        seq += 1
        lacing, payload, page_granule = [], bytearray(), -1

    for i, (pkt, gran) in enumerate(zip(packets, granules)):
        pos = 0
        while True:
            # lacing values for the remainder of this packet
            rest = len(pkt) - pos
            vals = [255] * (rest // 255) + [rest % 255]
            room = 255 - len(lacing)
            if len(vals) <= room:
                lacing += vals
                payload += pkt[pos:]
                page_granule = gran
                if i in break_after or len(lacing) == 255:
                    flush(eos=False)
                    continued = False
                break
            # packet spans: fill the page with 255-byte segments and go on
            take = room * 255
            lacing += [255] * room
            payload += pkt[pos : pos + take]
            pos += take
            flush(eos=False)
            continued = True
    if lacing:
        flush(eos=True)
    else:
        # last packet flushed exactly at a page boundary: re-mark the final
        # page as EOS by rewriting its header_type + CRC in place
        _set_eos_on_last_page(out)
    return bytes(out)


def _set_eos_on_last_page(out: bytearray) -> None:
    # walk pages to find the final page's offset (pages are variable-size)
    pos = 0
    last = 0
    while pos < len(out):
        last = pos
        nseg = out[pos + 26]
        body = sum(out[pos + 27 : pos + 27 + nseg])
        pos += 27 + nseg + body
    out[last + 5] |= 0x04
    struct.pack_into("<I", out, last + 22, 0)
    nseg = out[last + 26]
    body = sum(out[last + 27 : last + 27 + nseg])
    crc = ogg_crc(bytes(out[last : last + 27 + nseg + body]))
    struct.pack_into("<I", out, last + 22, crc)


def demux_ogg(data: bytes) -> list[bytes]:
    """Walk Ogg pages (verifying capture pattern, version, and CRC) and
    reassemble the logical packet stream, honoring lacing and the
    continuation flag. Raises ValueError on framing or CRC corruption —
    never mis-decodes."""
    packets: list[bytes] = []
    partial = bytearray()
    mid_packet = False
    pos = 0
    expect_seq = None
    while pos < len(data):
        if pos + 27 > len(data):
            raise ValueError(f"truncated Ogg page header at byte {pos}")
        cap, ver, htype, _gran, _serial, seq, stored_crc, nseg = struct.unpack_from(
            "<4sBBqIIIB", data, pos
        )
        if cap != b"OggS":
            raise ValueError(f"bad Ogg capture pattern at byte {pos}")
        if ver != 0:
            raise ValueError(f"unsupported Ogg version {ver}")
        if expect_seq is not None and seq != expect_seq:
            raise ValueError(f"Ogg page sequence gap: {expect_seq} -> {seq}")
        expect_seq = seq + 1
        lace_end = pos + 27 + nseg
        if lace_end > len(data):
            raise ValueError(f"truncated Ogg lacing table at byte {pos}")
        lacing = data[pos + 27 : lace_end]
        body_len = sum(lacing)
        page_end = lace_end + body_len
        if page_end > len(data):
            raise ValueError(f"truncated Ogg page payload at byte {pos}")
        page = bytearray(data[pos:page_end])
        struct.pack_into("<I", page, 22, 0)
        if ogg_crc(bytes(page)) != stored_crc:
            raise ValueError(f"Ogg page CRC mismatch at byte {pos}")
        if bool(htype & 0x01) != mid_packet:
            raise ValueError(f"Ogg continuation flag mismatch at byte {pos}")
        body_pos = lace_end
        for v in lacing:
            partial += data[body_pos : body_pos + v]
            body_pos += v
            if v < 255:
                packets.append(bytes(partial))
                partial = bytearray()
        if lacing:  # a (spec-legal) nil page leaves packet state unchanged
            mid_packet = lacing[-1] == 255
        pos = page_end
    if mid_packet or partial:
        raise ValueError("Ogg stream ends mid-packet")
    return packets


# ---------------------------------------------------------------------------
# FLAC-to-Ogg mapping
# ---------------------------------------------------------------------------

_OGG_FLAC_MAGIC = b"\x7fFLAC"
_VENDOR = b"activity_files_spark"


def _vorbis_comment_block(last: bool) -> bytes:
    body = struct.pack("<I", len(_VENDOR)) + _VENDOR + struct.pack("<I", 0)
    return bytes([(0x80 if last else 0) | 0x04]) + len(body).to_bytes(3, "big") + body


def encode_ogg_flac(
    samples: np.ndarray,
    sample_rate: int,
    block_size: int = 4096,
    stereo_mode: str = "auto",
    serial: int = 0x464C4143,
) -> bytes:
    """Encode int16 PCM (n, channels) as a real Ogg-FLAC stream: the
    mapping header packet (0x7F "FLAC" 1 0 + header count + native "fLaC"
    magic + STREAMINFO) alone on the BOS page, a mandatory VORBIS_COMMENT
    header packet, then one FLAC frame per packet with sample-count granule
    positions. Lossless: parse_ogg_flac(encode_ogg_flac(x)) == x."""
    first = (
        _OGG_FLAC_MAGIC
        + bytes([1, 0])  # mapping version 1.0
        + struct.pack(">H", 1)  # one more header packet (VORBIS_COMMENT)
        + b"fLaC"
        + streaminfo_block(samples, sample_rate, block_size, last=False)
    )
    packets = [first, _vorbis_comment_block(last=True)]
    granules = [0, 0]
    done = 0
    for frame, ns in encode_frames(samples, block_size, stereo_mode):
        done += ns
        packets.append(frame)
        granules.append(done)
    return mux_ogg(packets, granules, serial, break_after=frozenset({0, 1}))


def parse_ogg_flac(data: bytes) -> tuple[np.ndarray, int, int]:
    """Decode an Ogg-FLAC stream -> (int32 samples (n, channels),
    sample_rate, bits_per_sample). Demuxes the page stream, validates the
    mapping header, reconstructs the native FLAC stream (packet payloads
    concatenate to metadata blocks + frames by construction of the
    mapping), and hands it to parse_flac — so every bitstream guarantee
    (CRC-8/16, truncation contract) carries over."""
    packets = demux_ogg(data)
    if not packets:
        raise ValueError("empty Ogg stream")
    first = packets[0]
    if len(first) < 13 or first[:5] != _OGG_FLAC_MAGIC:
        if first[:7] == b"\x01vorbis":
            raise NotImplementedError(
                "ogg-vorbis payload: vorbis needs an MDCT codec binding "
                "(not in this container); ogg-flac decodes here"
            )
        raise ValueError("first Ogg packet is not a FLAC mapping header")
    major = first[5]
    if major != 1:
        raise ValueError(f"unsupported Ogg-FLAC mapping version {major}")
    n_headers = struct.unpack_from(">H", first, 7)[0]
    if first[9:13] != b"fLaC":
        raise ValueError("Ogg-FLAC header packet missing fLaC magic")
    if len(packets) < 1 + n_headers:
        raise ValueError("Ogg-FLAC stream missing promised header packets")
    native = bytearray(first[9:])
    for pkt in packets[1:]:
        native += pkt
    return parse_flac(bytes(native))
