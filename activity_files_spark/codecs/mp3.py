"""Pure-python MPEG audio (MP3) frame-layer codec — container parsing for
real, payload decode honestly stubbed.

The MPEG audio framing layer is fully public (ISO/IEC 11172-3 §2.4 /
13818-3): an MP3 file is a sequence of self-describing frames, each with a
32-bit header carrying sync, version, layer, bitrate index, sample-rate
index, padding, channel mode, and an optional CRC-16 over the header tail +
side info. The frame *walk* — skip ID3v2, resync to the first valid header,
compute each frame's byte length from its own header, verify the CRC,
detect the Xing/Info (VBR) header in the first frame, account for a
trailing ID3v1 tag — is what a 100 TB media pipeline needs to route, slice,
and duration-index clips without spending decode cycles; that layer is
implemented for real here and exactness-gated by the `audio_mp3_stats`
driver query. The psychoacoustic payload (huffman + IMDCT + synthesis
filterbank) keeps the honest NotImplementedError boundary in
operators/multimodal.py, matching the avc1/hev1 pattern (codecs/mp4.py).

Reference parity note: the reference repo (activity_files) has NO audio
codecs; this file exists for the multimodal-pipeline axis of the north
star, mirroring the WAV/FLAC pattern at operators/multimodal.py and
codecs/flac.py.

Format facts used (all public):
- header sync = 11 set bits; version 2 bits (00=MPEG2.5, 01=reserved,
  10=MPEG2, 11=MPEG1); layer 2 bits (01=III, 10=II, 11=I); protection bit
  LOW means CRC-16 present right after the header.
- frame bytes: Layer I = (12000*br/sr + pad)*4; Layer II and MPEG1 Layer
  III = 144000*br/sr + pad; MPEG2/2.5 Layer III = 72000*br/sr + pad
  (br in kbit/s, integer division).
- samples/frame: LI=384, LII=1152, LIII=1152 (MPEG1) or 576 (MPEG2/2.5).
- CRC-16: poly 0x8005, init 0xFFFF, MSB-first, over header bytes 2..3 then
  the Layer III side info (MPEG1: 17 mono / 32 otherwise; MPEG2/2.5:
  9 / 17).
- ID3v2 prefix: "ID3" + 2 ver + 1 flags + 4 syncsafe size (+10 footer when
  flag bit 4 set); ID3v1 suffix: final 128 bytes starting "TAG".
- Xing/Info VBR header: first frame payload at the side-info offset;
  fourcc then 4-byte flags, then frames/bytes/TOC/quality fields.
"""

from __future__ import annotations

import struct

import numpy as np

from activity_files_spark.codecs.crc import crc16_mpeg

# bitrate tables in kbit/s, header index 1..14 (0 = free, 15 = invalid)
_BITRATES = {
    # (version_group, layer): V1 = MPEG1, V2 = MPEG2 & 2.5
    ("V1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("V1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("V1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("V2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("V2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("V2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
_SAMPLE_RATES = {
    "MPEG1": [44100, 48000, 32000],
    "MPEG2": [22050, 24000, 16000],
    "MPEG2.5": [11025, 12000, 8000],
}
_VERSION_BITS = {0b00: "MPEG2.5", 0b10: "MPEG2", 0b11: "MPEG1"}
_LAYER_BITS = {0b01: 3, 0b10: 2, 0b11: 1}
_CHANNEL_MODES = ["stereo", "joint_stereo", "dual_channel", "mono"]


def _vgroup(version: str) -> str:
    return "V1" if version == "MPEG1" else "V2"


def samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "MPEG1" else 576


def frame_length(version: str, layer: int, bitrate_kbps: int, sample_rate: int,
                 padding: int) -> int:
    if layer == 1:
        return (12000 * bitrate_kbps // sample_rate + padding) * 4
    if layer == 2 or version == "MPEG1":
        return 144000 * bitrate_kbps // sample_rate + padding
    return 72000 * bitrate_kbps // sample_rate + padding


def side_info_length(version: str, channel_mode: str) -> int:
    """Layer III side-info byte count (between CRC and main data)."""
    if version == "MPEG1":
        return 17 if channel_mode == "mono" else 32
    return 9 if channel_mode == "mono" else 17


def _parse_header(word: int) -> dict | None:
    """Decode a 32-bit big-endian frame header; None if not a valid header."""
    if (word >> 21) & 0x7FF != 0x7FF:
        return None
    version = _VERSION_BITS.get((word >> 19) & 0x3)
    layer = _LAYER_BITS.get((word >> 17) & 0x3)
    if version is None or layer is None:
        return None
    protection = (word >> 16) & 0x1  # 0 => CRC present
    bitrate_idx = (word >> 12) & 0xF
    sr_idx = (word >> 10) & 0x3
    if bitrate_idx in (0, 15) or sr_idx == 3:
        # free-format (0) is legal MPEG but its length is not self-describing;
        # treat as unwalkable like every practical indexer does
        return None
    padding = (word >> 9) & 0x1
    mode = _CHANNEL_MODES[(word >> 6) & 0x3]
    br = _BITRATES[(_vgroup(version), layer)][bitrate_idx - 1]
    sr = _SAMPLE_RATES[version][sr_idx]
    return {
        "version": version, "layer": layer, "crc": protection == 0,
        "bitrate_kbps": br, "sample_rate": sr, "padding": padding,
        "channel_mode": mode, "bitrate_idx": bitrate_idx, "sr_idx": sr_idx,
        "frame_bytes": frame_length(version, layer, br, sr, padding),
    }


def _id3v2_size(data: bytes) -> int:
    """Total byte span of a leading ID3v2 tag (0 if none)."""
    if len(data) < 10 or data[:3] != b"ID3":
        return 0
    if data[3] == 0xFF or data[4] == 0xFF:
        return 0
    b6, b7, b8, b9 = data[6:10]
    if (b6 | b7 | b8 | b9) & 0x80:
        return 0  # size bytes are 7-bit ("syncsafe")
    size = (b6 << 21) | (b7 << 14) | (b8 << 7) | b9
    footer = 10 if data[5] & 0x10 else 0
    return 10 + size + footer


def _parse_xing(payload: bytes, version: str, channel_mode: str,
                crc_bytes: int = 0) -> dict | None:
    """Xing/Info (and VBRI) VBR header inside the first frame's payload.

    `payload` is the frame bytes after header+CRC; the Xing fourcc sits
    right after the side info. VBRI sits at a fixed 32 bytes after the
    4-byte header END (absolute frame offset 36), so its payload probe is
    32 minus however many CRC bytes the caller stripped (`crc_bytes`)."""
    off = side_info_length(version, channel_mode)
    if len(payload) >= off + 8 and payload[off:off + 4] in (b"Xing", b"Info"):
        fourcc = payload[off:off + 4].decode()
        flags = struct.unpack(">I", payload[off + 4:off + 8])[0]
        p = off + 8
        out = {"kind": fourcc, "frames": None, "bytes": None, "quality": None}
        if flags & 0x1 and len(payload) >= p + 4:
            out["frames"] = struct.unpack(">I", payload[p:p + 4])[0]
            p += 4
        if flags & 0x2 and len(payload) >= p + 4:
            out["bytes"] = struct.unpack(">I", payload[p:p + 4])[0]
            p += 4
        if flags & 0x4:
            p += 100  # TOC
        if flags & 0x8 and len(payload) >= p + 4:
            out["quality"] = struct.unpack(">I", payload[p:p + 4])[0]
        return out
    # VBRI (Fraunhofer): fixed 32 bytes after the end of the 4-byte header
    vp = 32 - crc_bytes
    if len(payload) >= vp + 26 and payload[vp:vp + 4] == b"VBRI":
        frames = struct.unpack(">I", payload[vp + 14:vp + 18])[0]
        nbytes = struct.unpack(">I", payload[vp + 10:vp + 14])[0]
        return {"kind": "VBRI", "frames": frames, "bytes": nbytes,
                "quality": struct.unpack(">H", payload[vp + 8:vp + 10])[0]}
    return None


def parse_mp3_meta(data: bytes) -> dict:
    """Walk every MPEG audio frame and return the container metadata a
    pipeline indexes on. Integer-exact by construction (no float math), so
    the driver oracle can replay every field.

    Returns dict with: n_frames, samples_total, audio_bytes, bitrate_sum_kbps,
    distinct_bitrates, sample_rate, version, layer, channel_mode,
    crc_frames (CRC-checked Layer III frames), crc_ok_frames,
    crc_unchecked_frames (protected Layer I/II frames, whose CRC span
    needs bit-allocation parsing), xing (sub-dict or None), id3v2_bytes,
    id3v1 (bool), resync_bytes (junk skipped before first frame),
    truncated (final frame extends past EOF)."""
    if not isinstance(data, (bytes, bytearray)):
        raise ValueError("parse_mp3_meta wants bytes")
    data = bytes(data)
    end = len(data)
    id3v1 = end >= 128 and data[end - 128:end - 125] == b"TAG"
    if id3v1:
        end -= 128
    pos = _id3v2_size(data)
    id3v2_bytes = pos

    # resync: scan forward to the first offset whose header parses AND whose
    # successor (if room remains) also parses — the standard two-header
    # validation that rejects 0xFF bytes inside tag padding / junk
    def hdr_at(off: int) -> dict | None:
        if off + 4 > end:
            return None
        return _parse_header(struct.unpack(">I", data[off:off + 4])[0])

    start = pos
    h = None
    while pos + 4 <= end:
        h = hdr_at(pos)
        if h is not None:
            nxt = pos + h["frame_bytes"]
            if nxt + 4 > end or hdr_at(nxt) is not None:
                break
        h = None
        pos += 1
    if h is None:
        # no two-header chain anywhere: fall back to the first lone header
        # whose frame fully fits — a valid final frame followed by >=4 bytes
        # of trailer junk (APE/Lyrics3 tag) must still count as audio, same
        # tolerance the main walk extends to junk after later frames
        pos = start
        while pos + 4 <= end:
            h = hdr_at(pos)
            if h is not None and pos + h["frame_bytes"] <= end:
                break
            h = None
            pos += 1
    resync_bytes = pos - start
    out = {
        "n_frames": 0, "samples_total": 0, "audio_bytes": 0,
        "bitrate_sum_kbps": 0, "distinct_bitrates": 0, "sample_rate": None,
        "version": None, "layer": None, "channel_mode": None,
        "crc_frames": 0, "crc_ok_frames": 0, "crc_unchecked_frames": 0,
        "xing": None,
        "id3v2_bytes": id3v2_bytes, "id3v1": bool(id3v1),
        "resync_bytes": resync_bytes, "truncated": False,
    }
    if h is None:
        return out
    out.update(sample_rate=h["sample_rate"], version=h["version"],
               layer=h["layer"], channel_mode=h["channel_mode"])
    seen_br = set()
    first = True
    while pos + 4 <= end:
        h = hdr_at(pos)
        if h is None:
            break  # stream ends at first non-frame byte (e.g. APE tag)
        fl = h["frame_bytes"]
        if pos + fl > end:
            out["truncated"] = True
            break
        out["n_frames"] += 1
        out["samples_total"] += samples_per_frame(h["version"], h["layer"])
        out["audio_bytes"] += fl
        out["bitrate_sum_kbps"] += h["bitrate_kbps"]
        seen_br.add(h["bitrate_kbps"])
        body = pos + 4
        if h["crc"]:
            # crc_frames counts only CRC-CHECKED frames: the Layer III span
            # (header tail + side info) is fixed-size, but Layer I/II spans
            # depend on the bit-allocation section, which needs payload
            # parsing — those protected frames go to crc_unchecked_frames
            # instead of masquerading as failures in crc_ok/crc ratios
            if h["layer"] == 3:
                out["crc_frames"] += 1
                if body + 2 <= end:
                    stored = struct.unpack(">H", data[body:body + 2])[0]
                    si = side_info_length(h["version"], h["channel_mode"])
                    span = data[pos + 2:pos + 4] + data[body + 2:body + 2 + si]
                    if body + 2 + si <= pos + fl and crc16_mpeg(span) == stored:
                        out["crc_ok_frames"] += 1
            else:
                out["crc_unchecked_frames"] += 1
            body += 2
        if first and h["layer"] == 3:
            out["xing"] = _parse_xing(
                data[body:pos + fl], h["version"], h["channel_mode"],
                crc_bytes=2 if h["crc"] else 0)
            first = False
        pos += fl
    out["distinct_bitrates"] = len(seen_br)
    return out


def encode_mp3_frames(
    frames: list[tuple[int, int]],
    sample_rate_idx: int = 0,
    version: str = "MPEG1",
    layer: int = 3,
    channel_mode: str = "joint_stereo",
    crc: bool = False,
    id3v2_pad: int = 0,
    id3v1: bool = False,
    xing_frames: int | None = None,
    payload_seed: int = 0,
) -> bytes:
    """Build a syntactically valid MPEG audio frame stream — real headers,
    real frame lengths, real CRC-16 when `crc` — around deterministic
    filler payloads (this is a CONTAINER writer: the payload carries no
    psychoacoustic bitstream, exactly like mp4.py writes 'raw ' samples).

    frames: [(bitrate_idx 1..14, padding 0|1), ...].
    xing_frames: when set, prepend a Xing frame declaring that many audio
    frames (the Xing frame itself uses frames[0]'s shape).
    """
    if version not in _SAMPLE_RATES:
        raise ValueError("version must be MPEG1/MPEG2/MPEG2.5")
    if layer not in (1, 2, 3):
        raise ValueError("layer must be 1..3")
    if not 0 <= sample_rate_idx <= 2:
        raise ValueError("sample_rate_idx must be 0..2")
    if channel_mode not in _CHANNEL_MODES:
        raise ValueError(f"channel_mode must be one of {_CHANNEL_MODES}")
    sr = _SAMPLE_RATES[version][sample_rate_idx]
    vbits = {v: k for k, v in _VERSION_BITS.items()}[version]
    lbits = {v: k for k, v in _LAYER_BITS.items()}[layer]
    mbits = _CHANNEL_MODES.index(channel_mode)

    def one(bitrate_idx: int, padding: int, k: int, xing: int | None) -> bytes:
        if not 1 <= bitrate_idx <= 14:
            raise ValueError("bitrate_idx must be 1..14")
        br = _BITRATES[(_vgroup(version), layer)][bitrate_idx - 1]
        fl = frame_length(version, layer, br, sr, padding)
        word = (0x7FF << 21) | (vbits << 19) | (lbits << 17) \
            | ((0 if crc else 1) << 16) | (bitrate_idx << 12) \
            | (sample_rate_idx << 10) | (padding << 9) | (mbits << 6)
        head = struct.pack(">I", word)
        body_len = fl - 4 - (2 if crc else 0)
        if body_len < 0:
            raise ValueError("frame too small for CRC")
        # filler bytes mod 251 never contain 0xFF, so resync scans can't
        # mistake payload for a frame header
        body = bytearray(
            ((np.arange(body_len, dtype=np.int64) * 17
              + payload_seed + 31 * k) % 251).astype(np.uint8).tobytes()
        )
        si = side_info_length(version, channel_mode)
        if xing is not None:
            if layer != 3:
                raise ValueError("Xing header requires Layer III")
            if body_len < si + 12:
                raise ValueError("frame too small for a Xing header")
            body[si:si + 12] = b"Xing" + struct.pack(">II", 0x1, xing)
        if crc:
            if layer != 3:
                raise ValueError("CRC writer implemented for Layer III only")
            if body_len < si:
                raise ValueError("frame too small for side info")
            c = crc16_mpeg(head[2:4] + bytes(body[:si]))
            return head + struct.pack(">H", c) + bytes(body)
        return head + bytes(body)

    parts = []
    if id3v2_pad:
        size = int(id3v2_pad)
        parts.append(
            b"ID3\x04\x00\x00"
            + bytes([(size >> 21) & 0x7F, (size >> 14) & 0x7F,
                     (size >> 7) & 0x7F, size & 0x7F])
            + bytes(size)
        )
    if xing_frames is not None:
        bi0, p0 = frames[0]
        parts.append(one(bi0, p0, -1, xing_frames))
    for k, (bi, pad) in enumerate(frames):
        parts.append(one(bi, pad, k, None))
    if id3v1:
        parts.append(b"TAG" + bytes(125))
    return b"".join(parts)
