"""Multimodal columns: audio/video as opaque binary + typed metadata.

Seven REAL container codecs are implemented pure-python (the sandbox has no
media libraries): RIFF/WAVE PCM16, FLAC (codecs/flac.py — a real RFC 9639
bitstream codec with rice coding and stereo decorrelation), Ogg-FLAC
(codecs/ogg.py — RFC 3533 page framing + the xiph FLAC-to-Ogg mapping
over the same bitstream codec), and the MP3 frame layer (codecs/mp3.py —
header/length math, CRC-16, ID3, Xing/VBRI) for audio; YUV4MPEG2 (Y4M,
the format ffmpeg/x264/mplayer exchange uncompressed video in), ISO BMFF
MP4 with QuickTime 'raw ' uncompressed RGB payloads (codecs/mp4.py — real
box walk + stts/stsc/stsz/stco sample-table demux), and Matroska/WebM
(codecs/mkv.py — real EBML walk with laced I420 blocks) for video.
The one remaining PCM-decode stub is MP3 Layer III audio synthesis
(polyphase filterbank + huffman tables — a binding's job); its container
walk is real, the same container-vs-payload split as MP4 avc1 / MKV V_VP9
payloads. The Spark-side plumbing (schemas, Arrow batch shapes,
frame/sample offset math, partitioning) is identical for a real libav
binding dropped in.

Schemas:
  audio: (clip_id string, bytes binary, sample_rate int, n_samples long,
          channels int, fmt string)
  video: (clip_id string, bytes binary, w int, h int, fps double,
          n_frames long, fmt string)

Raw codecs ("rawpcm16" / "rawrgb") are REAL in the sense that the bytes
are exactly the samples/frames — so offset math is fully exercised.

Kernel/wrapper split: each per-clip operator is a ``<name>_kernel``
factory returning a :class:`~activity_files_spark.operators.kernels.Kernel`
(the mapInPandas body and its output schema: ``audio_features_kernel``,
``mp3_container_stats_kernel``, ``sample_frames_kernel``,
``frame_stats_kernel``) and a one-line DataFrame wrapper,
``map_kernels(df, <name>_kernel(...))``. A query whose generator feeds a
kernel directly (sample_frames into frame_stats) passes the whole chain
to ``map_kernels``, so it runs in one Python worker per task.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from activity_files_spark.operators.kernels import Kernel, map_kernels

AUDIO_SCHEMA = (
    "clip_id string, bytes binary, sample_rate int, n_samples long, "
    "channels int, fmt string"
)
VIDEO_SCHEMA = (
    "clip_id string, bytes binary, w int, h int, fps double, n_frames long, fmt string"
)

STUB_AUDIO_FMTS = {"mp3"}  # still-stubbed compressed codecs
# flac moved OUT of the stub set in round 5: codecs/flac.py is a real
# pure-python RFC 9639 decoder/encoder (the format is fully public).
# ogg followed within the round: codecs/ogg.py demuxes RFC 3533 pages and
# decodes the FLAC-in-Ogg mapping through the same bitstream codec
# (ogg-vorbis payloads still raise — vorbis needs an MDCT binding).
# mp4 followed too: codecs/mp4.py walks ISO BMFF boxes + sample tables for
# real and decodes 'raw ' (QuickTime uncompressed RGB) payloads; avc1/hev1
# and other compressed sample entries raise inside parse_mp4_raw with the
# container metadata still parsed.
# mkv/webm closed the video stub set: codecs/mkv.py is a real EBML
# (RFC 8794) + Matroska walker — V_UNCOMPRESSED I420 decodes for real;
# compressed CodecIDs (V_VP8/V_VP9/V_AV1/...) raise at pixel-decode time
# with the container metadata still parsed, same boundary as MP4 avc1.
# mp3 PCM decode stays the one honest stub: a Layer III decoder needs
# huffman/IMDCT/polyphase DSP with no exact-integer oracle — binding
# territory. Its *frame layer* (codecs/mp3.py) parses for real though:
# header walk, frame-length math, CRC-16 verification, ID3v2/ID3v1,
# Xing/VBRI — the container metadata a 100 TB pipeline routes on
# (mp3_container_stats below), same split as MP4 avc1 / MKV V_VP9.


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """REAL RIFF/WAVE PCM16 encoder (no external libs — the container spec:
    RIFF header + fmt chunk (audio format 1, little-endian) + data chunk).
    ``samples``: int16 (n_samples, channels)."""
    if samples.dtype != np.int16:
        raise ValueError("encode_wav wants int16 samples")
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * ch * 2
    fmt_chunk = struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, ch, sample_rate,
                            byte_rate, ch * 2, 16)
    data_chunk = struct.pack("<4sI", b"data", len(data)) + data
    riff_len = 4 + len(fmt_chunk) + len(data_chunk)
    return struct.pack("<4sI4s", b"RIFF", riff_len, b"WAVE") + fmt_chunk + data_chunk


def parse_wav(data: bytes) -> tuple[np.ndarray, int]:
    """REAL RIFF/WAVE PCM16 decoder: walks the chunk list (tolerating extra
    chunks like LIST/INFO), reads the fmt header, returns
    (int16 (n_samples, channels), sample_rate)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    channels = sample_rate = bits = None
    pcm = None
    while pos + 8 <= len(data):
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            audio_format, channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_format != 1 or bits != 16:
                raise NotImplementedError(
                    f"WAV audio_format={audio_format} bits={bits}: only "
                    "PCM16 is implemented"
                )
        elif cid == b"data":
            pcm = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if channels is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    arr = np.frombuffer(pcm, dtype="<i2")
    return arr.reshape(len(arr) // channels, channels), int(sample_rate)


def decode_audio(data: bytes, fmt: str, n_samples: int, channels: int) -> np.ndarray:
    """-> int16 array (n_samples, channels). WAV/PCM16 and FLAC
    (codecs/flac.py, real bitstream decode) decode for real; the remaining
    compressed codecs (mp3/ogg) are honestly stubbed."""
    if fmt == "wav":
        samples, _ = parse_wav(bytes(data))
        return samples
    if fmt in ("flac", "ogg"):
        if fmt == "flac":
            from activity_files_spark.codecs.flac import parse_flac as _parse
        else:
            from activity_files_spark.codecs.ogg import parse_ogg_flac as _parse

        samples, _sr, bps = _parse(bytes(data))
        if bps != 16:
            raise NotImplementedError(f"{fmt} bit depth {bps}: pipeline is int16")
        return samples.astype(np.int16)
    if fmt in STUB_AUDIO_FMTS:
        raise NotImplementedError(
            f"audio codec {fmt!r} needs a soundfile/ffmpeg binding (not in "
            "this container); 'wav', 'flac', 'ogg' (ogg-flac), and "
            "'rawpcm16' decode here"
        )
    if fmt != "rawpcm16":
        raise ValueError(f"unknown audio fmt {fmt!r}")
    return np.frombuffer(data, dtype="<i2").reshape(n_samples, channels)


def encode_y4m(
    frames,
    fps: tuple[int, int] = (30, 1),
    colorspace: str = "C444",
) -> bytes:
    """REAL YUV4MPEG2 (Y4M) encoder — WAV's video twin: a plain-text stream
    header (``YUV4MPEG2 W.. H.. F<num>:<den> Ip A1:1 <colorspace>``) followed
    by ``FRAME`` markers + raw uncompressed planes. No external libs; the
    format mplayer/ffmpeg/x264 exchange raw video in.

    ``frames`` by colorspace:
      C444   — uint8 (n, h, w, 3), one full-resolution plane per channel
      Cmono  — uint8 (n, h, w), luma only
      C420*  — tuple (y, u, v): y uint8 (n, h, w); u, v uint8 (n, h/2, w/2)
               (4:2:0 chroma subsampling; h and w must be even)
    """
    if colorspace.startswith("C444"):
        f = np.asarray(frames)
        if f.dtype != np.uint8 or f.ndim != 4 or f.shape[3] != 3:
            raise ValueError("C444 wants uint8 (n, h, w, 3)")
        n, h, w, _ = f.shape
        planes = f.transpose(0, 3, 1, 2)  # (n, 3, h, w)
        frame_payloads = [planes[i].tobytes() for i in range(n)]
    elif colorspace == "Cmono":
        f = np.asarray(frames)
        if f.dtype != np.uint8 or f.ndim != 3:
            raise ValueError("Cmono wants uint8 (n, h, w)")
        n, h, w = f.shape
        frame_payloads = [f[i].tobytes() for i in range(n)]
    elif colorspace.startswith("C420"):
        y, u, v = (np.asarray(p) for p in frames)
        n, h, w = y.shape
        if h % 2 or w % 2:
            raise ValueError("C420 requires even frame dimensions")
        if u.shape != (n, h // 2, w // 2) or v.shape != u.shape:
            raise ValueError("C420 chroma planes must be (n, h/2, w/2)")
        if y.dtype != np.uint8 or u.dtype != np.uint8 or v.dtype != np.uint8:
            raise ValueError("C420 wants uint8 planes")
        frame_payloads = [
            y[i].tobytes() + u[i].tobytes() + v[i].tobytes() for i in range(n)
        ]
    else:
        raise NotImplementedError(f"Y4M colorspace {colorspace!r} not implemented")
    header = f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 {colorspace}\n"
    return header.encode("ascii") + b"".join(
        b"FRAME\n" + p for p in frame_payloads
    )


def parse_y4m(data: bytes) -> tuple[np.ndarray, dict]:
    """REAL YUV4MPEG2 decoder: parses the stream-header parameter list (any
    order; unknown ``X`` extensions tolerated), walks the ``FRAME`` markers
    (per-frame parameters tolerated), and returns interleaved uint8
    ``(n, h, w, 3)`` frames + a meta dict (w, h, fps_num, fps_den,
    colorspace, n_frames).

    Chroma handling: C444 planes pass through; C420* subsampled chroma is
    upsampled nearest-neighbor (``plane[y, x] = sub[y//2, x//2]`` — exact
    integer replication, so downstream reductions stay engine-replayable);
    Cmono replicates luma into all three channels. 4:2:2 and packed
    variants raise NotImplementedError.
    """
    if not data.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = data.find(b"\n")
    if nl < 0:
        raise ValueError("Y4M header not terminated")
    w = h = None
    fps_num, fps_den = 30, 1
    cs = "C420"  # the spec default when no C parameter is present
    for tok in data[9:nl].split():
        t = tok.decode("ascii", "replace")
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("F"):
            num, den = t[1:].split(":")
            fps_num, fps_den = int(num), int(den)
        elif t.startswith("C"):
            cs = t
        # I (interlace), A (aspect), X (extensions): tolerated, unused
    if w is None or h is None or w <= 0 or h <= 0:
        raise ValueError("Y4M header missing W/H")
    ysize = w * h
    if cs.startswith("C444") and "p" not in cs:  # C444 planar (not packed)
        csize, sub = ysize, 1
    elif cs.startswith("C420"):
        if h % 2 or w % 2:
            raise ValueError("C420 stream with odd dimensions")
        csize, sub = (h // 2) * (w // 2), 2
    elif cs == "Cmono":
        csize, sub = 0, 1
    else:
        raise NotImplementedError(f"Y4M colorspace {cs!r} not implemented")
    need = ysize + 2 * csize
    frames = []
    pos = nl + 1
    while pos < len(data):
        fnl = data.find(b"\n", pos)
        if fnl < 0 or not data[pos:fnl].startswith(b"FRAME"):
            raise ValueError(f"bad FRAME marker at byte {pos}")
        pos = fnl + 1
        if pos + need > len(data):
            raise ValueError("truncated Y4M frame payload")
        yp = np.frombuffer(data, np.uint8, ysize, pos).reshape(h, w)
        pos += ysize
        if csize:
            hc, wc = h // sub, w // sub
            up = np.frombuffer(data, np.uint8, csize, pos).reshape(hc, wc)
            pos += csize
            vp = np.frombuffer(data, np.uint8, csize, pos).reshape(hc, wc)
            pos += csize
            if sub > 1:
                up = np.repeat(np.repeat(up, sub, axis=0), sub, axis=1)
                vp = np.repeat(np.repeat(vp, sub, axis=0), sub, axis=1)
        else:
            up = vp = yp
        frames.append(np.stack([yp, up, vp], axis=-1))
    out = (
        np.stack(frames)
        if frames
        else np.zeros((0, h, w, 3), dtype=np.uint8)
    )
    return out, {"w": w, "h": h, "fps_num": fps_num, "fps_den": fps_den,
                 "colorspace": cs, "n_frames": len(frames)}


def decode_video_frame(data: bytes, fmt: str, w: int, h: int, frame: int) -> np.ndarray:
    """-> uint8 (h, w, 3) for one frame ('y4m' decodes YUV planes for real;
    compressed codecs are honestly stubbed)."""
    if fmt == "y4m":
        frames, _meta = parse_y4m(bytes(data))
        return frames[frame]
    if fmt == "mp4":
        from activity_files_spark.codecs.mp4 import parse_mp4_raw

        frames, _meta = parse_mp4_raw(bytes(data))
        return frames[frame]
    if fmt in ("mkv", "webm"):
        from activity_files_spark.codecs.mkv import parse_mkv

        frames, _meta = parse_mkv(bytes(data))
        return frames[frame]
    if fmt != "rawrgb":
        raise ValueError(f"unknown video fmt {fmt!r}")
    frame_bytes = w * h * 3
    off = frame * frame_bytes
    return np.frombuffer(data[off : off + frame_bytes], dtype=np.uint8).reshape(h, w, 3)


def synth_audio(spark: SparkSession, n: int, sample_rate: int = 8000, seconds: float = 0.25) -> DataFrame:
    """Deterministic sine-ish PCM16 clips generated executor-side."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                ns = int(sample_rate * seconds)
                t = np.arange(ns)
                wave = (np.sin(2 * np.pi * (100 + int(i) * 7) * t / sample_rate) * 20000).astype("<i2")
                rows.append({
                    "clip_id": f"aud_{int(i):08d}", "bytes": wave.tobytes(),
                    "sample_rate": sample_rate, "n_samples": ns, "channels": 1,
                    "fmt": "rawpcm16",
                })
            yield pd.DataFrame(rows)

    return spark.range(n, numPartitions=max(2, n // 64)).mapInPandas(gen, AUDIO_SCHEMA)


def synth_video(spark: SparkSession, n: int, w: int = 8, h: int = 6, n_frames: int = 5) -> DataFrame:
    """Deterministic raw-RGB clips: frame f pixel (x,y) = fn(i, f, x, y)."""

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                frames = []
                for f in range(n_frames):
                    y, x = np.mgrid[0:h, 0:w]
                    px = np.stack(
                        [(x + f + int(i)) % 256, (y * 3 + f) % 256, (x * y + int(i)) % 256],
                        axis=-1,
                    ).astype(np.uint8)
                    frames.append(px.tobytes())
                rows.append({
                    "clip_id": f"vid_{int(i):08d}", "bytes": b"".join(frames),
                    "w": w, "h": h, "fps": 10.0, "n_frames": n_frames, "fmt": "rawrgb",
                })
            yield pd.DataFrame(rows)

    return spark.range(n, numPartitions=max(2, n // 64)).mapInPandas(gen, VIDEO_SCHEMA)


def audio_features(audio: DataFrame) -> DataFrame:
    """Per-clip features (rms, peak, zero-crossing rate) of AUDIO_SCHEMA
    rows: :func:`audio_features_kernel` in one mapInPandas."""
    return map_kernels(audio, audio_features_kernel())


def audio_features_kernel() -> Kernel:
    """Decode each clip and reduce it to (clip_id, rms, peak, zcr). The
    numpy body is exactly what a real decoder would feed."""

    schema = "clip_id string, rms double, peak int, zcr double"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                x = decode_audio(bytes(r.bytes), r.fmt, r.n_samples, r.channels).astype(np.float64)
                rms = float(np.sqrt(np.mean(x * x)))
                peak = int(np.max(np.abs(x)))
                zc = float(np.mean(np.abs(np.diff(np.signbit(x[:, 0]).astype(np.int8)))))
                rows.append({"clip_id": r.clip_id, "rms": rms, "peak": peak, "zcr": zc})
            yield pd.DataFrame(rows)

    return Kernel(kernel, schema)


def mp3_container_stats(clips: DataFrame) -> DataFrame:
    """Per-clip MP3 frame-layer metadata of AUDIO_SCHEMA rows:
    :func:`mp3_container_stats_kernel` in one mapInPandas."""
    return map_kernels(clips, mp3_container_stats_kernel())


def mp3_container_stats_kernel() -> Kernel:
    """Per-clip MPEG audio (MP3) frame-layer metadata from
    codecs/mp3.py's real frame walk — the route/slice/duration index a
    100 TB media pipeline needs before spending payload-decode cycles.
    All-integer outputs so a SQL oracle can replay every field exactly."""

    schema = (
        "clip_id string, n_frames long, samples_total long, audio_bytes long, "
        "bitrate_sum_kbps long, distinct_bitrates int, sample_rate int, "
        "layer int, channel_mode string, crc_frames long, crc_ok_frames long, "
        "xing_frames long, id3v2_bytes long, id3v1 boolean, truncated boolean"
    )

    def kernel(batches):
        from activity_files_spark.codecs.mp3 import parse_mp3_meta

        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                m = parse_mp3_meta(bytes(r.bytes))
                x = m["xing"]
                rows.append({
                    "clip_id": r.clip_id,
                    "n_frames": m["n_frames"],
                    "samples_total": m["samples_total"],
                    "audio_bytes": m["audio_bytes"],
                    "bitrate_sum_kbps": m["bitrate_sum_kbps"],
                    "distinct_bitrates": m["distinct_bitrates"],
                    "sample_rate": m["sample_rate"],
                    "layer": m["layer"],
                    "channel_mode": m["channel_mode"],
                    "crc_frames": m["crc_frames"],
                    "crc_ok_frames": m["crc_ok_frames"],
                    "xing_frames": None if x is None else x["frames"],
                    "id3v2_bytes": m["id3v2_bytes"],
                    "id3v1": m["id3v1"],
                    "truncated": m["truncated"],
                })
            yield pd.DataFrame(rows)

    return Kernel(kernel, schema)


def frame_stats(frames: DataFrame) -> DataFrame:
    """Per-sampled-frame channel sums of :func:`sample_frames` rows:
    :func:`frame_stats_kernel` in one mapInPandas."""
    return map_kernels(frames, frame_stats_kernel())


def frame_stats_kernel() -> Kernel:
    """Per-sampled-frame channel sums over the decoded RGB pixels
    (clip_id, frame_idx, sum_r, sum_g, sum_b) — exact integer reductions,
    so a SQL oracle can replay them from the pixel formula."""
    schema = "clip_id string, frame_idx int, sum_r long, sum_g long, sum_b long"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = np.frombuffer(bytes(r.frame_bytes), dtype=np.uint8).reshape(
                    r.h, r.w, 3
                ).astype(np.int64)
                s = px.sum(axis=(0, 1))
                rows.append({
                    "clip_id": r.clip_id, "frame_idx": int(r.frame_idx),
                    "sum_r": int(s[0]), "sum_g": int(s[1]), "sum_b": int(s[2]),
                })
            yield pd.DataFrame(rows)

    return Kernel(kernel, schema)


def sample_frames(video: DataFrame, every: int = 2) -> DataFrame:
    """Sampled frames of VIDEO_SCHEMA rows: :func:`sample_frames_kernel`
    in one mapInPandas."""
    return map_kernels(video, sample_frames_kernel(every))


def sample_frames_kernel(every: int = 2) -> Kernel:
    """Explode each clip into sampled frames (frame index % every == 0):
    (clip_id, frame_idx, frame_bytes, w, h). Offset math on the raw bytes —
    the exact plumbing a real frame extractor uses."""

    schema = "clip_id string, frame_idx int, frame_bytes binary, w int, h int"

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                data = bytes(r.bytes)
                if r.fmt == "y4m":
                    # container-aware: chunk-walk the FRAME markers, emit
                    # interleaved RGB-shaped planes (the same downstream
                    # contract as rawrgb)
                    frames, meta = parse_y4m(data)
                    for f in range(0, meta["n_frames"], every):
                        rows.append({
                            "clip_id": r.clip_id, "frame_idx": f,
                            "frame_bytes": frames[f].tobytes(),
                            "w": meta["w"], "h": meta["h"],
                        })
                    continue
                if r.fmt == "mp4":
                    # container-aware: resolve the stts/stsc/stsz/stco
                    # sample tables to byte ranges and slice mdat directly
                    # — no full-file decode for skipped frames
                    from activity_files_spark.codecs.mp4 import parse_mp4_meta

                    meta = parse_mp4_meta(data)
                    if meta["codec"] != "raw ":
                        raise NotImplementedError(
                            f"mp4 sample entry {meta['codec']!r} needs an "
                            "ffmpeg binding"
                        )
                    for f in range(0, meta["n_samples"], every):
                        off, size = meta["sample_ranges"][f]
                        rows.append({
                            "clip_id": r.clip_id, "frame_idx": f,
                            "frame_bytes": data[off : off + size],
                            "w": meta["w"], "h": meta["h"],
                        })
                    continue
                if r.fmt in ("mkv", "webm"):
                    # container-aware: EBML walk resolves every block's
                    # byte range; only the sampled frames are decoded
                    # (I420 -> interleaved with the exact 2x2 chroma
                    # replication, the same contract as the y4m branch)
                    from activity_files_spark.codecs.mkv import (
                        decode_i420_frame,
                        parse_mkv_meta,
                    )

                    meta = parse_mkv_meta(data)
                    if meta["codec"] != "V_UNCOMPRESSED":
                        raise NotImplementedError(
                            f"Matroska codec {meta['codec']!r} needs an "
                            "ffmpeg binding"
                        )
                    for f in range(0, meta["n_frames"], every):
                        off, size, _ts = meta["frames"][f]
                        rows.append({
                            "clip_id": r.clip_id, "frame_idx": f,
                            "frame_bytes": decode_i420_frame(
                                data, off, size, meta["w"], meta["h"]
                            ).tobytes(),
                            "w": meta["w"], "h": meta["h"],
                        })
                    continue
                fb = r.w * r.h * 3
                for f in range(0, int(r.n_frames), every):
                    rows.append({
                        "clip_id": r.clip_id, "frame_idx": f,
                        "frame_bytes": data[f * fb : (f + 1) * fb],
                        "w": r.w, "h": r.h,
                    })
            yield pd.DataFrame(rows)

    return Kernel(kernel, schema)
