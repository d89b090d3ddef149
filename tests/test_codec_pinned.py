"""Byte-identity pin of the FLAC, Ogg-FLAC, JPEG and GIF encoders over a
seeded corpus.

One sha256 per encoder over every stream it writes for the corpus. The
corpus covers both channel counts, both block sizes, every stereo mode and
all four FLAC subframe families (constant, verbatim, fixed, LPC); JPEG at
4:4:4 and 4:2:0, with and without restart markers, at two qualities; and
GIF through both LZW strategies, including an image that fills the 12-bit
dictionary. A refactor of an encoder must leave its digest unchanged.
"""

import hashlib

import numpy as np
import pytest

from activity_files_spark.codecs import flac
from activity_files_spark.codecs.flac import encode_flac
from activity_files_spark.codecs.gif import encode_gif
from activity_files_spark.codecs.jpeg import encode_jpeg
from activity_files_spark.codecs.ogg import encode_ogg_flac

FLAC_SHA256 = "0ea4db618a91a219225df474cbdad5440859847c2b2f88644ba3c779c2886027"
OGG_FLAC_SHA256 = "8966806ee33a66e0ebeab410384549e5694fe086cb28b045c5e235e77cf520ca"
JPEG_SHA256 = "43f5f83f76c0aab9e4c3ad871560388639237bd43cbd46cc1c0e905c4b99a696"
GIF_SHA256 = "f0aa901a10c708aee9acb9a12f33e2bee7676f9db73f2009a506fc0f33ad7bdf"

STEREO_MODES = ("independent", "left_side", "mid_side", "auto")


def _digest(blobs) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(len(b).to_bytes(8, "big"))
        h.update(b)
    return h.hexdigest()


def _signals() -> dict[str, np.ndarray]:
    """One int16 channel per subframe family the encoder picks from."""
    rng = np.random.default_rng(14)
    n = 9000
    t = np.arange(n)
    tone = (np.sin(t * 0.031) * 9000 + np.sin(t * 0.177) * 4000
            + rng.normal(0, 30, n))
    return {
        "constant": np.full(n, -1234),
        "verbatim": rng.integers(-32768, 32768, n),
        "fixed": np.cumsum(rng.integers(-60, 61, n)) % 20000 - 10000,
        "lpc": tone,
        "extreme": np.where(t % 2, 32767, -32768),
    }


def _flac_inputs():
    """(samples, block_size, stereo_mode) for every pinned FLAC stream."""
    sig = {k: v.astype(np.int16) for k, v in _signals().items()}
    for bs in (500, 4096):
        for x in sig.values():
            yield x[:, None], bs, "auto"
        pairs = [("lpc", "lpc"), ("fixed", "lpc"), ("verbatim", "constant"),
                 ("extreme", "fixed")]
        for a, b in pairs:
            right = (sig[b].astype(np.int64) // 2 + sig[a] // 3).astype(np.int16)
            for mode in STEREO_MODES:
                yield np.stack([sig[a], right], axis=1), bs, mode
    yield np.zeros((0, 2), np.int16), 4096, "auto"
    yield np.array([[7]], np.int16), 4096, "auto"


def _flac_streams() -> list[bytes]:
    return [encode_flac(x, 8000, block_size=bs, stereo_mode=mode)
            for x, bs, mode in _flac_inputs()]


def _clip(uid: int) -> np.ndarray:
    """The registry's Ogg-FLAC clip (audio_ogg_flac_features)."""
    t = np.arange(2000, dtype=np.int64)
    left = np.abs((t * (137 + uid * 11)) % 8192 - 4096) - 2048
    return np.stack([left, ((t % 5) - 2) * 64 - left], axis=1).astype(np.int16)


def _ogg_streams() -> list[bytes]:
    out = [encode_ogg_flac(_clip(uid), 8000, block_size=500) for uid in range(4)]
    for x, bs, mode in list(_flac_inputs())[::5]:
        out.append(encode_ogg_flac(x, 8000, block_size=bs, stereo_mode=mode,
                                   serial=len(out)))
    return out


def _images() -> list[np.ndarray]:
    rng = np.random.default_rng(2024)
    yy, xx = np.mgrid[0:48, 0:64]
    smooth = np.stack([xx * 4, yy * 5, (xx + yy) * 2], axis=2)
    noisy = smooth + rng.normal(0, 25, smooth.shape)
    return [
        np.clip(noisy, 0, 255).astype(np.uint8),
        rng.integers(0, 256, (37, 53, 3), dtype=np.uint8),
        np.full((16, 16, 3), 255, np.uint8),
        np.clip(smooth, 0, 255).astype(np.uint8)[:9, :7],
    ]


def _jpeg_streams() -> list[bytes]:
    return [
        encode_jpeg(px, quality=q, subsampling=sub, restart_interval=ri)
        for px in _images()
        for sub in ("444", "420")
        for ri in (0, 2)
        for q in (50, 98)
    ]


def _gif_streams() -> list[bytes]:
    rng = np.random.default_rng(89)
    grays = [
        rng.integers(0, 256, (192, 256), dtype=np.uint8),  # fills the dictionary
        np.tile(np.arange(200, dtype=np.uint8), (40, 1)),
        np.full((64, 64), 3, np.uint8),
        (np.arange(253 * 4) % 256).astype(np.uint8).reshape(4, 253),
        np.array([[0]], np.uint8),
        rng.integers(0, 4, (31, 17), dtype=np.uint8),
    ]
    return [encode_gif(g, compress=c) for g in grays for c in (True, False)]


def test_flac_corpus_selects_every_subframe_family(monkeypatch):
    seen = set()
    decode = flac._decode_subframe

    def spy(r, n, bps):
        seen.add(flac._BitReader(r.d, r.p).read(8) >> 1)
        return decode(r, n, bps)

    monkeypatch.setattr(flac, "_decode_subframe", spy)
    for blob in _flac_streams():
        flac.parse_flac(blob)
    assert {0, 1} <= seen  # constant, verbatim
    assert any(8 <= t <= 12 for t in seen)  # fixed
    assert any(t >= 32 for t in seen)  # LPC


@pytest.mark.parametrize("streams,pinned", [
    (_flac_streams, FLAC_SHA256),
    (_ogg_streams, OGG_FLAC_SHA256),
    (_jpeg_streams, JPEG_SHA256),
    (_gif_streams, GIF_SHA256),
], ids=["flac", "ogg_flac", "jpeg", "gif"])
def test_encoder_bytes_are_pinned(streams, pinned):
    assert _digest(streams()) == pinned
