"""Real baseline JPEG codec (codecs/jpeg.py): round trips, subsampling,
restart markers, header facts, and adversarial bitstreams."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from activity_files_spark.codecs.image import psnr_db
from activity_files_spark.codecs.jpeg import (
    QUANT_CHROMA,
    QUANT_LUMA,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
    jpeg_stats,
    quant_table,
)
from activity_files_spark.data.images import pixels_for


def _rand(h, w, seed=0):
    return np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("dims", [(8, 8), (16, 16), (17, 9), (33, 31), (64, 48), (128, 130)])
@pytest.mark.parametrize("sub", ["444", "420"])
def test_roundtrip_shapes_and_psnr(dims, sub):
    w, h = dims
    px = pixels_for(5, w, h)
    out = decode_jpeg(encode_jpeg(px, quality=98, subsampling=sub))
    assert out.shape == px.shape
    if sub == "444":
        assert psnr_db(px, out) >= 40.0
    else:
        # 4:2:0 halves chroma resolution; smooth tiers stay high-fidelity,
        # sawtooth fixtures legitimately lose chroma detail
        assert psnr_db(px, out) >= 15.0


def test_flat_image_near_exact():
    px = np.full((40, 40, 3), 137, np.uint8)
    out = decode_jpeg(encode_jpeg(px, quality=98))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 2


def test_smooth_tier_high_fidelity_420():
    xs = np.linspace(0, 1, 64)
    smooth = (np.stack([np.add.outer(xs, xs)] * 3, -1) / 2 * 255).astype(np.uint8)
    assert psnr_db(smooth, decode_jpeg(encode_jpeg(smooth, 90, "420"))) >= 45.0


@pytest.mark.parametrize("ri", [1, 3, 7])
def test_restart_markers_roundtrip(ri):
    px = pixels_for(9, 48, 40)
    data = encode_jpeg(px, quality=95, restart_interval=ri)
    stats = jpeg_stats(data)
    assert stats["restart_interval"] == ri
    assert stats["n_restart_markers"] >= 1
    out = decode_jpeg(data)
    # restart segmentation must not change the reconstruction
    base = decode_jpeg(encode_jpeg(px, quality=95))
    assert np.array_equal(out, base)


def test_quality_scaling_integer_formula():
    for q in (10, 50, 75, 96, 100):
        s = 5000 // q if q < 50 else 200 - 2 * q
        expect = np.clip((QUANT_LUMA * s + 50) // 100, 1, 255)
        assert np.array_equal(quant_table(QUANT_LUMA, q), expect)
    assert (quant_table(QUANT_LUMA, 100) == 1).all()


def test_jpeg_stats_header_facts():
    px = pixels_for(2, 32, 24)
    data = encode_jpeg(px, quality=96)
    s = jpeg_stats(data)
    assert (s["width"], s["height"]) == (32, 24)
    assert s["n_components"] == 3
    assert s["n_dqt_tables"] == 2 and s["n_dht_tables"] == 4
    assert s["dqt_sum_luma"] == int(quant_table(QUANT_LUMA, 96).sum())
    assert s["dqt_sum_chroma"] == int(quant_table(QUANT_CHROMA, 96).sum())
    assert s["max_h_sampling"] == 1
    s420 = jpeg_stats(encode_jpeg(px, quality=96, subsampling="420"))
    assert s420["max_h_sampling"] == 2 and s420["max_v_sampling"] == 2


def test_byte_stuffing_roundtrip():
    # high-entropy input produces 0xFF bytes in the scan -> stuffing must
    # round-trip exactly through the decoder's unstuffing
    px = _rand(32, 32, seed=3)
    data = encode_jpeg(px, quality=98)
    sos = data.find(b"\xff\xda")
    assert b"\xff\x00" in data[sos:]
    assert decode_jpeg(data).shape == px.shape


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG.tolist()) == list(range(64))


def test_progressive_sof2_not_implemented():
    px = pixels_for(1, 16, 16)
    data = bytearray(encode_jpeg(px))
    i = bytes(data).find(b"\xff\xc0")
    data[i + 1] = 0xC2  # flip SOF0 -> SOF2
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(data))


def test_truncated_scan_raises_value_error():
    px = pixels_for(1, 32, 32)
    data = encode_jpeg(px)
    with pytest.raises(ValueError):
        decode_jpeg(data[: len(data) // 2] + b"\xff\xd9")


def test_not_a_jpeg_raises():
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG\r\n\x1a\n" + b"\x00" * 16)


def test_truncated_header_raises():
    px = pixels_for(1, 16, 16)
    data = encode_jpeg(px)
    with pytest.raises(ValueError):
        decode_jpeg(data[:20])


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=1, max_value=20),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.sampled_from(["444", "420"]),
    st.sampled_from([0, 2]),
)
def test_property_roundtrip_never_crashes(w, h, seed, sub, ri):
    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(px, quality=98, subsampling=sub, restart_interval=ri))
    assert out.shape == px.shape
    assert out.dtype == np.uint8
    if sub == "444":
        assert psnr_db(px, out) >= 40.0 or np.array_equal(px, out)


# ----------------------------------------------------- native kernel parity

def _decode_pure_python(data):
    """Force the pure-python reference walk regardless of the compiled
    kernel's availability (``_lib = False`` is the kernel-unavailable
    state), restoring the dispatch state afterwards."""
    from activity_files_spark.codecs import _native

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(_native, "_lib", False)
        return decode_jpeg(data)


def test_planted_cache_file_is_not_loaded(tmp_path, monkeypatch):
    """A file at the kernel's cache name that anyone may write is never
    handed to ctypes: the kernel is rebuilt, and decode gives the pixels
    of the pure-python walk."""
    import ctypes
    import tempfile

    from activity_files_spark.codecs import _native

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    planted = tmp_path / _native.SO_NAME
    planted.write_bytes(b"planted")
    planted.chmod(0o666)
    loaded = []
    real_cdll = ctypes.CDLL

    def cdll(path, *args, **kwargs):
        with open(path, "rb") as f:
            loaded.append(f.read(len(b"planted")))
        return real_cdll(path, *args, **kwargs)

    monkeypatch.setattr(ctypes, "CDLL", cdll)
    monkeypatch.setattr(_native, "_lib", None)
    px = np.random.default_rng(7).integers(0, 256, (24, 40, 3), dtype=np.uint8)
    data = encode_jpeg(px, quality=90)
    assert np.array_equal(decode_jpeg(data), _decode_pure_python(data))
    assert _native._lib, "the kernel was not rebuilt"
    assert loaded and b"planted" not in loaded


def test_native_kernel_available():
    # the sandbox ships cc; if this ever fails the fallback still keeps
    # decode correct, but the perf tier should know the kernel vanished
    from activity_files_spark.codecs._native import chase_lib

    assert chase_lib() is not None


@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**31 - 1),
    st.sampled_from(["444", "420"]),
    st.sampled_from([0, 3]),
    st.sampled_from([35, 80, 98]),
)
def test_native_matches_python_walk(w, h, seed, sub, ri, q):
    from activity_files_spark.codecs._native import chase_lib

    if chase_lib() is None:
        pytest.skip("no C compiler")
    px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
    data = encode_jpeg(px, quality=q, subsampling=sub, restart_interval=ri)
    assert np.array_equal(decode_jpeg(data), _decode_pure_python(data))


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=1, max_value=200),
)
def test_native_matches_python_on_corrupt_scan(seed, cut):
    """Truncated / bit-flipped entropy streams: both walks must agree on
    decode-or-reject, and on the pixels whenever both decode."""
    from activity_files_spark.codecs._native import chase_lib

    if chase_lib() is None:
        pytest.skip("no C compiler")
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    data = bytearray(encode_jpeg(px, quality=90, restart_interval=2))
    # flip a byte inside the scan (after SOS payload start)
    sos = bytes(data).find(b"\xff\xda")
    pos = min(len(data) - 3, sos + 14 + int(cut))
    data[pos] ^= 0x5A
    blob = bytes(data)
    try:
        a = decode_jpeg(blob)
        a_err = None
    except (ValueError, NotImplementedError) as e:
        a, a_err = None, type(e)
    try:
        b = _decode_pure_python(blob)
        b_err = None
    except (ValueError, NotImplementedError) as e:
        b, b_err = None, type(e)
    assert a_err == b_err
    if a is not None:
        assert np.array_equal(a, b)
