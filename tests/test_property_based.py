"""Property-based tests (hypothesis): the pure-python goldens are the
specification; randomized inputs probe edge cases the fixtures miss.

Spark is absent here except in one test — these pin the KERNEL semantics
(the four-way implementation parity tests in test_functions/test_hexgrid
already prove the Column/SQL twins equal the goldens). The exception,
test_asof_native_matches_channel_kernel, draws inputs for the two as-of
engines (the native window plan and the Arrow channel kernel) and needs a
session to run them."""

import math
from datetime import datetime, timedelta

import numpy as np
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from activity_files_spark.codecs.image import (
    decode_bmp,
    decode_jpeg,
    decode_png,
    encode_bmp,
    encode_jpeg,
    encode_png,
    psnr_db,
)
from activity_files_spark.functions.geo import haversine_m_py
from activity_files_spark.functions.hexgrid import hex_cell_np, hex_cell_py
from activity_files_spark.functions.quadkey import (
    cell_id_py,
    cell_id_to_quadkey,
    quadkey_py,
    tile_bounds_py,
    tile_xy_py,
)

lat_st = st.floats(min_value=-85.0, max_value=85.0, allow_nan=False)
lon_st = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)


@settings(max_examples=200, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=1, max_value=18))
def test_quadkey_point_in_own_tile_bounds(lat, lon, z):
    x, y = tile_xy_py(lat, lon, z)
    lon_w, lat_s, lon_e, lat_n = tile_bounds_py(x, y, z)
    assert lon_w - 1e-9 <= lon <= lon_e + 1e-9
    assert lat_s - 1e-6 <= lat <= lat_n + 1e-6


@settings(max_examples=200, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=2, max_value=18))
def test_quadkey_ladder_prefix_property(lat, lon, z):
    assert quadkey_py(lat, lon, z)[: z - 1] == quadkey_py(lat, lon, z - 1)


@settings(max_examples=200, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=1, max_value=18))
def test_packed_cell_id_bijective_with_quadkey(lat, lon, z):
    assert cell_id_to_quadkey(cell_id_py(lat, lon, z), z) == quadkey_py(lat, lon, z)


@settings(max_examples=150, deadline=None)
@given(lat_st, lon_st, st.integers(min_value=0, max_value=12))
def test_hex_py_np_agree(lat, lon, res):
    assert hex_cell_np(np.array([lat]), np.array([lon]), res)[0] == hex_cell_py(lat, lon, res)


@settings(max_examples=100, deadline=None)
@given(lat_st, lon_st, lat_st, lon_st)
def test_haversine_metric_properties(a, b, c, d):
    dab = haversine_m_py(a, b, c, d)
    dba = haversine_m_py(c, d, a, b)
    assert dab >= 0
    assert math.isclose(dab, dba, rel_tol=1e-9, abs_tol=1e-9)  # symmetry
    assert dab <= math.pi * 6_371_000 + 1  # bounded by half circumference


@settings(max_examples=30, deadline=None)
@given(
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=1, max_value=24),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_image_codecs_random_roundtrip(w, h, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)
    assert np.array_equal(decode_png(encode_png(px)), px)
    lossy = decode_jpeg(encode_jpeg(px))
    assert lossy.shape == px.shape
    # real JPEG (q98, 4:4:4) contract: bounded per-pixel quantization error
    # at every size (measured max 11 over 10^4 random images), and the
    # 40 dB PSNR floor once the image is large enough for the per-pixel
    # error distribution to concentrate (PSNR over a 2x2 image averages 12
    # samples — any lossy codec's PSNR has multi-dB variance there;
    # measured floor at >= 64 px is 41.4 dB over thousands of seeds)
    err = np.abs(px.astype(np.int16) - lossy.astype(np.int16)).max()
    assert err <= 16
    if px.shape[0] * px.shape[1] >= 64:
        assert psnr_db(px, lossy) >= 40.0


def _asof_reference(probes, samples, tol):
    """Plain-python nearest-within-tolerance, earlier-wins-ties oracle."""
    out = {}
    ss = sorted(samples)
    for pt in probes:
        best = None
        for (t, v) in ss:
            d = abs(t - pt)
            if d <= tol and (best is None or d < best[0]):
                best = (d, v)
        out[pt] = None if best is None else best[1]
    return out


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=12, unique=True),
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=300),
                  st.integers(min_value=0, max_value=1000)),
        min_size=0, max_size=12,
        unique_by=lambda t: t[0],
    ),
)
def test_asof_numpy_kernel_matches_reference(probe_ts, samples):
    """The numpy searchsorted kernel every as-of join runs
    (operators.asof._nearest_within) agrees with a brute-force oracle,
    including the earlier-wins tie rule, on arbitrary integer timelines."""
    from activity_files_spark.operators.asof import _nearest_within

    tol = 5.0
    st_arr = np.array(sorted(t for t, _ in samples), dtype=np.float64)
    sv_arr = np.array([v for t, v in sorted(samples)], dtype=np.float64)
    pt_arr = np.array(sorted(probe_ts), dtype=np.float64)
    best_v = _nearest_within(pt_arr, st_arr, sv_arr, tol)
    got = {
        float(p): (None if np.isnan(v) else float(v))
        for p, v in zip(pt_arr, best_v)
    }
    want = _asof_reference([float(p) for p in pt_arr],
                           [(float(t), float(v)) for t, v in samples], tol)
    assert got == want


_CHANNELS = ("heart_rate", "power", "temperature")
_T0 = datetime(2024, 3, 1, 10, 0, 0)

# one activity: probe seconds, and per channel (second, value) samples — a
# repeated second repeats its value or carries a null one, so the nearest
# usable sample's value is well defined even at duplicate timestamps
_activity_st = st.tuples(
    st.lists(st.integers(min_value=0, max_value=60), min_size=1, max_size=8),
    st.tuples(*[
        st.lists(
            st.tuples(st.integers(min_value=0, max_value=60),
                      st.sampled_from(["value", "null", "dup", "dup_null"])),
            max_size=8,
        )
        for _ in _CHANNELS
    ]),
)


def _samples_of(drawn, channel):
    """(second, value) rows of one drawn channel: value is a function of
    (channel, second); "dup" rows repeat their sample, "*null" rows add a
    null-valued one at the same second."""
    rows = []
    for t, kind in drawn:
        v = float(100 * (_CHANNELS.index(channel) + 1) + t)
        rows.append((t, None if kind == "null" else v))
        if kind.startswith("dup"):
            rows.append((t, None if kind == "dup_null" else v))
    return rows


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    st.lists(_activity_st, min_size=1, max_size=3),
    st.tuples(*[st.sampled_from([0.0, 1.0, 2.0, 5.0]) for _ in _CHANNELS]),
)
# an exact tie on every channel: samples 2 s before and after the probe
@example(
    [([10], tuple([(8, "value"), (12, "value")] for _ in _CHANNELS))],
    (2.0, 5.0, 1.0),
)
def test_asof_native_matches_channel_kernel(spark, activities, tols):
    """The native as-of join (operators.asof.asof_join, run once per channel)
    and the one Arrow channel kernel, in both its shapes (asof_channels_wide's
    cogroup and the per-partition shape snap_channels_to_points uses), map
    the same value onto every probe — on drawn timelines with exact ties, duplicate sample
    timestamps, null-valued samples and a different tolerance per channel —
    and both equal the brute-force nearest-within-tolerance oracle."""
    from pyspark.sql import functions as F

    from activity_files_spark.operators.asof import (
        _asof_channels_per_partition,
        asof_channels_wide,
        asof_join,
    )

    tolerances = dict(zip(_CHANNELS, tols))
    probe_rows, channel_rows = [], []
    for a, (probe_s, drawn) in enumerate(activities):
        aid = f"a{a}"
        probe_rows += [(aid, i, _T0 + timedelta(seconds=t)) for i, t in enumerate(probe_s)]
        for ch, d in zip(_CHANNELS, drawn):
            channel_rows += [(aid, ch, _T0 + timedelta(seconds=t), v) for t, v in _samples_of(d, ch)]
    probes = spark.createDataFrame(probe_rows, "activity_id string, seq long, ts timestamp")
    channels = spark.createDataFrame(
        channel_rows, "activity_id string, channel string, ts timestamp, value double"
    )

    native = probes
    for ch in _CHANNELS:
        stream = channels.filter(F.col("channel") == ch).select("activity_id", "ts", "value")
        native = asof_join(native, stream, tolerance_s=tolerances[ch], out=ch)
    kernel = asof_channels_wide(probes, channels, tolerances)
    per_partition = _asof_channels_per_partition(
        probes, channels, tolerances, "activity_id", "ts"
    )

    def mapped(df):
        return {
            (r["activity_id"], r["seq"], ch): (None if r[ch] is None or r[ch] != r[ch] else r[ch])
            for r in df.collect() for ch in _CHANNELS
        }

    got_native, got_kernel = mapped(native), mapped(kernel)
    assert got_native == got_kernel == mapped(per_partition)
    for a, (probe_s, drawn) in enumerate(activities):
        for ch, d in zip(_CHANNELS, drawn):
            usable = [(float(t), v) for t, v in _samples_of(d, ch) if v is not None]
            want = _asof_reference([float(t) for t in probe_s], usable, tolerances[ch])
            for i, t in enumerate(probe_s):
                assert got_native[(f"a{a}", i, ch)] == want[float(t)], (a, i, ch)


# ---------------------------------------------------------------- integer ANN

vec_st = st.lists(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
    min_size=8, max_size=8,
)


@settings(max_examples=200, deadline=None)
@given(vec_st, st.integers(min_value=0, max_value=31))
def test_lsh_integer_projection_matches_pure_python(vec, table):
    """The LSH/IVF quantized projection (numpy int matmul) must equal a
    pure-python integer fold — exact by construction (|x*1024| <= ~1e9,
    |w| < 2^19, dim 8 -> |dot| < 2^52, far inside int64), so any divergence
    means an overflow or a quantization-rule change that would break the
    DuckDB oracles."""
    from activity_files_spark.operators.similarity import (
        LSH_VEC_SCALE,
        _hyperplanes_int,
    )

    n_planes = 4
    planes = _hyperplanes_int(8, n_planes, table)
    x = np.array(vec, dtype=np.float64)
    xq = np.floor(x * LSH_VEC_SCALE).astype(np.int64)
    mat = np.array(planes, dtype=np.int64).T  # (dim, planes)
    np_dots = xq @ mat

    for p in range(n_planes):
        py_dot = 0
        for d in range(8):
            py_dot += int(math.floor(vec[d] * LSH_VEC_SCALE)) * planes[p][d]
        assert py_dot == np_dots[p]
        # bucket bit decision identical
        assert (py_dot > 0) == bool(np_dots[p] > 0)


@settings(max_examples=100, deadline=None)
@given(st.lists(vec_st, min_size=1, max_size=6))
def test_ivf_assignment_tiebreak_is_lower_centroid(vecs):
    """ivf_assign's stable argsort must pick the LOWER centroid id on exact
    dot ties — the rule the SQL oracle replays (ORDER BY dot DESC, c)."""
    from activity_files_spark.operators.similarity import (
        LSH_VEC_SCALE,
        _hyperplanes_int,
    )

    cents = np.array(_hyperplanes_int(8, 16, table=99), dtype=np.int64)
    x = np.array(vecs, dtype=np.float64)
    xq = np.floor(x * LSH_VEC_SCALE).astype(np.int64)
    dots = xq @ cents.T
    top = np.argsort(-dots, axis=1, kind="stable")[:, 0]
    for i in range(len(vecs)):
        best = max(range(16), key=lambda c: (dots[i][c], -c))
        assert top[i] == best


@settings(max_examples=60, deadline=None)
@given(
    st.binary(min_size=0, max_size=2000),
    st.integers(min_value=0, max_value=0xFFFF),
)
def test_fit_crc16_vectorized_matches_nibble_reference(data, init):
    """The GF(2)-linear bulk CRC path (numpy row lanes + shift-table fold)
    must be bit-identical to the reference nibble-table loop for any data
    and any incoming state — padded past the bulk threshold so both row
    math and the tail loop are exercised."""
    from activity_files_spark.codecs.crc import BULK_MIN_BYTES
    from activity_files_spark.sources.fit import _crc16_scalar, fit_crc16

    assert fit_crc16(data, init) == _crc16_scalar(data, init)
    n = BULK_MIN_BYTES + 17  # whole rows through the fold, 17 tail bytes
    big = ((data or b"\x00") * (n // max(1, len(data)) + 1))[:n]
    assert fit_crc16(big, init) == _crc16_scalar(big, init)
