"""DTW kernel vs a brute recursive oracle; band semantics; Spark parity."""

from __future__ import annotations

import functools
import math

from activity_files_spark.functions.geo import haversine_m_exact
from activity_files_spark.operators.trajectory import (
    index_resample,
    lattice_distance,
    lattice_refine,
)


def _euclid(a1, a2, b1, b2):
    return math.sqrt((a1 - b1) * (a1 - b1) + (a2 - b2) * (a2 - b2))


def _brute_dtw(pa, pb, dist):
    @functools.lru_cache(maxsize=None)
    def rec(i, j):
        d = dist(pa[i][0], pa[i][1], pb[j][0], pb[j][1])
        if i == 0 and j == 0:
            return d
        opts = []
        if i > 0:
            opts.append(rec(i - 1, j))
        if j > 0:
            opts.append(rec(i, j - 1))
        if i > 0 and j > 0:
            opts.append(rec(i - 1, j - 1))
        return d + min(opts)

    return rec(len(pa) - 1, len(pb) - 1)


def _cloud(n, seed):
    return [(((i * 61 + seed) % 47) * 0.7, ((i * 97 + seed) % 53) * 0.9) for i in range(n)]


def test_dtw_matches_brute_recursion():
    for na, nb, seed in [(8, 8, 1), (5, 9, 2), (9, 4, 3), (1, 6, 4), (1, 1, 5)]:
        pa, pb = _cloud(na, seed), _cloud(nb, seed + 10)
        assert lattice_distance("dtw", pa, pb, _euclid) == _brute_dtw(pa, pb, _euclid)


def test_dtw_identical_routes_zero():
    pa = _cloud(10, 7)
    assert lattice_distance("dtw", pa, pa, _euclid) == 0.0


def test_dtw_band_limits_paths():
    pa = _cloud(8, 1)
    pb = _cloud(8, 11)
    full = lattice_distance("dtw", pa, pb, _euclid)
    banded = lattice_distance("dtw", pa, pb, _euclid, band=1)
    assert banded >= full  # band only removes alignment options
    # band narrower than the length gap -> no valid path
    assert lattice_distance("dtw", _cloud(8, 1), _cloud(3, 2), _euclid, band=2) >= 1e308


def test_dtw_refine_spark_matches_kernel(spark):
    rows = []
    for u in (1, 2):
        for i in range(20):
            rows.append((u, i, 40.0 + (i + u) * 0.001, -105.0 - i * 0.001))
    pts = spark.createDataFrame(rows, "user_id long, event_id long, lat double, lon double")
    pairs = spark.createDataFrame(
        [(1, 2, 5, 0.5)], "key long, other long, n_shared long, jaccard double"
    )
    samples = index_resample(pts, 8, key="user_id", order_cols=("event_id",))
    got = lattice_refine("dtw", pairs, samples, key="user_id").collect()
    assert len(got) == 1
    samp = {
        u: [(r.lat, r.lon) for r in sorted(
            samples.where(f"user_id = {u}").collect(), key=lambda r: r.i)]
        for u in (1, 2)
    }
    want = lattice_distance("dtw", samp[1], samp[2], haversine_m_exact)
    assert got[0].dtw_m == want
