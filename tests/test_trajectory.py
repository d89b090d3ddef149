"""Trajectory similarity: cell signatures, exact pair Jaccard, top-k
selection determinism, and the cell-snapped symmetric Hausdorff refine
against a pure-python oracle."""

import math

import pytest
from pyspark.sql import functions as F

from activity_files_spark.functions.geo import haversine_m_py
from activity_files_spark.functions.quadkey import tile_xy_py
from activity_files_spark.operators.trajectory import (
    hausdorff_refine,
    route_cells,
    route_pair_jaccard,
    top_similar_routes,
)

Z = 13


def _track(lat0, lon0, n, dlat, dlon):
    return [(lat0 + i * dlat, lon0 + i * dlon) for i in range(n)]


ROUTES = {
    # two near-identical diagonals, one shifted copy, one far away
    "a": _track(40.00, -105.00, 30, 0.004, 0.004),
    "b": _track(40.001, -105.001, 30, 0.004, 0.004),   # ~a with tiny offset
    "c": _track(40.06, -105.06, 30, 0.004, 0.004),     # overlaps a's tail
    "d": _track(42.00, -100.00, 10, 0.004, 0.004),     # disjoint cells
}


def _cells_py(pts):
    return {tile_xy_py(lat, lon, Z) for lat, lon in pts}


def _center_py(cx, cy):
    n = float(1 << Z)
    lon = (cx + 0.5) / n * 360.0 - 180.0
    targ = math.pi * (1.0 - 2.0 * (cy + 0.5) / n)
    lat = math.atan((math.exp(targ) - math.exp(-targ)) / 2.0) * (180.0 / math.pi)
    return lat, lon


def _hausdorff_py(ca, cb):
    def directed(xs, ys):
        return max(
            min(haversine_m_py(*_center_py(*x), *_center_py(*y)) for y in ys)
            for x in xs
        )
    return max(directed(ca, cb), directed(cb, ca))


@pytest.fixture(scope="module")
def points_df(spark):
    rows = [(k, lat, lon) for k, pts in ROUTES.items() for lat, lon in pts]
    return spark.createDataFrame(rows, "user_id string, lat double, lon double")


def test_route_cells_match_python(points_df):
    cells = route_cells(points_df, Z)
    got = {}
    for r in cells.collect():
        got.setdefault(r["user_id"], set()).add((r["cx"], r["cy"]))
    assert got == {k: _cells_py(v) for k, v in ROUTES.items()}


def test_pair_jaccard_exact(points_df):
    cells = route_cells(points_df, Z)
    pairs = {(r["key_a"], r["key_b"]): r for r in route_pair_jaccard(cells).collect()}
    py = {k: _cells_py(v) for k, v in ROUTES.items()}
    expect = {}
    keys = sorted(ROUTES)
    for i, ka in enumerate(keys):
        for kb in keys[i + 1:]:
            s = len(py[ka] & py[kb])
            if s:
                expect[(ka, kb)] = (s, s / len(py[ka] | py[kb]))
    assert set(pairs) == set(expect)
    for k, (s, j) in expect.items():
        assert pairs[k]["n_shared"] == s
        assert pairs[k]["jaccard"] == pytest.approx(j, abs=0)
    # 'd' shares no cells with anyone
    assert not any("d" in k for k in pairs)


def test_top_similar_and_hausdorff_match_python(points_df):
    cells = route_cells(points_df, Z)
    pairs = route_pair_jaccard(cells)
    top = top_similar_routes(pairs, k=1).drop("rank")
    ref = {
        (r["key"], r["other"]): r["hausdorff_m"]
        for r in hausdorff_refine(top, cells, Z).collect()
    }
    py = {k: _cells_py(v) for k, v in ROUTES.items()}
    # a and b are each other's best match; every hausdorff matches python
    got_best = {k: o for (k, o) in ref}
    assert got_best["a"] == "b" and got_best["b"] == "a"
    assert "d" not in got_best  # no shared cells -> no candidates at all
    for (k, o), h in ref.items():
        assert h == pytest.approx(_hausdorff_py(py[k], py[o]), rel=1e-12)
    # identical signatures => hausdorff 0
    if py["a"] == py["b"]:
        assert ref[("a", "b")] == 0.0


def test_topk_tiebreak_deterministic(spark):
    # two candidates with IDENTICAL jaccard -> lower other-id wins rank 1
    rows = [
        ("x", "m", 2, 0.5), ("x", "k", 2, 0.5), ("x", "z", 1, 0.25),
    ]
    pairs = spark.createDataFrame(
        rows, "key_a string, key_b string, n_shared long, jaccard double"
    )
    top = top_similar_routes(pairs, k=1)
    row = [r for r in top.collect() if r["key"] == "x"]
    assert len(row) == 1 and row[0]["other"] == "k"


# ------------------------------------------------------- discrete Fréchet

def _frechet_brute(pa, pb, dist):
    """Exponential recursive definition (memoized) — independent of the
    DP in operators/trajectory.py."""
    from functools import lru_cache

    @lru_cache(maxsize=None)
    def c(i, j):
        d = dist(pa[i][0], pa[i][1], pb[j][0], pb[j][1])
        if i == 0 and j == 0:
            return d
        if i == 0:
            return max(c(0, j - 1), d)
        if j == 0:
            return max(c(i - 1, 0), d)
        return max(min(c(i - 1, j), c(i - 1, j - 1), c(i, j - 1)), d)

    return c(len(pa) - 1, len(pb) - 1)


def test_discrete_frechet_matches_recursive_definition():
    import random

    from activity_files_spark.functions.geo import haversine_m_exact
    from activity_files_spark.operators.trajectory import lattice_distance

    rng = random.Random(7)
    for _ in range(20):
        na, nb = rng.randint(1, 9), rng.randint(1, 9)
        pa = [(40 + rng.random(), -105 - rng.random()) for _ in range(na)]
        pb = [(40 + rng.random(), -105 - rng.random()) for _ in range(nb)]
        got = lattice_distance("frechet", pa, pb, haversine_m_exact)
        assert got == _frechet_brute(tuple(pa), tuple(pb), haversine_m_exact)


def test_discrete_frechet_order_awareness():
    """Fréchet distinguishes direction; Hausdorff cannot: a route and its
    reverse share the same point set (Hausdorff 0) but walking them as
    sequences forces the leash across the whole track."""
    from activity_files_spark.functions.geo import haversine_m_exact
    from activity_files_spark.operators.trajectory import lattice_distance

    pa = [(40.0 + 0.001 * i, -105.0) for i in range(10)]
    pb = list(reversed(pa))
    same = lattice_distance("frechet", pa, pa, haversine_m_exact)
    rev = lattice_distance("frechet", pa, pb, haversine_m_exact)
    assert same == 0.0
    assert rev > haversine_m_exact(*pa[0], *pa[-1]) * 0.4


def test_index_resample_bounds_and_order(spark):
    from activity_files_spark.operators.trajectory import index_resample

    rows = [("u", float(i), 40.0 + i, -105.0 - i) for i in range(23)]
    rows += [("v", float(i), 41.0 + i, -106.0) for i in range(3)]  # n < m
    df = spark.createDataFrame(rows, "user_id string, ts double, lat double, lon double")
    out = index_resample(df, 8, key="user_id", order_cols=("ts",)).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["user_id"], []).append((r["i"], r["lat"]))
    u = sorted(by_key["u"])
    assert len(u) == 8 and [i for i, _ in u] == list(range(8))
    # slot idx = (rn-1)*8 DIV 23 -> first ranks 1,4,7,10,13,16,19,22
    assert [lat for _, lat in u] == [40.0 + r for r in (0, 3, 6, 9, 12, 15, 18, 21)]
    v = sorted(by_key["v"])
    assert len(v) == 3 and [i for i, _ in v] == [0, 1, 2]  # short route kept whole


def test_frechet_refine_spark_matches_python(spark):
    from activity_files_spark.functions.geo import haversine_m_exact
    from activity_files_spark.operators.trajectory import (
        index_resample,
        lattice_distance,
        lattice_refine,
    )

    rows = [("a", float(i), 40.0 + 0.01 * i, -105.0) for i in range(20)]
    rows += [("b", float(i), 40.0 + 0.01 * i, -105.0005) for i in range(12)]
    df = spark.createDataFrame(rows, "user_id string, ts double, lat double, lon double")
    samples = index_resample(df, 8, key="user_id", order_cols=("ts",))
    pairs = spark.createDataFrame(
        [("a", "b", 3, 0.5)], "key string, other string, n_shared long, jaccard double"
    )
    got = lattice_refine("frechet", pairs, samples, key="user_id").collect()
    assert len(got) == 1
    samp = {
        k: [(r["lat"], r["lon"]) for r in sorted(v, key=lambda r: r["i"])]
        for k, v in (
            ("a", [r for r in samples.collect() if r["user_id"] == "a"]),
            ("b", [r for r in samples.collect() if r["user_id"] == "b"]),
        )
    }
    expect = lattice_distance("frechet", samp["a"], samp["b"], haversine_m_exact)
    assert got[0]["frechet_m"] == expect
