"""As-of join semantics (channel_mapper.dart:97-230) + spatial core
(PIP cell-prefix join, kNN ring expansion vs brute force, resample lerp)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from activity_files_spark.operators.asof import (
    asof_join,
    asof_join_pandas,
    exact_ts_join,
    resample_linear,
)
from activity_files_spark.operators.spatial import (
    cell_encode,
    knn_join,
    knn_join_brute,
    pip_join,
    polygon_cover_cells,
    ray_cast_py,
)


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture
def probes(spark):
    return spark.createDataFrame(
        [("a", 0, ts("2024-03-01T10:00:00")), ("a", 1, ts("2024-03-01T10:00:10")),
         ("a", 2, ts("2024-03-01T10:00:20")), ("a", 3, ts("2024-03-01T10:01:00"))],
        "activity_id string, seq long, ts timestamp",
    )


@pytest.fixture
def samples(spark):
    return spark.createDataFrame(
        [
            ("a", ts("2024-03-01T10:00:02"), 140.0),   # 2s after probe 0
            ("a", ts("2024-03-01T10:00:08"), 142.0),   # 2s before probe 1 -> tie, earlier wins
            ("a", ts("2024-03-01T10:00:12"), 143.0),   # 2s after probe 1
            ("a", ts("2024-03-01T10:00:19"), 145.0),   # 1s before probe 2
            # nothing within 5s of probe 3 (10:01:00)
            ("a", ts("2024-03-01T10:00:30"), 150.0),
        ],
        "activity_id string, ts timestamp, value double",
    )


EXPECTED = {0: 140.0, 1: 142.0, 2: 145.0, 3: None}


def test_asof_native_semantics(probes, samples):
    got = {r["seq"]: r["hr"] for r in asof_join(probes, samples, out="hr").collect()}
    assert got == EXPECTED


def test_asof_pandas_matches_native(probes, samples):
    got = {r["seq"]: r["hr"] for r in asof_join_pandas(probes, samples, out="hr").collect()}
    # NaN -> None normalization
    got = {k: (None if v != v else v) for k, v in got.items()}
    assert got == EXPECTED


def test_asof_equal_ts_sample_wins(spark, probes):
    samples = spark.createDataFrame(
        [("a", ts("2024-03-01T10:00:10"), 99.0), ("a", ts("2024-03-01T10:00:11"), 50.0)],
        "activity_id string, ts timestamp, value double",
    )
    got = {r["seq"]: r["v"] for r in asof_join(probes, samples, out="v").collect()}
    assert got[1] == 99.0  # exact-ts sample beats 1s-later sample


def test_exact_ts_join_last_wins(spark, probes):
    samples = spark.createDataFrame(
        [("a", ts("2024-03-01T10:00:10"), 1.0), ("a", ts("2024-03-01T10:00:10"), 2.0)],
        "activity_id string, ts timestamp, value double",
    )
    got = {r["seq"]: r["v"] for r in exact_ts_join(probes, samples, out="v").collect()}
    assert got[1] == 2.0 and got[0] is None


def test_resample_linear(spark):
    pts = spark.createDataFrame(
        [("a", ts("2024-03-01T10:00:00"), 0.0), ("a", ts("2024-03-01T10:00:20"), 20.0)],
        "activity_id string, ts timestamp, x double",
    )
    out = {str(r["ts"]): r["x"] for r in resample_linear(pts, 5, ["x"]).collect()}
    assert out["2024-03-01 10:00:00"] == 0.0
    assert out["2024-03-01 10:00:05"] == 5.0
    assert out["2024-03-01 10:00:10"] == 10.0
    assert out["2024-03-01 10:00:20"] == 20.0  # end-inclusive


def test_resample_two_columns_plan_one_window_node(spark):
    """_bracket gates every column in one projection and takes all running
    windows in one select, so CollapseWindow leaves one Window node over the
    one sort, not four per column."""
    pts = spark.createDataFrame(
        [("a", ts("2024-03-01T10:00:00"), 40.0, 1600.0),
         ("a", ts("2024-03-01T10:00:05"), None, 1601.0),
         ("a", ts("2024-03-01T10:00:09"), 40.1, None)],
        "activity_id string, ts timestamp, lat double, ele double",
    )
    out = resample_linear(pts, 2, ["lat", "ele"])
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert sum(ln.lstrip(" :+-").startswith("Window ") for ln in plan.splitlines()) == 1
    got = {str(r["ts"]): (r["lat"], r["ele"]) for r in out.collect()}
    # the null lat at 10:00:05 lends no time: lat lerps 0 s -> 9 s
    assert got["2024-03-01 10:00:04"] == (pytest.approx(40.0 + 0.1 * 4 / 9), pytest.approx(1600.8))
    assert got["2024-03-01 10:00:08"] == (pytest.approx(40.0 + 0.1 * 8 / 9), 1601.0)  # ele held


# ---------------------------------------------------------------- spatial

RECT = [(-105.0008, 40.0002), (-105.0002, 40.0002), (-105.0002, 40.0008), (-105.0008, 40.0008)]


def test_ray_cast_golden():
    # FIXTURES.md §5: rect contains exactly point seq=1 of the canonical track
    assert not ray_cast_py(-105.0, 40.0, RECT)
    assert ray_cast_py(-105.0005, 40.0005, RECT)
    assert not ray_cast_py(-105.001, 40.001, RECT)
    # concave polygon (U shape)
    u = [(0, 0), (4, 0), (4, 4), (3, 4), (3, 1), (1, 1), (1, 4), (0, 4)]
    assert ray_cast_py(0.5, 2.0, u)
    assert not ray_cast_py(2.0, 2.0, u)  # inside the notch
    assert ray_cast_py(3.5, 3.0, u)


def test_polygon_cover_contains_point_cell():
    from activity_files_spark.functions.quadkey import quadkey_py

    cells = polygon_cover_cells(RECT, 15)
    assert quadkey_py(40.0005, -105.0005, 15) in cells


def test_pip_join_canonical_track(spark):
    pts = spark.createDataFrame(
        [("p0", 40.0, -105.0), ("p1", 40.0005, -105.0005), ("p2", 40.001, -105.001)],
        "point_id string, lat double, lon double",
    )
    polys = [{"geofence_id": "gf_0001", "ring": RECT}]
    out = pip_join(pts, polys).collect()
    assert len(out) == 1
    assert out[0]["point_id"] == "p1" and out[0]["geofence_id"] == "gf_0001"


def test_pip_join_multiple_polygons(spark):
    pts = spark.createDataFrame(
        [(f"p{i}", 40.0 + i * 0.0005, -105.0 - i * 0.0005) for i in range(20)],
        "point_id string, lat double, lon double",
    )
    polys = [
        {"geofence_id": "west", "ring": [(-105.01, 39.99), (-105.0041, 39.99), (-105.0041, 40.02), (-105.01, 40.02)]},
        {"geofence_id": "east", "ring": [(-105.0039, 39.99), (-104.99, 39.99), (-104.99, 40.02), (-105.0039, 40.02)]},
    ]
    out = pip_join(pts, polys).collect()
    by_gf = {}
    for r in out:
        by_gf.setdefault(r["geofence_id"], set()).add(r["point_id"])
    # points i=0..7 have lon > -105.0039 (east); i=9..19 lon < -105.0041 (west)
    assert by_gf["east"] == {f"p{i}" for i in range(8)}
    assert by_gf["west"] == {f"p{i}" for i in range(9, 20)}


def test_knn_matches_brute_force(spark):
    pts = spark.createDataFrame(
        [(f"p{i}", 40.0 + (i % 17) * 0.003, -105.0 - (i // 17) * 0.003) for i in range(100)],
        "point_id string, lat double, lon double",
    )
    qs = spark.createDataFrame(
        [("q0", 40.0101, -105.0049), ("q1", 40.0, -105.0), ("q2", 40.05, -105.02)],
        "query_id string, lat double, lon double",
    )
    brute = {
        (r["query_id"], r["rank"]): r["point_id"]
        for r in knn_join_brute(qs, pts, k=3).collect()
    }
    fast = {
        (r["query_id"], r["rank"]): r["point_id"]
        for r in knn_join(qs, pts, k=3, z=14).collect()
    }
    assert fast == brute


def test_knn_join_leaves_no_cache_entries(spark):
    # every ring round's resolved-id table used to be .cache()d and never
    # unpersisted, pinning entries in the session's CacheManager per call
    pts = spark.createDataFrame(
        [(f"p{i}", 40.0 + i * 0.001, -105.0) for i in range(50)],
        "point_id string, lat double, lon double",
    )
    qs = spark.createDataFrame(
        [(f"q{i}", 40.0 + i * 0.01, -105.0005) for i in range(5)],
        "query_id string, lat double, lon double",
    )
    spark.catalog.clearCache()
    assert len(knn_join(qs, pts, k=3, z=14).collect()) == 15
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cell_encode_column(spark):
    from activity_files_spark.functions.quadkey import quadkey_py

    df = spark.createDataFrame([(40.0, -105.0)], "lat double, lon double")
    got = cell_encode(df, 12).collect()[0]["cell"]
    assert got == quadkey_py(40.0, -105.0, 12)


def test_asof_null_valued_samples_ignored(spark, probes):
    """Regression: a null-valued sample must not desync the bracket — the
    old bug returned a value from OUTSIDE the tolerance window."""
    samples = spark.createDataFrame(
        [("a", ts("2024-03-01T10:00:03"), 7.0),
         ("a", ts("2024-03-01T10:00:09"), None)],  # null value 1s from probe 1
        "activity_id string, ts timestamp, value double",
    )
    got = {r["seq"]: r["v"] for r in asof_join(probes, samples, out="v").collect()}
    # probe 1 (10:00:10): nearest USABLE sample is 10:00:03 (7s > 5s tol) -> null
    assert got[1] is None
    assert got[0] == 7.0  # probe 0 at 10:00:00: 3s away, within tolerance
    # pandas twin agrees
    got2 = {r["seq"]: r["v"] for r in asof_join_pandas(probes, samples, out="v").collect()}
    got2 = {k: (None if v != v else v) for k, v in got2.items()}
    assert got2[1] is None and got2[0] == 7.0


def test_asof_channels_wide_per_channel_tolerance(spark):
    """encoder_options.dart:22-42 maxDeltaPerChannel: each channel matches
    within its OWN tolerance; output is one wide column per channel, parity
    with per-channel asof_join."""
    from datetime import datetime
    from pyspark.sql import functions as F
    from activity_files_spark.operators.asof import asof_channels_wide, asof_join

    pts = [("a", i, datetime(2024, 3, 1, 10, 0, 10 * i)) for i in range(5)]
    probes = spark.createDataFrame(pts, "activity_id string, seq long, ts timestamp")
    ch = [
        # heart_rate sampled 3s after each probe; power 8s after
        *[("a", "heart_rate", datetime(2024, 3, 1, 10, 0, 10 * i + 3), 100.0 + i) for i in range(5)],
        *[("a", "power", datetime(2024, 3, 1, 10, 0, 10 * i + 8), 200.0 + i) for i in range(4)],
    ]
    chans = spark.createDataFrame(ch, "activity_id string, channel string, ts timestamp, value double")
    wide = asof_channels_wide(probes, chans, {"heart_rate": 5.0, "power": 2.0})
    rows = {r["seq"]: r for r in wide.collect()}
    # hr within 3s <= 5s tolerance everywhere
    assert [rows[i]["heart_rate"] for i in range(5)] == [100.0 + i for i in range(5)]
    # power: nearest sample is 2s before probe i (sampled at (i-1)*10+8);
    # delta 2 <= 2 keeps; probe 0 has no earlier sample (8s after, > 2) -> null
    assert rows[0]["power"] is None
    assert [rows[i]["power"] for i in range(1, 5)] == [200.0 + i - 1 for i in range(1, 5)]
    # parity with the single-channel operator at the same tolerances
    for cname, tol in (("heart_rate", 5.0), ("power", 2.0)):
        single = asof_join(
            probes, chans.filter(F.col("channel") == cname).select("activity_id", "ts", "value"),
            tolerance_s=tol, out=cname,
        )
        got = {r["seq"]: r[cname] for r in single.collect()}
        assert got == {i: rows[i][cname] for i in range(5)}, cname


def test_rect_pip_join_multi_part_geofence_id(spark):
    """A geofence id repeated across DISJOINT rects (multi-part fence):
    every part must contribute its own cover, so points in EITHER part
    match (regression: per-id dict collapsed parts to the last rect)."""
    from activity_files_spark.operators.spatial import rect_pip_join

    pts = spark.createDataFrame(
        [(1, 40.05, -105.45), (2, 41.05, -103.95), (3, 39.0, -100.0)],
        "pid int, lat double, lon double",
    )
    rects = [
        ("gf", -105.5, -105.4, 40.0, 40.1),
        ("gf", -104.0, -103.9, 41.0, 41.1),
    ]
    got = {(r["pid"], r["geofence_id"]) for r in rect_pip_join(pts, rects).collect()}
    assert got == {(1, "gf"), (2, "gf")}


def test_rect_pip_expr_path_matches_cover_join(spark):
    """The tiny-set expression-compiled path (no join at all) must return
    the exact rows of the broadcast cover join on both how modes, including
    overlapping rects, multi-part ids, boundary-inclusive points, and
    points in no rect."""
    import random

    from activity_files_spark.operators.spatial import rect_pip_join

    rng = random.Random(7)
    pts = spark.createDataFrame(
        [(i, rng.uniform(39.5, 41.5), rng.uniform(-106.0, -103.0))
         for i in range(400)]
        + [(1000, 40.0, -105.5), (1001, 40.1, -105.4)],  # exact boundaries
        "pid int, lat double, lon double",
    )
    rects = [
        ("a", -105.5, -105.0, 40.0, 40.6),
        ("a", -104.2, -103.8, 40.9, 41.2),   # multi-part id
        ("b", -105.3, -104.6, 40.3, 41.0),   # overlaps "a"
        ("c", -103.1, -103.05, 39.6, 39.7),  # tiny, likely empty
    ]
    for how in ("inner", "left_outer"):
        expr = rect_pip_join(pts, rects, how=how, expr_max_rects=16)
        cover = rect_pip_join(pts, rects, how=how, expr_max_rects=0)
        key = lambda r: (r["pid"], r["geofence_id"] or "")
        assert sorted(map(key, expr.collect())) == sorted(map(key, cover.collect())), how
    # the expr plan is join-free: no Exchange, no join operator of any kind
    plan = expr._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
    # and an empty rect set still routes through the (empty-cover) join path
    assert rect_pip_join(pts, [], how="inner").count() == 0


def _snap_brute_py(pts, routes, tol, ref_lat):
    """Pure-python brute oracle for snap_to_segments (same IEEE sequence)."""
    from activity_files_spark.operators.spatial import planar_scales, segment_table

    kx, ky = planar_scales(ref_lat)
    segs = segment_table(routes, ref_lat)
    out = {}
    for pid, lat, lon in pts:
        best = None
        for rid, i, a_lon, a_lat, vx, vy, len2 in segs:
            wx = (lon - a_lon) * kx
            wy = (lat - a_lat) * ky
            t = min(max((wx * vx + wy * vy) / len2, 0.0), 1.0)
            dx, dy = wx - t * vx, wy - t * vy
            d = (dx * dx + dy * dy) ** 0.5
            if d <= tol:
                k = (d, rid, i, t)
                if best is None or k < best:
                    best = k
        if best is not None:
            out[pid] = (best[1], best[2], round(best[0], 6), round(best[3], 6))
    return out


def test_snap_to_segments_matches_brute(spark):
    """Cell-pruned broadcast snap == brute python oracle on a random cloud
    spanning inside/outside the tolerance band, including a zero-length
    segment (degrades to point distance) and shared-vertex tie-breaks."""
    import random

    from activity_files_spark.operators.spatial import snap_to_segments

    routes = [
        ("alpha", [(-105.45, 40.05), (-105.25, 40.25), (-105.05, 40.45)]),
        ("beta", [(-105.40, 40.30), (-105.10, 40.30)]),
        ("gamma", [(-105.20, 40.20), (-105.20, 40.20)]),  # zero-length
    ]
    rng = random.Random(11)
    pts = [(i, rng.uniform(39.9, 40.6), rng.uniform(-105.6, -104.9))
           for i in range(500)]
    # points exactly on route vertices (ties between adjacent segments)
    pts += [(1000, 40.25, -105.25), (1001, 40.30, -105.40), (1002, 40.20, -105.20)]
    tol, ref_lat = 3000.0, 40.25
    expected = _snap_brute_py(pts, routes, tol, ref_lat)

    df = spark.createDataFrame(pts, "pid int, lat double, lon double")
    got_rows = snap_to_segments(df, routes, tol, ref_lat).collect()
    got = {
        r["pid"]: (r["route_id"], r["seg_idx"], round(r["dist_m"], 6), round(r["t_frac"], 6))
        for r in got_rows
    }
    assert got == expected
    assert got[1002] == ("gamma", 0, 0.0, 0.0)  # zero-length seg, d == 0
    assert len(got) < len(pts)  # some points fall outside the tolerance


def test_snap_to_segments_plan_is_broadcast_hash_join(spark):
    from activity_files_spark.operators.spatial import snap_to_segments

    df = spark.createDataFrame(
        [(1, 40.2, -105.2)], "pid int, lat double, lon double"
    )
    out = snap_to_segments(
        df, [("r", [(-105.25, 40.15), (-105.15, 40.25)])], 2000.0, 40.2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_snap_expr_path_matches_cover_join(spark):
    """Join-free expression-compiled snap == broadcast cover join, and its
    plan has no join, no exchange, no aggregate (stateless projection —
    the property the streaming twin relies on)."""
    import random

    from activity_files_spark.operators.spatial import snap_to_segments

    routes = [
        ("alpha", [(-105.45, 40.05), (-105.25, 40.25), (-105.05, 40.45)]),
        ("beta", [(-105.40, 40.30), (-105.10, 40.30)]),
    ]
    rng = random.Random(13)
    pts = spark.createDataFrame(
        [(i, rng.uniform(39.9, 40.6), rng.uniform(-105.6, -104.9))
         for i in range(300)],
        "pid int, lat double, lon double",
    )
    cover = snap_to_segments(pts, routes, 3000.0, 40.25)
    expr = snap_to_segments(pts, routes, 3000.0, 40.25, expr_max_segments=16)
    key = lambda r: (r["pid"], r["route_id"], r["seg_idx"],
                     round(r["dist_m"], 9), round(r["t_frac"], 9))
    assert sorted(map(key, cover.collect())) == sorted(map(key, expr.collect()))
    plan = expr._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan and "Aggregate" not in plan


def test_zone_length_matches_python(spark):
    """Liang-Barsky zone clipping == pure-python reference on random
    tracks; hand cases: fully-inside segment contributes its whole planar
    length, boundary-touch contributes nothing."""
    import random

    from activity_files_spark.operators.spatial import planar_scales, zone_length

    ref_lat = 40.25
    kx, ky = planar_scales(ref_lat)
    rects = [
        ("z1", -105.3, -105.1, 40.1, 40.3),
        ("z2", -105.15, -104.95, 40.25, 40.45),  # overlaps z1
    ]
    rng = random.Random(17)
    rows = []
    for u in ("a", "b"):
        for i in range(60):
            rows.append((u, i, rng.uniform(39.95, 40.55), rng.uniform(-105.45, -104.85)))
    rows += [("c", 0, 40.15, -105.25), ("c", 1, 40.2, -105.2)]  # inside z1
    rows += [("d", 0, 40.1, -105.25), ("d", 1, 40.1, -105.2)]   # along z1's south edge

    def clip_len(a, b, rect):
        _, w, e, s, n = (None,) + rect[1:]
        ax, ay = (a[1] - w) * kx, (a[0] - s) * ky
        dx, dy = (b[1] - a[1]) * kx, (b[0] - a[0]) * ky
        xhi, yhi = (e - w) * kx, (n - s) * ky

        def axis(a0, d, hi):
            if d > 0:
                return (0.0 - a0) / d, (hi - a0) / d
            if d < 0:
                return (hi - a0) / d, (0.0 - a0) / d
            return (0.0, 1.0) if 0.0 <= a0 <= hi else (1.0, 0.0)

        tx0, tx1 = axis(ax, dx, xhi)
        ty0, ty1 = axis(ay, dy, yhi)
        t0 = max(0.0, tx0, ty0)
        t1 = min(1.0, tx1, ty1)
        return max(t1 - t0, 0.0) * (dx * dx + dy * dy) ** 0.5

    expect = {}
    byu = {}
    for u, i, la, lo in rows:
        byu.setdefault(u, []).append((i, la, lo))
    for u, pts in byu.items():
        pts.sort()
        for (i0, la0, lo0), (i1, la1, lo1) in zip(pts, pts[1:]):
            for rect in rects:
                L = clip_len((la0, lo0), (la1, lo1), rect)
                if L > 1e-9:
                    k = (u, rect[0])
                    n, s = expect.get(k, (0, 0.0))
                    expect[k] = (n + 1, s + round(L, 6))

    df = spark.createDataFrame(rows, "user_id string, seq int, lat double, lon double")
    got = {
        (r["user_id"], r["zone_id"]): (r["n_segments"], r["length_m"])
        for r in zone_length(df, rects, ref_lat, key="user_id",
                             ts="seq", tiebreak=None).collect()
    }
    assert set(got) == set(expect)
    for k, (n, s) in expect.items():
        assert got[k][0] == n, k
        assert got[k][1] == pytest.approx(s, abs=1e-6), k
    # hand case: c's single segment fully inside z1 -> its full planar length
    (la0, lo0), (la1, lo1) = (40.15, -105.25), (40.2, -105.2)
    full = (((lo1 - lo0) * kx) ** 2 + ((la1 - la0) * ky) ** 2) ** 0.5
    assert got[("c", "z1")][1] == pytest.approx(round(full, 6), abs=1e-6)
    # d rides exactly along z1's southern boundary lat? (40.1 is inside
    # [40.1, 40.3] inclusively) -> the clip keeps it
    assert ("d", "z1") in got


def test_resample_by_distance(spark):
    """Straight northward track with unequal time spacing: equal-distance
    grid lands at analytically-known latitudes regardless of speed."""
    from datetime import datetime

    from activity_files_spark.functions.geo import haversine_m_py
    from activity_files_spark.operators.asof import resample_by_distance

    t = lambda s: datetime(2024, 3, 1, 10, 0, s)
    # 5 points straight north, 0.01 deg apart (~1111.9 m each), bursty times
    rows = [("a", i, t([0, 1, 50, 51, 59][i]), 40.0 + i * 0.01, -105.0)
            for i in range(5)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id int, ts timestamp, lat double, lon double"
    )
    step = haversine_m_py(40.0, -105.0, 40.01, -105.0)  # one hop's length
    out = resample_by_distance(
        df, step / 2.0, ["lat", "lon"], key="user_id", ts="ts", tiebreak="event_id"
    ).collect()
    got = {r["k"]: (r["lat"], r["lon"]) for r in out}
    # total = 4 hops -> grid k = 0..8 at half-hop spacing
    assert sorted(got) == list(range(9))
    for k, (la, lo) in got.items():
        assert lo == pytest.approx(-105.0, abs=1e-12)
        assert la == pytest.approx(40.0 + k * 0.005, abs=1e-7), k
    # half-grid points are true midpoints on the distance axis (lerp exact)
    assert got[1][0] == pytest.approx(40.005, abs=1e-7)


# ------------------------------------------------------ within-radius join
def test_within_radius_join_matches_brute(spark):
    """Cover join == brute haversine theta-join (the prune must be
    complete), on a grid spanning in/out/boundary points."""
    import math as _math
    import random as _random

    from activity_files_spark.functions.geo import EARTH_RADIUS_M
    from activity_files_spark.operators.spatial import within_radius_join

    def hav(lat1, lon1, lat2, lon2):
        d2r = _math.pi / 180.0
        sp = _math.sin((lat2 - lat1) * d2r / 2)
        sl = _math.sin((lon2 - lon1) * d2r / 2)
        a = sp * sp + _math.cos(lat1 * d2r) * _math.cos(lat2 * d2r) * sl * sl
        return 2.0 * EARTH_RADIUS_M * _math.atan2(_math.sqrt(a), _math.sqrt(1.0 - a))

    rng = _random.Random(47)
    pts = [
        (k, 40.0 + rng.random() * 0.1, -105.0 - rng.random() * 0.1)
        for k in range(3000)
    ]
    pois = [("a", 40.02, -105.02), ("b", 40.08, -105.07), ("c", 40.05, -105.01)]
    radius = 1500.0
    exp = {
        (k, pid)
        for k, la, lo in pts
        for pid, pla, plo in pois
        if hav(la, lo, pla, plo) <= radius
    }
    sdf = spark.createDataFrame(pts, "event_id long, lat double, lon double")
    out = within_radius_join(sdf, pois, radius)
    got = {(r["event_id"], r["poi_id"]) for r in out.collect()}
    assert got == exp and len(exp) > 100


def test_within_radius_join_plan_is_broadcast(spark):
    from activity_files_spark.operators.spatial import within_radius_join

    sdf = spark.range(100).selectExpr(
        "id as event_id", "40.0 + id * 0.0001 as lat", "-105.0 as lon"
    )
    out = within_radius_join(sdf, [("a", 40.0, -105.0)], 500.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_within_radius_sql_twin_matches(spark):
    import duckdb
    import pandas as pd

    from activity_files_spark.operators.spatial import (
        within_radius_join,
        within_radius_sql,
    )

    import random as _random

    rng = _random.Random(53)
    pts = [
        (k, 40.0 + rng.random() * 0.05, -105.0 - rng.random() * 0.05)
        for k in range(2000)
    ]
    pois = [("a", 40.01, -105.01), ("b", 40.04, -105.03)]
    radius = 900.0
    pdf = pd.DataFrame(pts, columns=["event_id", "lat", "lon"])
    body = within_radius_sql("pts", pois, radius)
    exp_rows = duckdb.sql(
        f"WITH pts AS (SELECT * FROM pdf),\n{body}\n"
        "SELECT event_id, poi_id, dist_m FROM wr_join"
    ).fetchall()
    sdf = spark.createDataFrame(pts, "event_id long, lat double, lon double")
    got_rows = [
        (r["event_id"], r["poi_id"], r["dist_m"])
        for r in within_radius_join(sdf, pois, radius).collect()
    ]
    # row SETS agree exactly; dist carries the documented ~1-ulp JVM-vs-libm
    # trig spread (1e-13 at km magnitudes), absorbed by the same round-to-6
    # the map-match gate uses
    assert {(k, p) for k, p, _ in got_rows} == {(k, p) for k, p, _ in exp_rows}
    assert sorted((k, p, round(d, 6)) for k, p, d in got_rows) == sorted(
        (k, p, round(d, 6)) for k, p, d in exp_rows
    )
