"""Raster↔vector operator tests (operators/raster.py).

The forward direction (rasterize_points/assemble_tiles) is pinned against
pure-python tile math and dense-numpy replay; the reverse direction
(raster_components) against a brute-force BFS connected-components
oracle, including the classic union-find traps (U-shapes, snakes,
checkerboards).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from activity_files_spark.functions.quadkey import quadkey_py, tile_xy_py
from activity_files_spark.operators.raster import (
    _label_components,
    assemble_tiles,
    raster_components,
    rasterize_points,
)


def _bfs_components(mask: np.ndarray) -> list[dict]:
    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    comps = []
    for y in range(h):
        for x in range(w):
            if mask[y, x] and not seen[y, x]:
                stack, pix = [(y, x)], []
                seen[y, x] = True
                while stack:
                    cy, cx = stack.pop()
                    pix.append((cy, cx))
                    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        ny, nx = cy + dy, cx + dx
                        if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and not seen[ny, nx]:
                            seen[ny, nx] = True
                            stack.append((ny, nx))
                ys = [p[0] for p in pix]
                xs = [p[1] for p in pix]
                comps.append({
                    "min_x": min(xs), "max_x": max(xs),
                    "min_y": min(ys), "max_y": max(ys),
                    "area": len(pix),
                    "cx": sum(xs) / len(pix), "cy": sum(ys) / len(pix),
                })
    comps.sort(key=lambda c: (c["min_y"], c["min_x"]))
    return comps


def _key(c):
    return (c["min_y"], c["min_x"], c["max_y"], c["max_x"], c["area"],
            round(c["cx"], 12), round(c["cy"], 12))


def test_ccl_fuzz_vs_bfs_oracle():
    rng = np.random.default_rng(0)
    for _ in range(200):
        h, w = rng.integers(1, 24, 2)
        mask = rng.random((h, w)) < rng.uniform(0.2, 0.8)
        assert sorted(map(_key, _label_components(mask))) == sorted(
            map(_key, _bfs_components(mask))
        )


@pytest.mark.parametrize("pattern,n_comps,area0", [
    # U-shape: the two arms must merge through the bottom row
    (np.array([[1, 0, 1], [1, 0, 1], [1, 1, 1]], bool), 1, 7),
    # checkerboard: diagonal contact does NOT connect under 4-connectivity
    (np.indices((4, 4)).sum(axis=0) % 2 == 0, 8, 1),
    # full mask / empty mask
    (np.ones((3, 5), bool), 1, 15),
    (np.zeros((3, 5), bool), 0, None),
    # single pixel
    (np.array([[0, 0], [0, 1]], bool), 1, 1),
])
def test_ccl_shapes(pattern, n_comps, area0):
    comps = _label_components(pattern)
    assert len(comps) == n_comps
    if n_comps:
        assert comps[0]["area"] == area0


def test_ccl_spiral_snake():
    # a spiral exercises long union chains across many rows
    m = np.zeros((9, 9), bool)
    m[0, :] = m[:, 8] = m[8, :] = True
    m[2:8, 0] = True
    m[2, 0:6] = True
    m[4:7, 4] = True  # inner tail, separate component? -> touches m[2]? no
    comps = _label_components(m)
    bfs = _bfs_components(m)
    assert sorted(map(_key, comps)) == sorted(map(_key, bfs))


def test_ccl_component_order_is_min_y_min_x():
    m = np.zeros((6, 10), bool)
    m[4:6, 0:2] = True   # lower-left
    m[0:2, 6:9] = True   # upper-right (first by min_y)
    m[2:4, 3:5] = True   # middle
    comps = _label_components(m)
    assert [(c["min_y"], c["min_x"]) for c in comps] == [(0, 6), (2, 3), (4, 0)]


def test_raster_components_distributed(spark):
    img = np.full((8, 12, 3), 10, dtype=np.uint8)
    img[1:4, 2:6] = 250
    img[5:7, 8:11] = 250
    df = spark.createDataFrame(
        [("a", bytearray(img.tobytes()), 12, 8)],
        "image_id string, bytes binary, w int, h int",
    )
    out = raster_components(df, threshold=128).collect()
    assert [(r.comp, r.area, r.min_x, r.min_y, r.max_x, r.max_y) for r in out] == [
        (0, 12, 2, 1, 5, 3),
        (1, 6, 8, 5, 10, 6),
    ]
    assert out[0].cx == 3.5 and out[0].cy == 2.0


def test_rasterize_points_matches_pure_python(spark):
    rng = np.random.default_rng(7)
    lats = rng.uniform(40.0, 40.5, 500)
    lons = rng.uniform(-105.5, -105.0, 500)
    df = spark.createDataFrame(
        pd.DataFrame({"lat": lats, "lon": lons}), "lat double, lon double"
    )
    z, p = 12, 8
    got = {
        ((r.tile_id >> z), (r.tile_id & ((1 << z) - 1)), r.px, r.py): r.n
        for r in rasterize_points(df, z=z, p=p).collect()
    }
    want: dict = {}
    for la, lo in zip(lats, lons):
        gx, gy = tile_xy_py(la, lo, z + p)
        k = (gx >> p, gy >> p, gx & 255, gy & 255)
        want[k] = want.get(k, 0) + 1
    assert got == want


def test_rasterize_points_weighted(spark):
    df = spark.createDataFrame(
        [(40.1, -105.1, 2.0), (40.1, -105.1, 3.0), (40.3, -105.3, 5.0)],
        "lat double, lon double, wgt double",
    )
    rows = rasterize_points(df, z=12, p=8, weight="wgt").collect()
    assert sorted(r.n for r in rows) == [5.0, 5.0]


def test_assemble_tiles_dense_raster_bytes(spark):
    # two points in one tile, one in another; raster bytes must place the
    # counts at exactly (py * 256 + px)
    lats = [40.1, 40.1, 40.3]
    lons = [-105.1, -105.1, -105.3]
    df = spark.createDataFrame(
        pd.DataFrame({"lat": lats, "lon": lons}), "lat double, lon double"
    )
    z, p = 12, 8
    tiles = {r.quadkey: r for r in assemble_tiles(rasterize_points(df, z, p), z, p).collect()}
    for la, lo, n in ((40.1, -105.1, 2), (40.3, -105.3, 1)):
        qk = quadkey_py(la, lo, z)
        gx, gy = tile_xy_py(la, lo, z + p)
        t = tiles[qk]
        grid = np.frombuffer(bytes(t.raster), np.uint32).reshape(256, 256)
        assert grid[gy & 255, gx & 255] == n
        assert int(grid.sum()) == t.n_points == n
        assert t.nonzero_px == 1 and t.max_count == n
        assert t.checksum == n * ((gy & 255) * 256 + (gx & 255) + 1)


def test_pyramid_rollup_equals_direct_rasterize(spark):
    # floor(v * 2^(z+k)) >> k == floor(v * 2^z) exactly (scaling by a
    # power of two is exact in IEEE754), so rolling a fine raster down k
    # levels must match rasterizing at the coarse zoom directly —
    # pixel-for-pixel, count-for-count
    from activity_files_spark.operators.raster import pyramid_rollup

    rng = np.random.default_rng(11)
    df = spark.createDataFrame(
        pd.DataFrame({
            "lat": rng.uniform(39.9, 40.6, 400),
            "lon": rng.uniform(-105.6, -104.9, 400),
        }),
        "lat double, lon double",
    )
    fine = rasterize_points(df, z=14, p=8)
    rolled = {
        (r.tile_id, r.px, r.py): r.n
        for r in pyramid_rollup(fine, z_from=14, z_to=11, p=8).collect()
    }
    direct = {
        (r.tile_id, r.px, r.py): r.n
        for r in rasterize_points(df, z=11, p=8).collect()
    }
    assert rolled == direct and sum(rolled.values()) == 400


def test_pyramid_rollup_rejects_non_descending(spark):
    from activity_files_spark.operators.raster import pyramid_rollup

    df = spark.createDataFrame([(40.0, -105.0)], "lat double, lon double")
    sparse = rasterize_points(df, z=10, p=8)
    with pytest.raises(ValueError, match="z_to < z_from"):
        pyramid_rollup(sparse, z_from=10, z_to=10)


def test_polygon_mask_matches_raycast_golden(spark):
    # the distributed Column XOR chain must agree with the pure-python
    # even-odd ray cast evaluated at every pixel center in mercator pixel
    # space — over the full bbox cover, inside and outside alike
    from activity_files_spark.functions.quadkey import merc_px_py
    from activity_files_spark.operators.raster import polygon_mask_pixels
    from activity_files_spark.operators.spatial import (
        polygon_cover_tiles,
        ray_cast_py,
    )

    ring = [(-105.45, 40.05), (-105.05, 40.1), (-105.25, 40.45)]
    z, p = 10, 3
    side = 1 << p
    got = {
        ((r.tile_id >> z), (r.tile_id & ((1 << z) - 1)), r.px, r.py)
        for r in polygon_mask_pixels(spark, ring, z=z, p=p).collect()
    }
    verts = [merc_px_py(lat, lon, z + p) for lon, lat in ring]
    want = set()
    for tx, ty in polygon_cover_tiles(ring, z):
        for px in range(side):
            for py in range(side):
                cx = (tx << p) + px + 0.5
                cy = (ty << p) + py + 0.5
                if ray_cast_py(cx, cy, verts):
                    want.add((tx, ty, px, py))
    assert got == want and len(want) > 0


def test_polygon_mask_rejects_degenerate_ring(spark):
    from activity_files_spark.operators.raster import polygon_mask_pixels

    flat = [(-105.3, 40.2), (-105.1, 40.2), (-105.2, 40.2)]
    with pytest.raises(ValueError, match="degenerate"):
        polygon_mask_pixels(spark, flat, z=10, p=3)


def test_rasterize_single_shuffle_plan(spark):
    df = spark.range(100).select(
        (F.lit(40.0) + F.col("id") * 0.001).alias("lat"),
        F.lit(-105.0).alias("lon"),
    )
    plan = (
        rasterize_points(df, z=12, p=8)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    # one shuffle (the pixel groupBy); formatted plans name each node in
    # the tree AND a detail section, so count tree entries only
    assert plan.count("+- Exchange") == 1
    assert "partial_count" in plan  # map-side partial aggregation


# ------------------------------------------------------------- box blur
def test_box_blur_matches_brute(spark):
    """Separable integer box blur == direct (2r+1)^2 convolution, including
    cross-tile flow and world-edge clipping (z=2, p=2 -> 16x16 world)."""
    import random as _random

    from activity_files_spark.operators.raster import box_blur

    rng = _random.Random(41)
    z, p = 2, 2
    side = 1 << (z + p)
    pts = {}
    for _ in range(60):
        gx, gy = rng.randrange(side), rng.randrange(side)
        pts[(gx, gy)] = pts.get((gx, gy), 0) + rng.randint(1, 9)
    rows = [
        (((gx >> p) << z) | (gy >> p), gx & ((1 << p) - 1), gy & ((1 << p) - 1), n)
        for (gx, gy), n in pts.items()
    ]
    sdf = spark.createDataFrame(rows, "tile_id long, px int, py int, n long")
    for r in (1, 2):
        got = {}
        for row in box_blur(sdf, z=z, p=p, r=r).collect():
            gx = ((row["tile_id"] >> z) << p) | row["px"]
            gy = ((row["tile_id"] & ((1 << z) - 1)) << p) | row["py"]
            got[(gx, gy)] = row["n"]
        exp = {}
        for x in range(side):
            for y in range(side):
                s = sum(
                    pts.get((x + dx, y + dy), 0)
                    for dx in range(-r, r + 1)
                    for dy in range(-r, r + 1)
                    if 0 <= x + dx < side and 0 <= y + dy < side
                )
                if s:
                    exp[(x, y)] = s
        assert got == exp, f"r={r}"


def test_box_blur_sql_twin_matches(spark):
    import random as _random

    import duckdb
    import pandas as pd

    from activity_files_spark.operators.raster import box_blur, box_blur_sql

    rng = _random.Random(43)
    z, p, r = 3, 3, 1
    side = 1 << (z + p)
    pts = {}
    for _ in range(150):
        gx, gy = rng.randrange(side), rng.randrange(side)
        pts[(gx, gy)] = pts.get((gx, gy), 0) + rng.randint(1, 5)
    gdf = pd.DataFrame(
        [(gx, gy, n) for (gx, gy), n in pts.items()], columns=["gx", "gy", "n"]
    )
    body = box_blur_sql("g", z=z, p=p, r=r)
    exp = {
        (gx, gy): n
        for gx, gy, n in duckdb.sql(
            f"WITH g AS (SELECT * FROM gdf),\n{body}\n"
            "SELECT gx, gy, n FROM bb_final"
        ).fetchall()
    }
    rows = [
        (((gx >> p) << z) | (gy >> p), gx & ((1 << p) - 1), gy & ((1 << p) - 1), n)
        for (gx, gy), n in pts.items()
    ]
    sdf = spark.createDataFrame(rows, "tile_id long, px int, py int, n long")
    got = {}
    for row in box_blur(sdf, z=z, p=p, r=r).collect():
        gx = ((row["tile_id"] >> z) << p) | row["px"]
        gy = ((row["tile_id"] & ((1 << z) - 1)) << p) | row["py"]
        got[(gx, gy)] = row["n"]
    assert got == exp


# ---------------------------------------------------------------------------
# marching-squares contour (contour_segments)


def _ms_reference(inside_nodes: set, table=None) -> set:
    """Brute-force midpoint marching squares over a node set — enumerates
    every touched cell and applies the case table by hand."""
    from activity_files_spark.operators.raster import _MS_CASES

    lut: dict = {}
    for c, a, b, x2, y2 in _MS_CASES:
        lut.setdefault(c, []).append((a, b, x2, y2))
    cells = {
        (x + dx, y + dy)
        for (x, y) in inside_nodes
        for dx, dy in ((0, 0), (-1, 0), (0, -1), (-1, -1))
    }
    segs = set()
    for cx, cy in cells:
        cse = (
            (1 if (cx, cy) in inside_nodes else 0)
            | (2 if (cx + 1, cy) in inside_nodes else 0)
            | (4 if (cx, cy + 1) in inside_nodes else 0)
            | (8 if (cx + 1, cy + 1) in inside_nodes else 0)
        )
        if cse in (0, 15):
            continue
        for a, b, x2, y2 in lut[cse]:
            segs.add((2 * cx + a, 2 * cy + b, 2 * cx + x2, 2 * cy + y2))
    return segs


def _sparse_df(spark, pts: dict, z: int, p: int):
    rows = [
        (((gx >> p) << z) | (gy >> p), gx & ((1 << p) - 1), gy & ((1 << p) - 1), n)
        for (gx, gy), n in pts.items()
    ]
    return spark.createDataFrame(rows, "tile_id long, px int, py int, n long")


def test_contour_single_node_diamond(spark):
    from activity_files_spark.operators.raster import contour_segments

    z, p = 4, 3
    sdf = _sparse_df(spark, {(5, 5): 1}, z, p)
    got = {(r.x1, r.y1, r.x2, r.y2) for r in contour_segments(sdf, z=z, p=p).collect()}
    assert got == {(10, 11, 11, 10), (9, 10, 10, 11), (10, 9, 11, 10), (9, 10, 10, 9)}


def test_contour_fuzz_vs_reference_and_closure(spark):
    from activity_files_spark.operators.raster import contour_segments

    z, p = 4, 3
    rng = np.random.default_rng(11)
    # includes nodes at gx=0 / gy=0 so edge cells (cx = -1) are exercised,
    # plus duplicated tiles and a sub-threshold pixel
    pts = {}
    for x, y in rng.integers(0, 40, size=(60, 2)):
        pts[(int(x), int(y))] = int(rng.integers(1, 4))
    pts[(0, 0)] = 2
    pts[(3, 3)] = 1  # below threshold=2: must count as OUTSIDE
    sdf = _sparse_df(spark, pts, z, p)
    got = {
        (r.x1, r.y1, r.x2, r.y2)
        for r in contour_segments(sdf, z=z, p=p, threshold=2).collect()
    }
    inside = {k for k, n in pts.items() if n >= 2}
    assert got == _ms_reference(inside)
    # topology: midpoint marching squares always closes its loops — every
    # doubled-coordinate vertex has even degree
    from collections import Counter

    deg: Counter = Counter()
    for x1, y1, x2, y2 in got:
        deg[(x1, y1)] += 1
        deg[(x2, y2)] += 1
    assert all(d % 2 == 0 for d in deg.values())


def test_contour_sql_twin_matches(spark):
    import duckdb

    from activity_files_spark.operators.raster import (
        contour_segments,
        contour_segments_sql,
    )

    z, p = 4, 3
    rng = np.random.default_rng(23)
    pts = {
        (int(x), int(y)): int(n)
        for x, y, n in zip(
            rng.integers(0, 30, 40), rng.integers(0, 30, 40), rng.integers(1, 3, 40)
        )
    }
    gdf = pd.DataFrame(
        [(gx, gy, n) for (gx, gy), n in pts.items()], columns=["gx", "gy", "n"]
    )
    body = contour_segments_sql("g", threshold=2)
    exp = set(
        map(
            tuple,
            duckdb.sql(
                f"WITH g AS (SELECT * FROM gdf),\n{body}\n"
                "SELECT x1, y1, x2, y2 FROM ms_segments"
            ).fetchall(),
        )
    )
    sdf = _sparse_df(spark, pts, z, p)
    got = {
        (r.x1, r.y1, r.x2, r.y2)
        for r in contour_segments(sdf, z=z, p=p, threshold=2).collect()
    }
    assert got == exp


def _brute_dilate(cells, z, r):
    side = 1 << z
    out = set()
    for k, cx, cy in cells:
        for dx in range(-r, r + 1):
            for dy in range(-r, r + 1):
                nx, ny = cx + dx, cy + dy
                if 0 <= nx < side and 0 <= ny < side:
                    out.add((k, nx, ny))
    return out


@pytest.mark.parametrize("r", [0, 1, 2, 3])
def test_dilate_cells_vs_brute(spark, r):
    from activity_files_spark.operators.raster import dilate_cells

    z = 4  # small world: forces real boundary clipping
    cells = [
        (1, 0, 0), (1, 1, 0), (1, 15, 15),  # corners clip
        (2, 8, 8), (2, 8, 9), (2, 9, 8),    # overlapping dilations dedup
        (3, 0, 15),
    ]
    df = spark.createDataFrame(cells, "user_id long, cx long, cy long")
    got = {
        (row.user_id, row.cx, row.cy)
        for row in dilate_cells(df, z, r=r, key="user_id").collect()
    }
    assert got == _brute_dilate(cells, z, r)


def test_dilate_cells_sql_twin_matches(spark):
    import duckdb

    from activity_files_spark.operators.raster import dilate_cells, dilate_cells_sql

    z, r = 5, 2
    rng = np.random.default_rng(9)
    cells = [
        (int(k), int(x), int(y))
        for k, x, y in zip(
            rng.integers(0, 4, 60), rng.integers(0, 32, 60), rng.integers(0, 32, 60)
        )
    ]
    cells = list(dict.fromkeys(cells))
    df = spark.createDataFrame(cells, "user_id long, cx long, cy long")
    got = {
        (row.user_id, row.cx, row.cy)
        for row in dilate_cells(df, z, r=r, key="user_id").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE cells (user_id BIGINT, cx BIGINT, cy BIGINT)")
    con.executemany("INSERT INTO cells VALUES (?,?,?)", cells)
    body = dilate_cells_sql("cells", z, r=r, key="user_id")
    sql_got = {
        tuple(r)
        for r in con.execute(f"WITH {body} SELECT * FROM dc_out").fetchall()
    }
    assert got == sql_got == _brute_dilate(cells, z, r)


def test_dilate_cells_negative_radius_raises(spark):
    from activity_files_spark.operators.raster import dilate_cells

    df = spark.createDataFrame([(1, 0, 0)], "user_id long, cx long, cy long")
    with pytest.raises(ValueError):
        dilate_cells(df, 4, r=-1)
