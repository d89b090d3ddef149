"""Raster↔vector operators (the north rule names this axis explicitly:
"spatial-join + tiling engine (H3/S2 index, point-in-polygon, kNN,
raster↔vector)").

Vector→raster: :func:`rasterize_points` burns a point table into sparse
per-tile pixel-count rasters (the distributed heatmap-tile job), and
:func:`assemble_tiles` densifies each tile into real raster bytes plus
summary stats. The pixel math reuses the quadkey Web-Mercator ladder
(functions/quadkey.py): global pixel coordinates at zoom ``z`` with
``2**p``-pixel tiles ARE the tile coordinates at zoom ``z + p``, so the
bit-identical py/np/Column/SQL twins carry over unchanged —
    gx, gy = tile_xy(lat, lon, z + p)
    tile = (gx >> p, gy >> p);  pixel = (gx & (2**p - 1), gy & (2**p - 1))

Scale shape: the hot stage is pure Column math (whole-stage codegen, zero
Python) followed by ONE shuffle — groupBy(tile, pixel) count with map-side
partial aggregation, so the shuffle carries at most one row per distinct
lit pixel, not one per input point (a 10^12-point job with dense traffic
shuffles ~tile_count * 2^{2p} rows max). Dense-city skew lands on
different (tile, pixel) keys, not one hot key; tile assembly groups at
most 2^{2p} rows per tile through an Arrow kernel.

Raster→vector: :func:`raster_components` extracts 4-connected components
from a thresholded image mask (two-pass run-based union-find, the classic
CCL algorithm, vectorized per row) and emits vector features (bbox, area,
centroid) per component — the building block for "find labeled regions in
rasters, join them back to geometry" pipelines. Components come out in
deterministic (min_y, min_x) order so downstream keys are stable. The
labeler body is :func:`raster_components_kernel` (a
:class:`~activity_files_spark.operators.kernels.Kernel`: mapInPandas body
plus output schema); ``raster_components`` is its one-line DataFrame
wrapper, and a query that generates its rasters in Python chains the
kernel behind its generator to keep one Python worker per task.

The reference engine has neither direction (it is a per-file track
parser); both exist for the north-rule tiling axis, like
operators/tiling.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activity_files_spark.functions.quadkey import (
    quadkey_from_cell_id_col,
    tile_xy_col,
)
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.kernels import Kernel, map_kernels


def rasterize_points(
    points: DataFrame,
    z: int,
    p: int = 8,
    lat: str = "lat",
    lon: str = "lon",
    weight: str | None = None,
) -> DataFrame:
    """Vector→raster, sparse stage: -> (tile_id long, px int, py int,
    n) — one row per lit pixel per tile at zoom ``z`` with ``2**p``-pixel
    tiles. ``n`` counts rows (long) or, when ``weight`` names a column,
    sums it (that column's type). Pure Column math + a single
    map-side-combined groupBy."""
    gx, gy = tile_xy_col(F.col(lat), F.col(lon), z + p)
    mask = (1 << p) - 1
    sparse = points.select(
        F.shiftright(gx, p).alias("tx"),
        F.shiftright(gy, p).alias("ty"),
        gx.bitwiseAND(F.lit(mask)).cast("int").alias("px"),
        gy.bitwiseAND(F.lit(mask)).cast("int").alias("py"),
        *([F.col(weight).alias("_w")] if weight is not None else []),
    )
    agg = (
        F.sum("_w").alias("n")
        if weight is not None
        else F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        sparse.groupBy("tx", "ty", "px", "py")
        .agg(agg)
        .select(
            F.shiftleft(F.col("tx"), z).bitwiseOR(F.col("ty")).alias("tile_id"),
            "px", "py", "n",
        )
    )


def box_blur(sparse: DataFrame, z: int, p: int = 8, r: int = 1) -> DataFrame:
    """Raster smoothing (the KDE/heat-diffusion step of a tile renderer):
    (2r+1)x(2r+1) box-sum over the sparse raster, SEPARABLE — one
    horizontal pass then one vertical pass, so the explode factor is
    2*(2r+1) instead of (2r+1)^2 and each pass is a map-side-combined
    groupBy. Runs on GLOBAL pixel keys, so smoothing flows across tile
    boundaries (tiles are just a partitioning of the pixel plane, not a
    smoothing barrier); pixels blurred outside the world square are
    dropped. Integer counts throughout — exact in every engine.

    Input/output: the (tile_id, px, py, n) sparse-raster shape of
    :func:`rasterize_points`; output support grows by ``r`` around every
    lit pixel, which is the blur's footprint (the rows any renderer must
    materialize anyway)."""
    side_world = 1 << (z + p)
    tmask = (1 << z) - 1
    pmask = (1 << p) - 1
    g = sparse.select(
        (
            F.shiftleft(F.shiftright("tile_id", z), p)
            + F.col("px").cast("long")
        ).alias("gx"),
        (
            F.shiftleft(F.col("tile_id").bitwiseAND(F.lit(tmask)), p)
            + F.col("py").cast("long")
        ).alias("gy"),
        "n",
    )
    off = F.explode(F.sequence(F.lit(-r), F.lit(r))).alias("d")
    gx_pass = (
        g.select("gx", "gy", "n", off)
        .select((F.col("gx") + F.col("d")).alias("gx"), "gy", "n")
        .where((F.col("gx") >= 0) & (F.col("gx") < side_world))
        .groupBy("gx", "gy")
        .agg(F.sum("n").alias("n"))
    )
    gy_pass = (
        gx_pass.select("gx", "gy", "n", off)
        .select("gx", (F.col("gy") + F.col("d")).alias("gy"), "n")
        .where((F.col("gy") >= 0) & (F.col("gy") < side_world))
        .groupBy("gx", "gy")
        .agg(F.sum("n").alias("n"))
    )
    return gy_pass.select(
        F.shiftleft(F.shiftright("gx", p), z)
        .bitwiseOR(F.shiftright("gy", p))
        .alias("tile_id"),
        F.col("gx").bitwiseAND(F.lit(pmask)).cast("int").alias("px"),
        F.col("gy").bitwiseAND(F.lit(pmask)).cast("int").alias("py"),
        "n",
    )


def dilate_cells(
    cells: DataFrame, z: int, r: int = 1, key: str = "user_id"
) -> DataFrame:
    """ST_Buffer in raster space: per-key Chebyshev-``r`` morphological
    dilation of a distinct cell set (key, cx, cy) at zoom ``z`` — the
    buffer polygon a geofence/route proximity query scans instead of
    re-ray-casting geometry (cf. ST_Buffer + ST_Intersects idiom).

    SEPARABLE like :func:`box_blur`: one x-explode + distinct, one
    y-explode + distinct — explode factor 2(2r+1) instead of (2r+1)², and
    the intermediate distinct caps the blowup at the x-dilated support.
    Dilation with a square structuring element commutes with per-axis
    clipping (the world bounds are axis-independent), so clipping inside
    each pass is exact. Both passes are map-side-combined dedups; the
    shuffle carries one row per dilated cell, not per (cell, offset).

    The SQL twin is the DIFFERENT composition — one-shot (2r+1)² square
    expansion + DISTINCT — so a hash match checks the separability
    argument itself, not just the arithmetic.
    """
    if r < 0:
        raise ValueError(f"negative radius {r}")
    side = 1 << z
    off = F.explode(F.sequence(F.lit(-r), F.lit(r))).alias("d")
    xpass = (
        cells.select(key, "cx", "cy", off)
        .select(key, (F.col("cx") + F.col("d")).alias("cx"), "cy")
        .where((F.col("cx") >= 0) & (F.col("cx") < side))
        .distinct()
    )
    return (
        xpass.select(key, "cx", "cy", off)
        .select(key, "cx", (F.col("cy") + F.col("d")).alias("cy"))
        .where((F.col("cy") >= 0) & (F.col("cy") < side))
        .distinct()
    )


def dilate_cells_sql(cells_cte: str, z: int, r: int = 1, key: str = "user_id") -> str:
    """DuckDB twin of :func:`dilate_cells` by direct square expansion
    (no separability, no intermediate distinct). Binds ``dc_out``."""
    side = 1 << z
    return f"""
    dc_out AS (
      SELECT DISTINCT {key}, cx + dx AS cx, cy + dy AS cy
      FROM (SELECT {key}, cx, cy, UNNEST(range(-{r}, {r + 1})) AS dx
            FROM {cells_cte}) a
      CROSS JOIN (SELECT UNNEST(range(-{r}, {r + 1})) AS dy) b
      WHERE cx + dx >= 0 AND cx + dx < {side}
        AND cy + dy >= 0 AND cy + dy < {side}
    )
    """


def box_blur_sql(sparse_cte: str, z: int, p: int = 8, r: int = 1) -> str:
    """DuckDB twin over a CTE exposing (gx, gy, n) GLOBAL pixel counts
    (the pre-tiling shape — callers typically have it anyway). Binds
    bb_x / bb_final; select (gx, gy, n) from ``bb_final``."""
    side_world = 1 << (z + p)
    return f"""
    bb_x AS (
      SELECT gx + d AS gx, gy, SUM(n) AS n
      FROM (SELECT gx, gy, n, UNNEST(range(-{r}, {r + 1})) AS d FROM {sparse_cte}) t
      WHERE gx + d >= 0 AND gx + d < {side_world}
      GROUP BY 1, 2
    ),
    bb_final AS (
      SELECT gx, gy + d AS gy, SUM(n) AS n
      FROM (SELECT gx, gy, n, UNNEST(range(-{r}, {r + 1})) AS d FROM bb_x) t
      WHERE gy + d >= 0 AND gy + d < {side_world}
      GROUP BY 1, 2
    )
    """


def assemble_tiles(sparse: DataFrame, z: int, p: int = 8) -> DataFrame:
    """Vector→raster, dense stage: -> (quadkey string, n_points long,
    nonzero_px long, max_count long, checksum long, raster binary) — one
    row per tile; ``raster`` is the dense row-major uint32 count grid
    (2**p x 2**p), the actual tile artifact a heatmap service would store.
    ``checksum`` = sum(n * (py * 2**p + px + 1)) pins pixel placement in
    engines that can't compare binary (the SQL oracle twin)."""
    side = 1 << p

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        grid = np.zeros(side * side, dtype=np.uint32)
        idx = pdf["py"].to_numpy(np.int64) * side + pdf["px"].to_numpy(np.int64)
        n = pdf["n"].to_numpy(np.int64)
        grid[idx] = n
        return pd.DataFrame([{
            "tile_id": int(pdf["tile_id"].iloc[0]),
            "n_points": int(n.sum()),
            "nonzero_px": int(len(pdf)),
            "max_count": int(n.max()),
            "checksum": int((n * (idx + 1)).sum()),
            "raster": grid.tobytes(),
        }])

    dense = grouped_apply(
        sparse, "tile_id",
        pack,
        "tile_id long, n_points long, nonzero_px long, max_count long, "
        "checksum long, raster binary",
    )
    return dense.select(
        quadkey_from_cell_id_col(F.col("tile_id"), z).alias("quadkey"),
        "n_points", "nonzero_px", "max_count", "checksum", "raster",
    )


def pyramid_rollup(sparse: DataFrame, z_from: int, z_to: int, p: int = 8) -> DataFrame:
    """Raster pyramid: aggregate a sparse tile raster at zoom ``z_from``
    down to zoom ``z_to`` (the standard tile-service pyramid build — each
    coarser pixel sums its 2x2 children, tiles re-key to their parents).
    Input/output schema: (tile_id long, px int, py int, n) as produced by
    :func:`rasterize_points`.

    In global pixel space the whole ladder is one shift: a zoom-(z-1)
    pixel is (gx >> 1, gy >> 1), so k levels down is ONE groupBy on
    shifted coordinates — not k sequential shuffles. Counts are additive,
    so partial aggregation keeps the shuffle at one row per coarse lit
    pixel."""
    if not z_to < z_from:
        raise ValueError("pyramid_rollup wants z_to < z_from")
    k = z_from - z_to
    mask = (1 << p) - 1
    # reconstruct global pixel coords at z_from + p, shift down k levels
    gx = (
        F.shiftleft(F.shiftright(F.col("tile_id"), z_from), p) + F.col("px")
    )
    gy = (
        F.shiftleft(F.col("tile_id").bitwiseAND(F.lit((1 << z_from) - 1)), p)
        + F.col("py")
    )
    cgx, cgy = F.shiftright(gx, k), F.shiftright(gy, k)
    return (
        sparse.select(
            F.shiftright(cgx, p).alias("tx"),
            F.shiftright(cgy, p).alias("ty"),
            cgx.bitwiseAND(F.lit(mask)).cast("int").alias("px"),
            cgy.bitwiseAND(F.lit(mask)).cast("int").alias("py"),
            F.col("n"),
        )
        .groupBy("tx", "ty", "px", "py")
        .agg(F.sum("n").alias("n"))
        .select(
            F.shiftleft(F.col("tx"), z_to).bitwiseOR(F.col("ty")).alias("tile_id"),
            "px", "py", "n",
        )
    )


# midpoint marching-squares case table. Corner bits of a cell whose
# top-left lattice node is (cx, cy): 1=TL(cx,cy) 2=TR(cx+1,cy)
# 4=BL(cx,cy+1) 8=BR(cx+1,cy+1). Segment endpoints are EDGE MIDPOINTS in
# DOUBLED coordinates relative to (2cx, 2cy): top=(1,0) left=(0,1)
# right=(2,1) bottom=(1,2) — doubling keeps every coordinate an exact
# integer, so the Spark and DuckDB twins hash bit-for-bit. Saddle cells
# (6 = TR+BL, 9 = TL+BR) take the corners-disconnected convention (each
# inside corner gets its own segment; no center sampling), which keeps
# every contour a closed even-degree loop. Endpoints are pre-sorted
# lexicographically so output segments are canonical without a sort.
_MS_CASES: list[tuple[int, int, int, int, int]] = [
    (1, 0, 1, 1, 0),
    (2, 1, 0, 2, 1),
    (3, 0, 1, 2, 1),
    (4, 0, 1, 1, 2),
    (5, 1, 0, 1, 2),
    (6, 1, 0, 2, 1), (6, 0, 1, 1, 2),
    (7, 1, 2, 2, 1),
    (8, 1, 2, 2, 1),
    (9, 0, 1, 1, 0), (9, 1, 2, 2, 1),
    (10, 1, 0, 1, 2),
    (11, 0, 1, 1, 2),
    (12, 0, 1, 2, 1),
    (13, 1, 0, 2, 1),
    (14, 0, 1, 1, 0),
]


def contour_segments(
    sparse: DataFrame, z: int, p: int = 8, threshold: int = 1
) -> DataFrame:
    """Raster→vector, iso-line direction (the complement of
    :func:`raster_components`' region extraction): midpoint marching
    squares over the sparse raster -> one row per contour segment
    ``(x1, y1, x2, y2)`` in DOUBLED global-pixel integers at pixel-zoom
    ``z + p`` — the iso-contour of the region ``n >= threshold`` with
    missing pixels counting as 0. Input is the (tile_id, px, py, n)
    sparse shape of :func:`rasterize_points`; lattice nodes are pixel
    coordinates, so contours flow across tile boundaries exactly like
    :func:`box_blur`.

    Fully relational — no Python kernel at all: each inside node
    contributes its corner bit to the 4 cells that touch it (a 4-way
    explode), ONE map-side-combined groupBy(cell) sums bits into the
    marching-squares case index, and a broadcast join against the 16-case
    midpoint table emits segments. The shuffle carries at most 4 rows per
    inside node pre-combine (one per lit cell post-combine), so a 10^12-
    point heatmap contours with one linear-size shuffle; dense-city skew
    spreads across distinct cell keys. Doubled integer coordinates make
    the op exact in every engine — :func:`contour_segments_sql` is the
    verbatim DuckDB twin."""
    tmask = (1 << z) - 1
    inside = (
        sparse.where(F.col("n") >= threshold)
        .select(
            (
                F.shiftleft(F.shiftright("tile_id", z), p)
                + F.col("px").cast("long")
            ).alias("gx"),
            (
                F.shiftleft(F.col("tile_id").bitwiseAND(F.lit(tmask)), p)
                + F.col("py").cast("long")
            ).alias("gy"),
        )
    )
    corner = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                    F.lit(b).alias("b"),
                )
                for dx, dy, b in ((0, 0, 1), (-1, 0, 2), (0, -1, 4), (-1, -1, 8))
            ]
        )
    ).alias("c")
    cells = (
        inside.select("gx", "gy", corner)
        .select(
            (F.col("gx") + F.col("c.dx")).alias("cx"),
            (F.col("gy") + F.col("c.dy")).alias("cy"),
            F.col("c.b").alias("b"),
        )
        .groupBy("cx", "cy")
        .agg(F.sum("b").cast("int").alias("cse"))
        .where(F.col("cse") != 15)
    )
    spark = sparse.sparkSession
    # the 16-case table as pure literals (inline of a literal struct array
    # -> LocalRelation after constant folding; no Python RDD in the plan)
    case_df = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cse"),
                        F.lit(a).alias("ox1"), F.lit(b).alias("oy1"),
                        F.lit(x).alias("ox2"), F.lit(y).alias("oy2"),
                    )
                    for c, a, b, x, y in _MS_CASES
                ]
            )
        )
    )
    two = F.lit(2)
    return (
        cells.join(F.broadcast(case_df), "cse")
        .select(
            (two * F.col("cx") + F.col("ox1")).alias("x1"),
            (two * F.col("cy") + F.col("oy1")).alias("y1"),
            (two * F.col("cx") + F.col("ox2")).alias("x2"),
            (two * F.col("cy") + F.col("oy2")).alias("y2"),
        )
    )


def contour_segments_sql(sparse_cte: str, threshold: int = 1) -> str:
    """DuckDB twin of :func:`contour_segments` over a CTE exposing
    (gx, gy, n) GLOBAL pixel counts (the same pre-tiling shape
    :func:`box_blur_sql` binds to). Binds ``ms_cells`` and
    ``ms_segments``; select (x1, y1, x2, y2) from ``ms_segments``."""
    cases = ", ".join(f"({c}, {a}, {b}, {x}, {y})" for c, a, b, x, y in _MS_CASES)
    return f"""
    ms_inside AS (
      SELECT gx, gy FROM {sparse_cte} WHERE n >= {threshold}
    ),
    ms_corners AS (
      SELECT gx AS cx, gy AS cy, 1 AS b FROM ms_inside
      UNION ALL SELECT gx - 1, gy, 2 FROM ms_inside
      UNION ALL SELECT gx, gy - 1, 4 FROM ms_inside
      UNION ALL SELECT gx - 1, gy - 1, 8 FROM ms_inside
    ),
    ms_cells AS (
      SELECT cx, cy, CAST(SUM(b) AS INTEGER) AS cse
      FROM ms_corners GROUP BY 1, 2 HAVING SUM(b) <> 15
    ),
    ms_case_table(cse, ox1, oy1, ox2, oy2) AS (VALUES {cases}),
    ms_segments AS (
      SELECT 2 * c.cx + t.ox1 AS x1, 2 * c.cy + t.oy1 AS y1,
             2 * c.cx + t.ox2 AS x2, 2 * c.cy + t.oy2 AS y2
      FROM ms_cells c JOIN ms_case_table t USING (cse)
    )
    """


def polygon_mask_pixels(spark, ring: list[tuple[float, float]], z: int, p: int = 8) -> DataFrame:
    """Vector→raster for POLYGONS: -> (tile_id long, px int, py int) — one
    row per pixel whose center lies inside the (lon, lat) ring, across the
    ring's bbox cover tiles at zoom ``z`` with ``2**p``-pixel tiles (the
    geofence-mask / label-raster job).

    The even-odd ray cast runs in web-mercator PIXEL space: ring vertices
    are forward-transformed once (``quadkey.merc_px_py`` — sin/ln only, the
    chain proven bit-identical across engines by the quadkey twins) and
    pixel centers are exact floats (integer + 0.5), so the refine is pure
    sub/mul/div/add/compare — no inverse mercator, no transcendentals in
    the hot loop, bit-replayable in SQL. The plan is Column-only (cover
    rows -> two sequence explodes -> codegen'd XOR chain of per-edge
    crossing tests), embarrassingly parallel, zero shuffle."""
    from activity_files_spark.functions.quadkey import merc_px_py
    from activity_files_spark.operators.spatial import polygon_cover_tiles

    side = 1 << p
    verts = [merc_px_py(lat, lon, z + p) for lon, lat in ring]
    tiles = polygon_cover_tiles(ring, z)
    tdf = spark.createDataFrame(tiles, "tx long, ty long").repartition(
        min(len(tiles), spark.sparkContext.defaultParallelism)
    )
    pix = tdf.select(
        "tx", "ty",
        F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("px"),
    ).select(
        "tx", "ty", "px",
        F.explode(F.sequence(F.lit(0), F.lit(side - 1))).alias("py"),
    )
    cx = (F.shiftleft(F.col("tx"), p) + F.col("px")).cast("double") + F.lit(0.5)
    cy = (F.shiftleft(F.col("ty"), p) + F.col("py")).cast("double") + F.lit(0.5)
    crossings = None
    for k in range(len(verts)):
        x1, y1 = verts[k]
        x2, y2 = verts[(k + 1) % len(verts)]
        if y1 == y2:
            continue  # horizontal edge never satisfies (y1>cy) != (y2>cy)
        crosses = (F.lit(y1) > cy) != (F.lit(y2) > cy)
        xin = (
            F.lit(x2 - x1) * (cy - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        )
        term = (crosses & (cx < xin)).cast("int")
        crossings = term if crossings is None else crossings + term
    if crossings is None:
        raise ValueError("degenerate ring: all edges horizontal")
    return pix.where(crossings % 2 == 1).select(
        F.shiftleft(F.col("tx"), z).bitwiseOR(F.col("ty")).alias("tile_id"),
        "px", "py",
    )


# ---------------------------------------------------------------------------
# Raster -> vector
# ---------------------------------------------------------------------------


def _label_components(mask: np.ndarray) -> list[dict]:
    """4-connected component labeling over a boolean (h, w) mask: classic
    two-pass run-based union-find. Row runs are found vectorized
    (np.diff over the padded mask); unions walk the previous row's runs
    with two pointers, so the python-level work is O(runs), not O(pixels).
    Returns per-component dicts sorted by (min_y, min_x)."""
    h, w = mask.shape
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    runs_by_row: list[list[tuple[int, int, int]]] = []  # (x0, x1, run_id)
    prev: list[tuple[int, int, int]] = []
    for y in range(h):
        row = mask[y]
        d = np.diff(np.concatenate(([0], row.view(np.int8), [0])))
        starts = np.flatnonzero(d == 1)
        ends = np.flatnonzero(d == -1)
        cur: list[tuple[int, int, int]] = []
        pi = 0
        for x0, x1 in zip(starts.tolist(), ends.tolist()):
            rid = len(parent)
            parent.append(rid)
            # union with previous-row runs overlapping [x0, x1)
            while pi < len(prev) and prev[pi][1] <= x0:
                pi += 1
            pj = pi
            while pj < len(prev) and prev[pj][0] < x1:
                union(rid, prev[pj][2])
                pj += 1
            # the last overlapping prev run may also overlap the NEXT cur
            # run, so only advance past runs that end before x1
            cur.append((x0, x1, rid))
        runs_by_row.append(cur)
        prev = cur

    comps: dict[int, dict] = {}
    for y, runs in enumerate(runs_by_row):
        for x0, x1, rid in runs:
            root = find(rid)
            c = comps.get(root)
            if c is None:
                comps[root] = c = {
                    "min_x": x0, "max_x": x1 - 1, "min_y": y, "max_y": y,
                    "area": 0, "sum_x": 0, "sum_y": 0,
                }
            npx = x1 - x0
            c["min_x"] = min(c["min_x"], x0)
            c["max_x"] = max(c["max_x"], x1 - 1)
            c["max_y"] = y
            c["area"] += npx
            # sum of x over the run: x0 + ... + (x1-1)
            c["sum_x"] += (x0 + x1 - 1) * npx // 2
            c["sum_y"] += y * npx
    out = sorted(comps.values(), key=lambda c: (c["min_y"], c["min_x"]))
    for c in out:
        c["cx"] = c.pop("sum_x") / c["area"]
        c["cy"] = c.pop("sum_y") / c["area"]
    return out


def raster_components(
    images: DataFrame,
    threshold: int = 128,
    id_col: str = "image_id",
) -> DataFrame:
    """Raster→vector over ``images``: :func:`raster_components_kernel` in
    one mapInPandas."""
    return map_kernels(images, raster_components_kernel(threshold, id_col))


def raster_components_kernel(threshold: int = 128, id_col: str = "image_id") -> Kernel:
    """Raster→vector: threshold each image's luma plane (mean of RGB,
    integer floor) at ``threshold`` and extract 4-connected components as
    vector features -> (id, comp int, area long, min_x int, min_y int,
    max_x int, max_y int, cx double, cy double). ``comp`` numbers
    components in (min_y, min_x) order. Expects (id_col, bytes binary,
    w int, h int) rows of raw interleaved RGB."""
    schema = (
        f"{id_col} string, comp int, area long, min_x int, min_y int, "
        "max_x int, max_y int, cx double, cy double"
    )

    def kernel(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = np.frombuffer(bytes(r.bytes), np.uint8).reshape(
                    r.h, r.w, 3
                ).astype(np.int64)
                luma = px.sum(axis=2) // 3
                for ci, c in enumerate(_label_components(luma >= threshold)):
                    rows.append({
                        id_col: getattr(r, id_col), "comp": ci,
                        "area": c["area"], "min_x": c["min_x"],
                        "min_y": c["min_y"], "max_x": c["max_x"],
                        "max_y": c["max_y"], "cx": c["cx"], "cy": c["cy"],
                    })
            yield pd.DataFrame(
                rows,
                columns=[id_col, "comp", "area", "min_x", "min_y",
                         "max_x", "max_y", "cx", "cy"],
            )

    return Kernel(kernel, schema)
