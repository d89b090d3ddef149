"""Spatial core: cover joins (point-in-polygon and relatives), kNN join.

The north-rule operators (BASELINE.json) — not present in the reference
(which stores polygons from GeoJSON, geojson_parser.dart:278-316, but never
joins against them). Plan shapes are deliberate:

- **PIP join** = cell-prefix hash join: points carry a quadkey cell column
  (native expression, codegen'd); the small geofence set is expanded to its
  covering cell set driver-side and **broadcast**; the equi-join on cell is
  followed by an exact ray-cast refinement in a vectorized pandas UDF that
  looks the ring up in a broadcast dict (no per-row Python, no ring column
  shipped through the shuffle).
- **kNN join** = cell-ring expansion: candidates are gathered from tile
  rings of growing chebyshev radius; a query is final once its k-th nearest
  candidate is provably closer than anything in an unsearched ring
  (kth_dist <= r * min_tile_ground_dim). The candidate join is an equi-join
  on cell; the per-query top-k is a window rank.

At 100 TB the points side is partitioned/bucketed by cell so the equi-join
shuffles only the (tiny) exploded side; skewed dense-urban cells are handled
by AQE skew-join plus optional salting in `tiling.py`.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from activity_files_spark.functions.geo import haversine_m
from activity_files_spark.functions.quadkey import (
    cell_id_col,
    quadkey_py,
    tile_xy_col,
    tile_xy_py,
)
from activity_files_spark.operators.materialize import materialize

EARTH_CIRCUM_M = 40_075_016.686


def ring_bbox(ring: list[tuple[float, float]]) -> tuple[float, float, float, float]:
    """(lon_w, lat_s, lon_e, lat_n) of a (lon, lat) ring."""
    lons = [p[0] for p in ring]
    lats = [p[1] for p in ring]
    return min(lons), min(lats), max(lons), max(lats)


def polygon_cover_tiles(ring: list[tuple[float, float]], z: int) -> list[tuple[int, int]]:
    """Covering (x, y) tiles of a polygon's bbox at zoom ``z``.

    Conservative: every tile intersecting the ring's bbox. Exactness is
    restored by the ray-cast refinement stage, so a slightly fat cover only
    costs extra candidate rows, never correctness. For geofence sets the
    cover count is capped by choosing z from the bbox size (see
    :func:`auto_cover_zoom`).
    """
    lon_w, lat_s, lon_e, lat_n = ring_bbox(ring)
    x0, y0 = tile_xy_py(lat_n, lon_w, z)  # NW corner -> min x, min y
    x1, y1 = tile_xy_py(lat_s, lon_e, z)  # SE corner -> max x, max y
    return [
        (x, y)
        for x in range(min(x0, x1), max(x0, x1) + 1)
        for y in range(min(y0, y1), max(y0, y1) + 1)
    ]


def auto_cover_zoom(ring: list[tuple[float, float]], max_cells: int = 64) -> int:
    """Finest zoom whose bbox cover stays under ``max_cells``."""
    lon_w, lat_s, lon_e, lat_n = ring_bbox(ring)
    for z in range(20, 0, -1):
        x0, y0 = tile_xy_py(lat_n, lon_w, z)
        x1, y1 = tile_xy_py(lat_s, lon_e, z)
        if (abs(x1 - x0) + 1) * (abs(y1 - y0) + 1) <= max_cells:
            return z
    return 1


def ray_cast_py(lon: float, lat: float, ring: list[tuple[float, float]]) -> bool:
    """Even-odd ray cast (golden). Boundary convention: the standard
    half-open crossing rule — a point exactly on a horizontal edge or on the
    right boundary may be excluded; fixtures pin interior/exterior points."""
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > lat) != (y2 > lat):
            xin = (x2 - x1) * (lat - y1) / (y2 - y1) + x1
            if lon < xin:
                inside = not inside
    return inside


def _ray_cast_np(lon: np.ndarray, lat: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray cast: points (m,) vs one ring (n, 2)."""
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(ring[:, 0], -1)
    y2 = np.roll(ring[:, 1], -1)
    lat_b = lat[:, None]
    lon_b = lon[:, None]
    crosses = (y1[None, :] > lat_b) != (y2[None, :] > lat_b)
    with np.errstate(divide="ignore", invalid="ignore"):
        xin = (x2 - x1)[None, :] * (lat_b - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    hits = crosses & (lon_b < xin)
    return (hits.sum(axis=1) % 2).astype(bool)


def _cover_join(
    points: DataFrame,
    shapes: list[tuple[tuple, list[tuple[float, float]]]],
    ddl: str,
    refine: Column,
    how: str = "inner",
    z: int | None = None,
    lat: str = "lat",
    lon: str = "lon",
    cell_col: str | None = None,
) -> DataFrame:
    """Filter-and-refine join of points against a small driver-side shape
    set: the ONE implementation of the cover-join shape. :func:`pip_join`,
    :func:`rect_pip_join`, :func:`snap_to_segments` and
    :func:`within_radius_join` (and through them the driver queries,
    ``entry()`` and bench.py's flagship join) differ only in their shapes
    and their exact ``refine``, so the cover encoding, zoom rule and join
    policy can't desynchronize.

    ``shapes``: ``(payload, ring)`` pairs. Each ring's bbox is covered with
    zoom-``z`` tiles (``z`` None: the finest zoom keeping every shape under
    :func:`auto_cover_zoom`'s cap, 12 for an empty set), one cover row per
    (shape, tile). ``ddl`` is the cover table's schema: the payload fields
    in order, with one ``_cover_cell long`` field among them where the
    packed ``(x << z) | y`` tile goes. Points are cell-encoded at zoom
    ``z`` (native expression), or pass ``cell_col`` to reuse a packed cell
    column they already carry (then ``z`` must be its zoom).

    The cover is **broadcast** and equi-joined on cell, then ``refine`` (an
    exact Column predicate over point and payload columns) restores
    exactness: ``how='inner'`` applies it as a post-join filter,
    ``'left_outer'`` folds it INTO the join condition, so a point in no
    shape keeps null payload (the labeling shape). The plan is a
    BroadcastHashJoin, never a BroadcastNestedLoopJoin: at 100 TB the work
    is |points ∩ cover cells| candidate rows, not n_points × n_shapes
    predicate evaluations. Returns the point columns plus the payload
    columns; the cell columns are dropped.
    """
    if cell_col is not None and z is None:
        raise ValueError("cell_col requires an explicit z (its zoom)")
    if z is None:
        z = min(auto_cover_zoom(ring) for _, ring in shapes) if shapes else 12
    at = ddl.split("_cover_cell")[0].count(",")  # payload fields before the cell
    cover = points.sparkSession.createDataFrame(
        [
            (*payload[:at], (x << z) | y, *payload[at:])
            for payload, ring in shapes
            for x, y in polygon_cover_tiles(ring, z)
        ],
        ddl,
    )
    pts = points
    if cell_col is None:
        pts = points.withColumn("_cell", cell_id_col(F.col(lat), F.col(lon), z))
    on = pts[cell_col or "_cell"] == cover["_cover_cell"]
    if how == "inner":
        j = pts.join(F.broadcast(cover), on, "inner").filter(refine)
    elif how == "left_outer":
        j = pts.join(F.broadcast(cover), on & refine, "left_outer")
    else:
        raise ValueError(f"unsupported how={how!r}")
    return j.drop("_cover_cell", *([] if cell_col else ["_cell"]))


def pip_join(
    points: DataFrame,
    polygons: list[dict],
    z: int | None = None,
    lat: str = "lat",
    lon: str = "lon",
    how: str = "inner",
) -> DataFrame:
    """Point-in-polygon join against a small geofence set.

    ``polygons``: list of {"geofence_id": str, "ring": [(lon, lat), ...]}
    (driver-side — geofence sets are small per the north star; at scale they
    arrive as a collected DataFrame). Returns points columns + geofence_id.

    Plan: the :func:`_cover_join` of the polygons at zoom ``z`` (auto-chosen
    from polygon sizes if None); the exact ray-cast refine runs as a
    vectorized pandas UDF over numpy arrays, grouped by geofence inside
    each Arrow batch; rings live in a broadcast closure dict. ``how`` is
    'inner' only: a Python UDF can't sit in an outer join's condition.
    """
    if how != "inner":
        raise ValueError(f"unsupported how={how}")
    rings_np = {p["geofence_id"]: np.asarray(p["ring"], dtype=np.float64) for p in polygons}
    bc = points.sparkSession.sparkContext.broadcast(rings_np)

    @F.pandas_udf(BooleanType())
    def contains(gid: pd.Series, plon: pd.Series, plat: pd.Series) -> pd.Series:
        ringmap = bc.value
        out = np.zeros(len(gid), dtype=bool)
        lon_v = plon.to_numpy(dtype=np.float64)
        lat_v = plat.to_numpy(dtype=np.float64)
        for g in gid.unique():
            m = (gid == g).to_numpy()
            ring = ringmap.get(g)
            if ring is None or m.sum() == 0:
                continue
            out[m] = _ray_cast_np(lon_v[m], lat_v[m], ring)
        return pd.Series(out)

    return _cover_join(
        points,
        [((p["geofence_id"],), p["ring"]) for p in polygons],
        "geofence_id string, _cover_cell long",
        contains(F.col("geofence_id"), F.col(lon), F.col(lat)),
        how, z, lat, lon,
    )


def _rect_pip_expr(
    points: DataFrame,
    rects: list[tuple],
    lat: str,
    lon: str,
    id_col: str,
    how: str,
) -> DataFrame:
    """Join-free containment for tiny rect sets: the rect table is compiled
    into the projection itself — one CASE per rect collected into an array,
    null-compacted, exploded. Zero shuffle, zero join operator, the whole
    thing stays inside one WholeStageCodegen span; per-tuple match
    multiplicity (0/1) is identical to the cover join's, since a point
    occupies exactly one cell of any given rect's cover."""
    whens = [
        F.when(
            (F.col(lon) >= F.lit(float(w))) & (F.col(lon) <= F.lit(float(e)))
            & (F.col(lat) >= F.lit(float(s))) & (F.col(lat) <= F.lit(float(n))),
            F.lit(str(rid)),
        )
        for rid, w, e, s, n in rects
    ]
    matches = F.array_compact(F.array(*whens))
    if how == "inner":
        return points.withColumn(id_col, F.explode(matches))
    if how == "left_outer":
        # explode_outer of an empty match array keeps the point, null id —
        # the same labeling shape as the outer cover join
        return points.withColumn(id_col, F.explode_outer(matches))
    raise ValueError(f"unsupported how={how!r}")


def rect_pip_join(
    points: DataFrame,
    rects: list[tuple],
    z: int | None = None,
    lat: str = "lat",
    lon: str = "lon",
    id_col: str = "geofence_id",
    how: str = "inner",
    cell_col: str | None = None,
    expr_max_rects: int = 0,
) -> DataFrame:
    """Inclusive axis-aligned rectangle containment as a cell-prefix hash
    join — the rect fast path of :func:`pip_join` with the ray-cast kernel
    replaced by an exact pure-Column refine, so the join stays
    whole-stage-codegen'd. The driver PIP queries, ``entry()`` and both
    bench pipelines (flagship points, fused image pipeline) call here.

    ``rects``: list of ``(rect_id, lon_w, lon_e, lat_s, lat_n)``. The
    ``(rect_id, cell, bounds)`` bbox cover is the :func:`_cover_join` of
    the rects (``z``, ``cell_col`` and ``how`` as there); the inclusive
    containment predicate is its refine. Same rows as the naive
    theta-join. ``how='left_outer'`` keeps non-contained points with a
    null ``id_col``.

    Sets of at most ``expr_max_rects`` tuples skip the join entirely: the
    rect table is compiled into a CASE-array projection
    (:func:`_rect_pip_expr`) — no join operator, no broadcast, no extra
    stage, one WholeStageCodegen span. Measured tradeoff (local[32],
    3-rect geofence set): the cover join's single hash probe per row beats
    the CASE array+explode per-row cost on LIGHT rows at scale (35.5M vs
    19.7M rows/s at 50M points), while the expr path wins whenever the
    eliminated broadcast/join fixed cost matters more — small inputs
    (crossover ≈10M light rows on this box) or heavy rows where per-row
    labeling cost is noise (fused image pipeline: 32% faster at 12k
    decoded images, and decode dominates per-row cost at ANY scale). The
    default 0 keeps the scale-safe cover join; image pipelines opt in.
    """
    if 0 < len(rects) <= expr_max_rects:
        return _rect_pip_expr(points, rects, lat, lon, id_col, how)
    # build per-TUPLE, not per-id: a multi-part geofence may repeat its id
    # across several rects and every part must contribute its own cover
    shapes = [
        ((rid, w, e, s, n), [(w, s), (e, s), (e, n), (w, n)])
        for rid, w, e, s, n in rects
    ]
    contained = (
        (F.col(lon) >= F.col("lon_w")) & (F.col(lon) <= F.col("lon_e"))
        & (F.col(lat) >= F.col("lat_s")) & (F.col(lat) <= F.col("lat_n"))
    )
    return _cover_join(
        points, shapes,
        f"{id_col} string, _cover_cell long, lon_w double, lon_e double,"
        " lat_s double, lat_n double",
        contained, how, z, lat, lon, cell_col,
    ).drop("lon_w", "lon_e", "lat_s", "lat_n")


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    z: int = 12,
    q_id: str = "query_id",
    p_id: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
    max_ring: int = 64,
) -> DataFrame:
    """k-nearest-neighbor join via cell-ring expansion.

    Both sides are tile-encoded at zoom ``z``. For growing chebyshev radius
    r, each unresolved query explodes to the tiles of rings 0..r; an
    equi-join on tile gathers candidates; a window rank keeps the k nearest
    by haversine. A query is resolved when it has >= k candidates AND its
    k-th distance <= r * min_tile_ground_dim (nothing in an unsearched ring
    can be closer), or when max_ring is exhausted.

    Returns (q_id, p_id, dist_m, rank).
    """
    qx, qy = tile_xy_col(F.col(lat), F.col(lon), z)
    q = queries.select(
        F.col(q_id), F.col(lat).alias("_qlat"), F.col(lon).alias("_qlon"),
        qx.alias("_qx"), qy.alias("_qy"),
    )
    px, py = tile_xy_col(F.col(lat), F.col(lon), z)
    p = points.select(
        F.col(p_id), F.col(lat).alias("_plat"), F.col(lon).alias("_plon"),
        px.alias("_px"), py.alias("_py"),
    )
    # packed arithmetic key (multiplication form tolerates out-of-range
    # ring offsets on the query side — they simply never match)
    p_keyed = p.withColumn("_pk", F.col("_px") * F.lit(1 << z) + F.col("_py"))

    spark = queries.sparkSession
    remaining = q
    resolved_parts: list[DataFrame] = []
    acc: DataFrame | None = None  # candidates found so far for unresolved queries
    prev_r = -1
    r = 1
    while r <= max_ring:
        # search only the NEW annulus (chebyshev radius in (prev_r, r]) —
        # inner rings were joined in earlier rounds and live in `acc`;
        # annuli are disjoint and a point maps to one cell, so the union
        # never duplicates a (query, point) candidate
        offsets = [
            (dx, dy)
            for dx in range(-r, r + 1)
            for dy in range(-r, r + 1)
            if max(abs(dx), abs(dy)) > prev_r
        ]
        off_df = spark.createDataFrame(offsets, "dx int, dy int")
        cand_new = (
            remaining.join(F.broadcast(off_df))
            .withColumn("_pk", (F.col("_qx") + F.col("dx")) * F.lit(1 << z) + F.col("_qy") + F.col("dy"))
            .join(p_keyed.drop("_px", "_py"), "_pk", "inner")
            .withColumn(
                "dist_m",
                haversine_m(F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon")),
            )
            .select(q_id, p_id, "dist_m", "_qlat")
        )
        acc = cand_new if acc is None else acc.unionByName(cand_new)
        acc = materialize(acc, eager=False)  # cut the growing lineage
        wk = Window.partitionBy(q_id).orderBy(F.col("dist_m").asc(), F.col(p_id).asc())
        topk = acc.withColumn("rank", F.row_number().over(wk)).filter(F.col("rank") <= k)
        # resolution check: k-th distance within the guaranteed radius
        guard = F.lit(r) * F.lit(EARTH_CIRCUM_M) * F.cos(
            F.radians(F.least(F.abs(F.col("_qlat")) + 1.0, F.lit(85.0)))
        ) / F.lit(float(1 << z)) * F.lit(0.9)
        stats = topk.groupBy(q_id).agg(
            F.count("*").alias("_n"), F.max("dist_m").alias("_kth"), F.first(guard).alias("_guard")
        )
        done_ids = stats.filter(
            (F.col("_n") >= k) & (F.col("_kth") <= F.col("_guard"))
        ).select(q_id)
        if r == max_ring:
            done_ids = stats.select(q_id)  # accept best-effort at the cap
        # read by this round's two joins, the isEmpty check and the next
        # round's candidate filter
        done_ids = materialize(done_ids, eager=False)
        part = topk.join(F.broadcast(done_ids), q_id, "left_semi").select(
            q_id, p_id, "dist_m", "rank"
        )
        resolved_parts.append(part)
        remaining = remaining.join(F.broadcast(done_ids), q_id, "left_anti")
        if r >= max_ring or remaining.isEmpty():
            break
        # drop resolved queries' accumulated candidates before the next round
        acc = acc.join(F.broadcast(done_ids), q_id, "left_anti")
        prev_r = r
        r = min(r * 2, max_ring)  # always land exactly on max_ring last

    out = resolved_parts[0]
    for extra in resolved_parts[1:]:
        out = out.unionByName(extra)
    return out


def knn_join_brute(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    q_id: str = "query_id",
    p_id: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Brute-force kNN (cross join + window) — oracle/baseline for tests."""
    q = queries.select(q_id, F.col(lat).alias("_qlat"), F.col(lon).alias("_qlon"))
    p = points.select(p_id, F.col(lat).alias("_plat"), F.col(lon).alias("_plon"))
    cand = q.crossJoin(p).withColumn(
        "dist_m", haversine_m(F.col("_qlat"), F.col("_qlon"), F.col("_plat"), F.col("_plon"))
    )
    wk = Window.partitionBy(q_id).orderBy(F.col("dist_m").asc(), F.col(p_id).asc())
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(q_id, p_id, "dist_m", "rank")
    )


def segment_table(
    routes: list[tuple[str, list[tuple[float, float]]]], ref_lat: float
) -> list[tuple]:
    """Flatten ``(route_id, [(lon, lat), ...])`` polylines into per-segment
    rows with the planar projection precomputed driver-side:

        (route_id, seg_idx, a_lon, a_lat, vx, vy, len2)

    where ``vx/vy`` are the segment vector in METERS under the local
    equirectangular projection anchored at ``ref_lat`` (kx = m per degree
    lon at the anchor, ky = m per degree lat), and ``len2`` = vx²+vy².
    Zero-length segments are encoded as vx=vy=0, len2=1 so the projection
    parameter t collapses to 0 and the distance degrades to point distance
    — no division-by-zero branch needed in the hot expression.

    Precomputing these as exact double literals means the Spark Column
    expression and the DuckDB oracle SQL consume the *same* numbers and the
    remaining per-point arithmetic is the same IEEE op sequence in both.
    """
    kx, ky = planar_scales(ref_lat)
    rows = []
    for route_id, pts in routes:
        for i in range(len(pts) - 1):
            (a_lon, a_lat), (b_lon, b_lat) = pts[i], pts[i + 1]
            vx = (b_lon - a_lon) * kx
            vy = (b_lat - a_lat) * ky
            len2 = vx * vx + vy * vy
            if len2 == 0.0:
                vx = vy = 0.0
                len2 = 1.0
            rows.append((route_id, i, a_lon, a_lat, vx, vy, len2))
    return rows


def planar_scales(ref_lat: float) -> tuple[float, float]:
    """(meters per degree lon, meters per degree lat) of the local
    equirectangular projection anchored at ``ref_lat``."""
    from activity_files_spark.functions.geo import EARTH_RADIUS_M

    kx = math.radians(1.0) * EARTH_RADIUS_M * math.cos(math.radians(ref_lat))
    ky = math.radians(1.0) * EARTH_RADIUS_M
    return kx, ky


def _snap_expr(
    points: DataFrame,
    segs: list[tuple],
    kx: float,
    ky: float,
    max_dist_m: float,
    lat: str,
    lon: str,
) -> DataFrame:
    """Join-free snap path: the segment table compiled into an
    array<struct>-min projection (the map-matching twin of
    :func:`_rect_pip_expr`). One WholeStageCodegen span, no broadcast, no
    aggregation state — which also makes it legal as a STATELESS streaming
    projection (append mode, no watermark)."""
    structs = []
    for rid, i, a_lon, a_lat, vx, vy, len2 in segs:
        wx = (F.col(lon) - F.lit(a_lon)) * F.lit(kx)
        wy = (F.col(lat) - F.lit(a_lat)) * F.lit(ky)
        t_raw = (wx * F.lit(vx) + wy * F.lit(vy)) / F.lit(len2)
        t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
        dx = wx - t * F.lit(vx)
        dy = wy - t * F.lit(vy)
        d = F.sqrt(dx * dx + dy * dy)
        structs.append(
            F.struct(
                d.alias("_d"),
                F.lit(rid).alias("route_id"),
                F.lit(i).cast("int").alias("seg_idx"),
                t.alias("_t"),
            )
        )
    best = F.array_min(F.array(*structs))
    return (
        points.withColumn("_m", best)
        .filter(F.col("_m._d") <= F.lit(max_dist_m))
        .select(
            *points.columns,
            F.col("_m.route_id").alias("route_id"),
            F.col("_m.seg_idx").alias("seg_idx"),
            F.col("_m._d").alias("dist_m"),
            F.col("_m._t").alias("t_frac"),
        )
    )


def snap_to_segments(
    points: DataFrame,
    routes: list[tuple[str, list[tuple[float, float]]]],
    max_dist_m: float,
    ref_lat: float,
    z: int | None = None,
    lat: str = "lat",
    lon: str = "lon",
    expr_max_segments: int = 0,
) -> DataFrame:
    """Map-matching join: snap every point to the nearest segment of a small
    route set within ``max_dist_m``, as a cell-prefix hash join.

    Not in the reference (which parses tracks but never matches them to a
    route network); this is north-rule spatial core in the same family as
    :func:`pip_join` / :func:`knn_join`. Plan shape:

    - Each segment's bbox is buffered by ``max_dist_m`` (converted to
      degrees through the SAME planar scales the distance uses, so the
      prune is provably complete: d(p, seg) <= tol implies p lies inside
      the buffered bbox) and covered with zoom-``z`` tiles.
    - The tiny ``(cell, segment)`` cover is the :func:`_cover_join` of the
      buffered boxes, refined by ``d <= max_dist_m`` — at 100 TB the
      candidate volume is |points near routes| × avg segments per cell,
      never n_points × n_segments.
    - Point-to-segment distance is pure Column arithmetic (project, clamp
      t to [0,1], hypot); the per-point argmin is a groupBy MIN over a
      (dist, route_id, seg_idx, t) struct — map-side partial aggregation
      collapses candidates to one row per point before the exchange, so
      the shuffle moves one row per matched point.

    Returns the input columns plus ``route_id``,
    ``seg_idx``, ``dist_m``, ``t_frac`` for points with at least one
    segment within tolerance (inner semantics).

    Segment tables of at most ``expr_max_segments`` rows skip the join
    entirely (:func:`_snap_expr`): the table compiles into an
    array<struct>-min projection — no broadcast, no aggregation, one
    codegen span. Same rows as the cover join (the argmin ordering is
    identical and the prune only removes d > tol candidates); the
    stateless form is also what the streaming twin runs, since it needs
    no watermark or state store.
    """
    segs = segment_table(routes, ref_lat)
    kx, ky = planar_scales(ref_lat)
    if 0 < len(segs) <= expr_max_segments:
        # argmin over the compiled struct array == groupBy struct-min over
        # the cover join's candidates: same (d, route_id, seg_idx) ordering,
        # and the cover prune only ever removes candidates with d > tol
        return _snap_expr(points, segs, kx, ky, max_dist_m, lat, lon)
    buf_lon = max_dist_m / kx
    buf_lat = max_dist_m / ky
    shapes = []
    for seg in segs:
        _, _, a_lon, a_lat, vx, vy, _ = seg
        b_lon = a_lon + vx / kx
        b_lat = a_lat + vy / ky
        w, e = min(a_lon, b_lon) - buf_lon, max(a_lon, b_lon) + buf_lon
        s, n = min(a_lat, b_lat) - buf_lat, max(a_lat, b_lat) + buf_lat
        shapes.append((seg, [(w, s), (e, s), (e, n), (w, n)]))
    wx = (F.col(lon) - F.col("a_lon")) * F.lit(kx)
    wy = (F.col(lat) - F.col("a_lat")) * F.lit(ky)
    t_raw = (wx * F.col("vx") + wy * F.col("vy")) / F.col("len2")
    t = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    dx = wx - t * F.col("vx")
    dy = wy - t * F.col("vy")
    d = F.sqrt(dx * dx + dy * dy)
    cand = _cover_join(
        points, shapes,
        "route_id string, seg_idx int, _cover_cell long, a_lon double,"
        " a_lat double, vx double, vy double, len2 double",
        d <= F.lit(max_dist_m), "inner", z, lat, lon,
    ).withColumn("_d", d).withColumn("_t", t)
    best = cand.groupBy(*points.columns).agg(
        F.min(F.struct(F.col("_d"), F.col("route_id"), F.col("seg_idx"), F.col("_t"))).alias("_m")
    )
    return best.select(
        *points.columns,
        F.col("_m.route_id").alias("route_id"),
        F.col("_m.seg_idx").alias("seg_idx"),
        F.col("_m._d").alias("dist_m"),
        F.col("_m._t").alias("t_frac"),
    )


def snap_to_segments_sql(
    pts_cte: str,
    routes: list[tuple[str, list[tuple[float, float]]]],
    max_dist_m: float,
    ref_lat: float,
    point_cols: str = "event_id",
) -> str:
    """DuckDB oracle twin of :func:`snap_to_segments`: brute theta-join over
    the same precomputed segment literals with the identical IEEE op
    sequence, argmin by ROW_NUMBER over (d, route_id, seg_idx). The cell
    prune is conservative-complete, so brute == pruned row-for-row."""
    segs = segment_table(routes, ref_lat)
    kx, ky = planar_scales(ref_lat)
    vals = ", ".join(
        f"('{rid}', {i}, {a_lon!r}, {a_lat!r}, {vx!r}, {vy!r}, {len2!r})"
        for rid, i, a_lon, a_lat, vx, vy, len2 in segs
    )
    return f"""
    seg(route_id, seg_idx, a_lon, a_lat, vx, vy, len2) AS (VALUES {vals}),
    mm_proj AS (
      SELECT {point_cols}, route_id, seg_idx, len2, vx, vy,
             (lon - a_lon) * {kx!r} AS wx,
             (lat - a_lat) * {ky!r} AS wy
      FROM {pts_cte} CROSS JOIN seg
    ),
    mm_t AS (
      SELECT {point_cols}, route_id, seg_idx, vx, vy, wx, wy,
             LEAST(GREATEST((wx * vx + wy * vy) / len2, 0.0), 1.0) AS t
      FROM mm_proj
    ),
    mm_cand AS (
      SELECT {point_cols}, route_id, seg_idx, t,
             SQRT((wx - t * vx) * (wx - t * vx) + (wy - t * vy) * (wy - t * vy)) AS d
      FROM mm_t
    ),
    mm_best AS (
      SELECT {point_cols}, route_id, seg_idx, d, t
      FROM mm_cand
      WHERE d <= {max_dist_m!r}
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY {point_cols} ORDER BY d, route_id, seg_idx
      ) = 1
    )
    """


ZONE_MIN_LEN_M = 1e-9  # degenerate boundary-touch cutoff (see zone_length)


def _lb_axis_ts(a, d, lo: float, hi: float):
    """Liang-Barsky per-axis (t_enter, t_exit) Columns for p = a + t*d
    against lo <= p <= hi. The d == 0 branch uses 0/1 (inside) or 1/0
    (outside, empty interval) sentinels; the discarded division branches
    may compute inf/nan but CASE picks the valid one (IEEE-safe in both
    engines)."""
    inside0 = (a >= F.lit(lo)) & (a <= F.lit(hi))
    t_en = (
        F.when(d > 0, (F.lit(lo) - a) / d)
        .when(d < 0, (F.lit(hi) - a) / d)
        .otherwise(F.when(inside0, F.lit(0.0)).otherwise(F.lit(1.0)))
    )
    t_ex = (
        F.when(d > 0, (F.lit(hi) - a) / d)
        .when(d < 0, (F.lit(lo) - a) / d)
        .otherwise(F.when(inside0, F.lit(1.0)).otherwise(F.lit(0.0)))
    )
    return t_en, t_ex


def zone_length(
    points: DataFrame,
    rects: list[tuple],
    ref_lat: float,
    key: str = "activity_id",
    ts: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """Distance traveled inside each zone: every consecutive-point segment
    is clipped against each (inclusive) rectangle with Liang-Barsky
    parametric clipping — t0 = max(0, enter_x, enter_y), t1 = min(1,
    exit_x, exit_y), inside length = max(t1 - t0, 0) x planar segment
    length — and the clipped lengths sum per (key, zone).

    ``rects``: (zone_id, lon_w, lon_e, lat_s, lat_n) like
    :func:`rect_pip_join`. Length metric = the local equirectangular
    projection at ``ref_lat`` (same planar scales as the map-matching
    join), so one IEEE sequence serves snap/simplify/zone ops and the
    DuckDB twin replays it bit-for-bit.

    Plan shape: one lag window (the segment builder every per-track op
    needs) -> the tiny zone table joined as a CROSS of N literal CASE
    columns... no: the zones are compiled into per-zone expression columns
    and STACKed, keeping everything in one codegen span with zero joins;
    the final groupBy is map-side combined. Returns (key, zone_id,
    n_segments, length_m) with only zones actually touched.
    """
    kx, ky = planar_scales(ref_lat)
    order = [ts, tiebreak] if tiebreak else [ts]
    w = Window.partitionBy(key).orderBy(*order)
    seg = (
        points.select(
            key,
            F.col(lat).alias("_blat"), F.col(lon).alias("_blon"),
            F.lag(lat).over(w).alias("_alat"), F.lag(lon).over(w).alias("_alon"),
        )
        .filter(F.col("_alat").isNotNull())
    )
    dx = (F.col("_blon") - F.col("_alon")) * F.lit(kx)
    dy = (F.col("_blat") - F.col("_alat")) * F.lit(ky)
    seg_len = F.sqrt(dx * dx + dy * dy)
    zone_cols = []
    for zid, lon_w, lon_e, lat_s, lat_n in rects:
        ax = (F.col("_alon") - F.lit(lon_w)) * F.lit(kx)
        ay = (F.col("_alat") - F.lit(lat_s)) * F.lit(ky)
        tx0, tx1 = _lb_axis_ts(ax, dx, 0.0, (lon_e - lon_w) * kx)
        ty0, ty1 = _lb_axis_ts(ay, dy, 0.0, (lat_n - lat_s) * ky)
        t0 = F.greatest(F.lit(0.0), tx0, ty0)
        t1 = F.least(F.lit(1.0), tx1, ty1)
        inside = F.greatest(t1 - t0, F.lit(0.0)) * seg_len
        zone_cols.append(
            F.struct(F.lit(zid).alias("zone_id"), inside.alias("len_m"))
        )
    exploded = seg.select(
        key, F.explode(F.array(*zone_cols)).alias("_z")
    ).select(key, "_z.zone_id", "_z.len_m")
    # > 1e-9 m, not > 0: a segment that merely TOUCHES a zone border
    # produces a clip interval of ulp-scale length whose exact value (0.0
    # vs ~1e-12) differs between engines' last-bit rounding in the
    # greatest/least chain; sub-nanometer clips are geometrically
    # meaningless, so both twins drop them with the same threshold
    return (
        exploded.filter(F.col("len_m") > ZONE_MIN_LEN_M)
        .groupBy(key, "zone_id")
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.round("len_m", 6).cast("decimal(24,6)"))
            .cast("double").alias("length_m"),
        )
    )


def zone_length_sql(
    pts_cte: str,
    rects: list[tuple],
    ref_lat: float,
    key: str = "user_id",
    order_cols: str = "ts, event_id",
) -> str:
    """DuckDB twin of :func:`zone_length` over a CTE (key, order cols,
    lat, lon). Binds zl_seg / zl_zones / zl_agg; caller SELECTs from
    zl_agg (key, zone_id, n_segments, length_m)."""
    kx, ky = planar_scales(ref_lat)
    per_zone = []
    for zid, lon_w, lon_e, lat_s, lat_n in rects:
        ax = f"((_alon - {lon_w!r}) * {kx!r})"
        ay = f"((_alat - {lat_s!r}) * {ky!r})"
        xhi = f"({(lon_e - lon_w) * kx!r})"
        yhi = f"({(lat_n - lat_s) * ky!r})"

        def axis(a, d, hi):
            inside0 = f"({a} >= 0.0 AND {a} <= {hi})"
            t_en = (
                f"CASE WHEN {d} > 0 THEN (0.0 - {a}) / {d}"
                f" WHEN {d} < 0 THEN ({hi} - {a}) / {d}"
                f" ELSE (CASE WHEN {inside0} THEN 0.0 ELSE 1.0 END) END"
            )
            t_ex = (
                f"CASE WHEN {d} > 0 THEN ({hi} - {a}) / {d}"
                f" WHEN {d} < 0 THEN (0.0 - {a}) / {d}"
                f" ELSE (CASE WHEN {inside0} THEN 1.0 ELSE 0.0 END) END"
            )
            return t_en, t_ex

        tx0, tx1 = axis(ax, "_dx", xhi)
        ty0, ty1 = axis(ay, "_dy", yhi)
        t0 = f"GREATEST(0.0, {tx0}, {ty0})"
        t1 = f"LEAST(1.0, {tx1}, {ty1})"
        per_zone.append(
            f"SELECT key, '{zid}' AS zone_id,"
            f" GREATEST({t1} - {t0}, 0.0) * _len AS len_m FROM zl_seg"
        )
    union = " UNION ALL ".join(per_zone)
    return f"""
    zl_lag AS (
      SELECT {key} AS key, lat AS _blat, lon AS _blon,
             LAG(lat) OVER w AS _alat, LAG(lon) OVER w AS _alon
      FROM {pts_cte}
      WINDOW w AS (PARTITION BY {key} ORDER BY {order_cols})
    ),
    zl_seg AS (
      SELECT key, _alat, _alon, _blat, _blon,
             (_blon - _alon) * {kx!r} AS _dx,
             (_blat - _alat) * {ky!r} AS _dy,
             SQRT(((_blon - _alon) * {kx!r}) * ((_blon - _alon) * {kx!r})
                + ((_blat - _alat) * {ky!r}) * ((_blat - _alat) * {ky!r})) AS _len
      FROM zl_lag WHERE _alat IS NOT NULL
    ),
    zl_zones AS ({union}),
    zl_agg AS (
      SELECT key, zone_id, COUNT(*) AS n_segments,
             CAST(SUM(CAST(ROUND(len_m, 6) AS DECIMAL(24,6))) AS DOUBLE) AS length_m
      FROM zl_zones WHERE len_m > {ZONE_MIN_LEN_M!r}
      GROUP BY key, zone_id
    )
    """


def within_radius_join(
    points: DataFrame,
    pois: list[tuple[str, float, float]],
    radius_m: float,
    z: int | None = None,
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """ST_DWithin join: every point within ``radius_m`` (haversine,
    inclusive) of any POI in a small driver-side set
    ``[(poi_id, lat, lon), ...]`` — the geofence-by-radius primitive next
    to :func:`pip_join` (polygon) and :func:`snap_to_segments` (network).

    Plan shape (the repo's broadcast-cover discipline): each POI's disk is
    bounded by a provably-complete lat/lon box — great-circle distance
    satisfies d >= R_earth*|dphi| and d >= R_earth*cos(phi_max)*|dlambda|,
    so ``|dlat| <= radius/ky`` and ``|dlon| <= radius/(ky*cos(band edge))``
    contain every within-radius point; the boxes are the shapes of a
    :func:`_cover_join` and the exact haversine twin is its refine. At
    corpus scale the candidate volume is |points near POIs| x POIs per
    cell, never n_points x n_pois.

    Returns the input columns plus ``poi_id`` and ``dist_m`` (inner
    semantics; a point within range of k POIs appears k times).
    """
    from activity_files_spark.functions.geo import EARTH_RADIUS_M

    ky = math.radians(1.0) * EARTH_RADIUS_M  # meters per degree latitude
    shapes = []
    for poi_id, plat, plon in pois:
        buf_lat = radius_m / ky
        band = min(abs(plat) + buf_lat, 89.9)
        buf_lon = radius_m / (ky * math.cos(math.radians(band)))
        ring = [
            (plon - buf_lon, plat - buf_lat),
            (plon + buf_lon, plat - buf_lat),
            (plon + buf_lon, plat + buf_lat),
            (plon - buf_lon, plat + buf_lat),
        ]
        shapes.append(((poi_id, plat, plon), ring))
    d = haversine_m(F.col(lat), F.col(lon), F.col("_plat"), F.col("_plon"))
    return (
        _cover_join(
            points, shapes, "poi_id string, _plat double, _plon double, _cover_cell long",
            d <= radius_m, "inner", z, lat, lon,
        )
        .withColumn("dist_m", d)
        .drop("_plat", "_plon")
    )


def within_radius_sql(
    pts_cte: str,
    pois: list[tuple[str, float, float]],
    radius_m: float,
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB oracle twin: brute theta-join with the IDENTICAL haversine
    IEEE sequence and the same inclusive compare — the cover join's prune
    only removes d > radius candidates, so the row sets must agree exactly.
    Binds ``wr_pois`` / ``wr_join``; select from ``wr_join``."""
    from activity_files_spark.functions.geo import haversine_sql

    vals = ", ".join(f"('{pid}', {plat!r}, {plon!r})" for pid, plat, plon in pois)
    d = haversine_sql(lat, lon, "plat", "plon")
    return f"""
    wr_pois(poi_id, plat, plon) AS (VALUES {vals}),
    wr_join AS (
      SELECT t.*, w.poi_id, {d} AS dist_m
      FROM {pts_cte} t, wr_pois w
      WHERE {d} <= {radius_m!r}
    )
    """


__all__ = [
    "polygon_cover_tiles",
    "auto_cover_zoom",
    "ray_cast_py",
    "pip_join",
    "rect_pip_join",
    "knn_join",
    "knn_join_brute",
    "quadkey_py",
    "planar_scales",
    "segment_table",
    "snap_to_segments",
    "snap_to_segments_sql",
    "within_radius_join",
    "within_radius_sql",
]
