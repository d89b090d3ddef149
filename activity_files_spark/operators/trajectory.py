"""Trajectory similarity: route cell signatures, exact cell-Jaccard pair
mining, top-k most-similar-route selection, cell-snapped symmetric
Hausdorff refinement and order-aware Fréchet/DTW refinement.

Not in the reference (which parses one activity file at a time and never
compares tracks); this is the route-dedup twin of the document near-dup
stack (operators/dedup.py) for the geospatial tier: "find the routes that
are near-duplicates of mine" over a corpus of millions of activities.

Plan shapes, 100 TB first:

- **Signature** = the route's DISTINCT zoom-``z`` tile set
  (:func:`route_cells`): one narrow shuffle (distinct on (key, cx, cy)),
  output bounded by track length / cell size, not point count — a 100k-point
  activity collapses to a few hundred cells.
- **Candidates** = self-equi-join on tile (:func:`route_pair_jaccard`):
  only routes sharing >= 1 cell ever meet, Jaccard is exact (shared /
  (|A| + |B| - shared)) from counting — integer arithmetic + one division,
  so the DuckDB twin is bit-identical. Dense cells (popular trailheads)
  create quadratic pair blowup per cell — the documented mitigations are
  the same as document near-dup: cap per-cell fan-out upstream, or switch
  the candidate stage to the MinHash miner (dedup.py) with cell ids as the
  shingle vocabulary; the refine below is unchanged.
- **Top-k** (:func:`top_similar_routes`): per-route window rank by
  (jaccard desc, other-id asc) — deterministic at every corpus density,
  unlike a fixed global threshold.
- **Refine** (:func:`hausdorff_refine`): symmetric Hausdorff distance over
  the two routes' TILE CENTERS — max over A of min over B of haversine,
  both directions. Snapping to cell centers bounds the candidate product at
  |cells_A| x |cells_B| (not points x points) and makes every float
  reproducible (tile centers are exact functions of integer tile coords);
  the approximation error vs point-level Hausdorff is at most one cell
  diagonal on each side. Aggregation is min-then-max — order-independent
  exact comparisons, one partial-agg shuffle per direction.
- **Order-aware refine** (:func:`lattice_refine`): discrete Fréchet or DTW
  over <= m index-resampled samples per route (:func:`index_resample`).
  The two metrics differ only in the cell recurrence, one entry each in
  :data:`LATTICE_METRICS`; they share one Python DP
  (:func:`lattice_distance`), one Arrow kernel and one anti-diagonal SQL
  unroll (:func:`lattice_sql`).
"""

from __future__ import annotations

import math
import operator
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.geo import (
    EARTH_RADIUS_M,
    haversine_m,
    haversine_sql,
)
from activity_files_spark.functions.quadkey import tile_xy_col, tile_xy_sql


def route_cells(
    points: DataFrame, z: int, key: str = "user_id",
    lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """Distinct zoom-``z`` tiles visited per route: (key, cx, cy)."""
    x, y = tile_xy_col(F.col(lat), F.col(lon), z)
    return points.select(
        F.col(key), x.alias("cx"), y.alias("cy")
    ).distinct()


def route_pair_jaccard(cells: DataFrame, key: str = "user_id") -> DataFrame:
    """All route pairs sharing >= 1 cell, with exact cell-set Jaccard.

    Output: (key_a, key_b, n_shared, n_a, n_b, jaccard), key_a < key_b.
    """
    counts = cells.groupBy(key).agg(F.count("*").alias("n"))
    a = cells.select(F.col(key).alias("key_a"), "cx", "cy")
    b = cells.select(F.col(key).alias("key_b"), "cx", "cy")
    shared = (
        a.join(b, ["cx", "cy"])
        .filter(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count("*").alias("n_shared"))
    )
    ca = counts.select(F.col(key).alias("key_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col(key).alias("key_b"), F.col("n").alias("n_b"))
    return (
        shared.join(ca, "key_a")
        .join(cb, "key_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
    )


def top_similar_routes(pairs: DataFrame, k: int = 1) -> DataFrame:
    """Per route (either side of the pair), its ``k`` most similar other
    routes by (jaccard desc, other asc). Symmetrizes the a<b pair list
    first so every route gets a ranking."""
    sym = pairs.select(
        F.col("key_a").alias("key"), F.col("key_b").alias("other"),
        "n_shared", "jaccard",
    ).unionByName(
        pairs.select(
            F.col("key_b").alias("key"), F.col("key_a").alias("other"),
            "n_shared", "jaccard",
        )
    )
    w = Window.partitionBy("key").orderBy(F.col("jaccard").desc(), F.col("other").asc())
    return sym.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _tile_center_cols(cx, cy, z: int):
    n = float(1 << z)
    lon = (cx + F.lit(0.5)) / F.lit(n) * F.lit(360.0) - F.lit(180.0)
    targ = F.lit(math.pi) * (F.lit(1.0) - F.lit(2.0) * (cy + F.lit(0.5)) / F.lit(n))
    lat = F.atan((F.exp(targ) - F.exp(-targ)) / F.lit(2.0)) * F.lit(180.0 / math.pi)
    return lat, lon


def tile_center_sql(cx: str, cy: str, z: int) -> tuple[str, str]:
    """SQL twins of :func:`_tile_center_cols` — same IEEE op sequence,
    pi-derived constants embedded as exact repr literals."""
    n = float(1 << z)
    lon = f"(({cx} + 0.5) / {n!r} * 360.0 - 180.0)"
    targ = f"({math.pi!r} * (1.0 - 2.0 * ({cy} + 0.5) / {n!r}))"
    lat = f"(ATAN((EXP({targ}) - EXP(-{targ})) / 2.0) * {180.0 / math.pi!r})"
    return lat, lon


def hausdorff_refine(
    pairs: DataFrame, cells: DataFrame, z: int, key: str = "user_id"
) -> DataFrame:
    """Symmetric Hausdorff distance (meters, haversine over tile centers)
    for each (key, other) pair. Returns pairs + ``hausdorff_m``.

    Directed distance both ways from one joined product:
    min over B per A-cell -> max; min over A per B-cell -> max; greatest.
    """
    lat_a, lon_a = _tile_center_cols(F.col("acx"), F.col("acy"), z)
    lat_b, lon_b = _tile_center_cols(F.col("bcx"), F.col("bcy"), z)
    ca = cells.select(
        F.col(key).alias("key"), F.col("cx").alias("acx"), F.col("cy").alias("acy")
    )
    cb = cells.select(
        F.col(key).alias("other"), F.col("cx").alias("bcx"), F.col("cy").alias("bcy")
    )
    prod = (
        pairs.select("key", "other")
        .join(ca, "key")
        .join(cb, "other")
        .withColumn("d", haversine_m(lat_a, lon_a, lat_b, lon_b))
    )
    h_ab = (
        prod.groupBy("key", "other", "acx", "acy")
        .agg(F.min("d").alias("dmin"))
        .groupBy("key", "other")
        .agg(F.max("dmin").alias("h_ab"))
    )
    h_ba = (
        prod.groupBy("key", "other", "bcx", "bcy")
        .agg(F.min("d").alias("dmin"))
        .groupBy("key", "other")
        .agg(F.max("dmin").alias("h_ba"))
    )
    return pairs.join(h_ab, ["key", "other"]).join(h_ba, ["key", "other"]).withColumn(
        "hausdorff_m", F.greatest(F.col("h_ab"), F.col("h_ba"))
    ).drop("h_ab", "h_ba")


def route_similarity_sql(
    pts_cte: str, z: int, k: int = 1, key: str = "user_id",
    refine_z: int | None = None,
) -> str:
    """DuckDB oracle body for route_cells -> route_pair_jaccard ->
    top_similar_routes(k) -> hausdorff_refine, over a CTE named ``pts_cte``
    with columns (key, lat, lon). Binds CTEs rc_cells .. rc_final; the
    caller selects from ``rc_final``. ``refine_z`` (default ``z``) is the
    coarser zoom the Hausdorff refine snaps to — the |cells|² product per
    pair shrinks 4x per level while the signature Jaccard stays at ``z``."""
    rz = z if refine_z is None else refine_z
    x, y = tile_xy_sql("lat", "lon", z)
    xr, yr = tile_xy_sql("lat", "lon", rz)
    clat_a, clon_a = tile_center_sql("acx", "acy", rz)
    clat_b, clon_b = tile_center_sql("bcx", "bcy", rz)
    hav = haversine_sql("alat", "alon", "blat", "blon")
    return f"""
    rc_cells AS (
      SELECT DISTINCT {key} AS key, {x} AS cx, {y} AS cy FROM {pts_cte}
    ),
    rc_counts AS (
      SELECT key, COUNT(*) AS n FROM rc_cells GROUP BY key
    ),
    rc_shared AS (
      SELECT a.key AS key_a, b.key AS key_b, COUNT(*) AS n_shared
      FROM rc_cells a JOIN rc_cells b
        ON a.cx = b.cx AND a.cy = b.cy AND a.key < b.key
      GROUP BY 1, 2
    ),
    rc_pairs AS (
      SELECT key_a, key_b, n_shared, ca.n AS n_a, cb.n AS n_b,
             CAST(n_shared AS DOUBLE) / (ca.n + cb.n - n_shared) AS jaccard
      FROM rc_shared
      JOIN rc_counts ca ON ca.key = key_a
      JOIN rc_counts cb ON cb.key = key_b
    ),
    rc_top AS (
      SELECT key, other, n_shared, jaccard FROM (
        SELECT key_a AS key, key_b AS other, n_shared, jaccard FROM rc_pairs
        UNION ALL
        SELECT key_b AS key, key_a AS other, n_shared, jaccard FROM rc_pairs
      )
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY key ORDER BY jaccard DESC, other ASC
      ) <= {k}
    ),
    rc_cells_r AS (
      SELECT DISTINCT {key} AS key, {xr} AS cx, {yr} AS cy FROM {pts_cte}
    ),
    rc_prod AS (
      SELECT t.key, t.other,
             a.cx AS acx, a.cy AS acy, b.cx AS bcx, b.cy AS bcy
      FROM rc_top t
      JOIN rc_cells_r a ON a.key = t.key
      JOIN rc_cells_r b ON b.key = t.other
    ),
    rc_dist AS (
      SELECT key, other, acx, acy, bcx, bcy,
             {hav} AS d
      FROM (
        SELECT key, other, acx, acy, bcx, bcy,
               {clat_a} AS alat, {clon_a} AS alon,
               {clat_b} AS blat, {clon_b} AS blon
        FROM rc_prod
      )
    ),
    rc_hab AS (
      SELECT key, other, MAX(dmin) AS h_ab FROM (
        SELECT key, other, acx, acy, MIN(d) AS dmin
        FROM rc_dist GROUP BY key, other, acx, acy
      ) GROUP BY key, other
    ),
    rc_hba AS (
      SELECT key, other, MAX(dmin) AS h_ba FROM (
        SELECT key, other, bcx, bcy, MIN(d) AS dmin
        FROM rc_dist GROUP BY key, other, bcx, bcy
      ) GROUP BY key, other
    ),
    rc_final AS (
      SELECT t.key, t.other, t.n_shared, t.jaccard,
             GREATEST(h_ab, h_ba) AS hausdorff_m
      FROM rc_top t
      JOIN rc_hab USING (key, other)
      JOIN rc_hba USING (key, other)
    )
    """


# ---------------------------------- route refinement: Fréchet and DTW

def index_resample(
    points: DataFrame, m: int, key: str = "user_id",
    order_cols: tuple = ("ts",), lat: str = "lat", lon: str = "lon",
) -> DataFrame:
    """<= ``m`` points per route at evenly spaced RANK positions.

    Rank ``rn`` in 1..n maps to slot ``idx = (rn-1)*m DIV n`` (pure integer
    arithmetic — the DuckDB twin is bit-free of float division); the FIRST
    point of each slot survives, then slots are re-numbered to a contiguous
    0-based ``i``. Routes shorter than ``m`` keep all their points. This is
    the bounded-work knob that makes pairwise trajectory metrics feasible
    at corpus scale: a 100k-point activity and a 50-point stroll both
    collapse to <= m ordered samples, so every pair costs O(m²) regardless
    of raw track length.

    Output: (key, i, lat, lon)."""
    w = Window.partitionBy(key).orderBy(*[F.col(c) for c in order_cols])
    wn = Window.partitionBy(key)
    pts = (
        points.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .withColumn("idx", F.expr(f"(rn - 1) * {int(m)} DIV n"))
    )
    first = F.min("rn").over(Window.partitionBy(key, "idx"))
    kept = pts.withColumn("_first", first).filter(F.col("rn") == F.col("_first"))
    wi = Window.partitionBy(key).orderBy("idx")
    return kept.select(
        F.col(key), (F.row_number().over(wi) - F.lit(1)).alias("i"),
        F.col(lat), F.col(lon),
    )


_DP_INF = 1e308  # missing-predecessor sentinel, spelled 1e308 in the SQL twin
# (NOT inf: both engines absorb d + 1e308 -> 1e308 identically, and
# COALESCE/LEAST stay total)


class LatticeMetric(NamedTuple):
    """One route-shape metric over the (i, j) lattice of two routes'
    samples: each cell is ``combine(d(i, j), best)``, ``best`` being the
    least of its (i-1, j), (i, j-1) and (i-1, j-1) predecessors."""

    combine: Callable[[float, float], float]
    # the same recurrence in SQL over g.d, p1.val, p2.val and {p3} (the
    # diagonal predecessor); its text, whitespace included, is part of the
    # pinned oracle digest
    sql: str
    prefix: str  # CTE prefix of the SQL twin, whose result is {prefix}_final
    column: str  # output column (meters)


LATTICE_METRICS = {
    # Discrete Fréchet (Eiter & Mannila 1994), the dog-leash distance: the
    # worst matched pair. Pure max/min, no arithmetic on dp values.
    "frechet": LatticeMetric(
        combine=max,
        sql="""GREATEST(g.d, LEAST(COALESCE(p1.val, 1e308),
                                 COALESCE(p2.val, 1e308), {p3}))""",
        prefix="fr",
        column="frechet_m",
    ),
    # DTW (Sakoe & Chiba 1978), the cumulative alignment cost: sums every
    # matched pair, so it separates 'same route with one detour' from
    # 'parallel road 50 m over', which Fréchet scores identically. ONE
    # addition per cell, in a fixed order — no reassociation.
    "dtw": LatticeMetric(
        combine=operator.add,
        sql="""g.d + LEAST(COALESCE(p1.val, 1e308),
                         COALESCE(p2.val, 1e308), {p3})""",
        prefix="dt",
        column="dtw_m",
    ),
}


def lattice_distance(
    metric: str, pa: list, pb: list, dist, band: int | None = None
) -> float:
    """O(|a|·|b|) DP of ``metric`` over point lists ``pa``/``pb``:
    dp[i][j] = combine(d(i,j), min(dp[i-1][j], dp[i][j-1], dp[i-1][j-1])),
    dp[0][0] = d(0,0), a missing predecessor counting as the sentinel.
    ``band``: Sakoe-Chiba radius — cells with |i-j| > band stay at the
    sentinel (the classic O(m·band) pruning; None = full grid). Every cell
    combines ``dist`` outputs with one max or one addition, so exactness
    reduces to exactness of ``dist``."""
    combine = LATTICE_METRICS[metric].combine
    na, nb = len(pa), len(pb)
    dp = [[_DP_INF] * nb for _ in range(na)]
    for i in range(na):
        for j in range(nb):
            if band is not None and abs(i - j) > band:
                continue
            d = dist(pa[i][0], pa[i][1], pb[j][0], pb[j][1])
            if i == 0 and j == 0:
                dp[0][0] = d
                continue
            best = min(
                dp[i - 1][j] if i else _DP_INF,
                dp[i][j - 1] if j else _DP_INF,
                dp[i - 1][j - 1] if i and j else _DP_INF,
            )
            dp[i][j] = combine(d, best)
    return dp[na - 1][nb - 1]


def lattice_refine(
    metric: str, pairs: DataFrame, samples: DataFrame, key: str = "user_id"
) -> DataFrame:
    """``metric`` (meters) for each (key, other) pair over index-resampled
    route samples — the ORDER-AWARE refine (Hausdorff ignores traversal
    direction; both lattice metrics walk the two routes in order).

    ``pairs``: (key, other, n_shared, jaccard) — e.g. top_similar_routes.
    ``samples``: (key, i, lat, lon) from :func:`index_resample` (i 0-based
    contiguous per route, <= m rows per route).

    Plan: one groupBy packs each route's samples into an ordered array
    (<= m structs, a few hundred bytes — cheap to shuffle), two equi-joins
    attach both arrays to each pair, and an Arrow kernel runs the O(m²)
    :func:`lattice_distance` per pair. Distances use the scalar libm
    haversine twin (geo.haversine_m_exact), so every cell of the DP is
    bit-identical to the DuckDB oracle's anti-diagonal SQL replay
    (:func:`lattice_sql`). At 10^12 points the per-pair cost is a constant
    m² regardless of track length; the pair count is bounded by the
    candidate miner upstream.

    Output: pairs + the metric's column."""
    import pandas as pd

    from activity_files_spark.functions.geo import haversine_m_exact

    column = LATTICE_METRICS[metric].column
    agg = samples.groupBy(key).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("i"), F.col("lat"), F.col("lon")))
        ).alias("pts")
    )
    a = agg.select(F.col(key).alias("key"), F.col("pts").alias("pts_a"))
    b = agg.select(F.col(key).alias("other"), F.col("pts").alias("pts_b"))
    joined = pairs.join(a, "key").join(b, "other")

    schema = (
        f"key {joined.schema['key'].dataType.simpleString()}, "
        f"other {joined.schema['other'].dataType.simpleString()}, "
        f"n_shared long, jaccard double, {column} double"
    )

    def kernel(batches):
        for pdf in batches:
            recs = []
            for row in pdf.itertuples(index=False):
                pa = [(p["lat"], p["lon"]) for p in row.pts_a]
                pb = [(p["lat"], p["lon"]) for p in row.pts_b]
                recs.append({
                    "key": row.key,
                    "other": row.other,
                    "n_shared": row.n_shared,
                    "jaccard": row.jaccard,
                    column: lattice_distance(metric, pa, pb, haversine_m_exact),
                })
            yield pd.DataFrame(recs)

    return joined.mapInPandas(kernel, schema)


def lattice_sql(metric: str, pts_cte: str, z: int, m: int, key: str = "user_id",
                order_cols: tuple = ("ts",)) -> str:
    """DuckDB oracle body for route_cells -> route_pair_jaccard ->
    top_similar_routes(1) -> index_resample(m) -> lattice_refine(metric),
    over a CTE named ``pts_cte`` with columns (key, order_cols..., lat, lon).

    The DP has a same-row data dependency (dp[i][j] needs dp[i][j-1]), so
    it cannot be one windowed pass — but along ANTI-DIAGONALS (k = i + j)
    every cell depends only on diagonals k-1 and k-2. This builder emits
    one python-generated CTE per diagonal (2m-1 stages), each a 3-way
    LEFT JOIN against the two previous stages with the metric's exact
    recurrence; missing-boundary predecessors coalesce to +huge so LEAST
    ignores them. Binds CTEs {prefix}_* and ``{prefix}_final`` (key,
    other, n_shared, jaccard, metric column); reuses the rc_* candidate
    CTEs from route_similarity_sql."""
    lm = LATTICE_METRICS[metric]
    p = lm.prefix
    body = route_similarity_sql(pts_cte, z, k=1, key=key)
    order = ", ".join(order_cols)
    hav = haversine_sql("a.lat", "a.lon", "b.lat", "b.lon")
    stages = []
    prev, prev2 = f"{p}_dp_0", None
    for kdiag in range(1, 2 * m - 1):
        p3 = (
            f"""LEFT JOIN {prev2} p3 ON p3.key = g.key AND p3.other = g.other
           AND p3.i = g.i - 1 AND p3.j = g.j - 1"""
            if prev2
            else ""
        )
        p3val = "COALESCE(p3.val, 1e308)" if prev2 else "1e308"
        stages.append(f"""
    {p}_dp_{kdiag} AS MATERIALIZED (
      SELECT g.key, g.other, g.i, g.j,
             {lm.sql.format(p3=p3val)} AS val
      FROM {p}_grid g
      LEFT JOIN {prev} p1 ON p1.key = g.key AND p1.other = g.other
           AND p1.i = g.i - 1 AND p1.j = g.j
      LEFT JOIN {prev} p2 ON p2.key = g.key AND p2.other = g.other
           AND p2.i = g.i AND p2.j = g.j - 1
      {p3}
      WHERE g.i + g.j = {kdiag}
    )""")
        prev2, prev = prev, f"{p}_dp_{kdiag}"
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM {p}_dp_{k2}" for k2 in range(2 * m - 1)
    )
    return f"""{body},
    {p}_ranked AS MATERIALIZED (
      SELECT {key} AS key, lat, lon,
             ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {order}) AS rn,
             COUNT(*) OVER (PARTITION BY {key}) AS n
      FROM {pts_cte}
    ),
    {p}_samp AS MATERIALIZED (
      SELECT key, (rn - 1) * {m} // n AS idx, lat, lon, rn FROM {p}_ranked
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY key, (rn - 1) * {m} // n ORDER BY rn) = 1
    ),
    {p}_idx AS MATERIALIZED (
      SELECT key,
             ROW_NUMBER() OVER (PARTITION BY key ORDER BY idx) - 1 AS i,
             lat, lon
      FROM {p}_samp
    ),
    {p}_len AS MATERIALIZED (SELECT key, COUNT(*) AS n FROM {p}_idx GROUP BY key),
    {p}_grid AS MATERIALIZED (
      SELECT t.key, t.other, a.i AS i, b.i AS j, {hav} AS d
      FROM rc_top t
      JOIN {p}_idx a ON a.key = t.key
      JOIN {p}_idx b ON b.key = t.other
    ),
    {p}_dp_0 AS MATERIALIZED (
      SELECT key, other, i, j, d AS val FROM {p}_grid WHERE i = 0 AND j = 0
    ),{",".join(stages)},
    {p}_all AS MATERIALIZED (
      {union}
    ),
    {p}_final AS MATERIALIZED (
      SELECT f.key, f.other, t.n_shared, t.jaccard, f.val AS {lm.column}
      FROM {p}_all f
      JOIN {p}_len na ON na.key = f.key
      JOIN {p}_len nb ON nb.key = f.other
      JOIN rc_top t ON t.key = f.key AND t.other = f.other
      WHERE f.i = na.n - 1 AND f.j = nb.n - 1
    )
    """


def stay_points(
    pts: DataFrame,
    d_max_m: float,
    t_min_s: float,
    key: str = "user_id",
    seq: str = "seq",
    id_col: str = "event_id",
    tss: str = "tss",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """Stay-point detection (Li et al. 2008, "Mining user similarity based
    on location history") — the canonical stop/visit extractor: a stay
    point is a maximal anchor window where every later point stays within
    ``d_max_m`` of the ANCHOR and the window spans >= ``t_min_s`` seconds.
    Faithful to the original INCLUDING the anchor creep: when the radius
    breaks before the duration is met, the anchor advances by ONE (not to
    the break), because a stay can begin strictly inside a failed window.
    Not in the reference (single-file scope, no visit mining).

    ``pts``: (key, seq, id_col, tss, lat, lon) with ``seq`` 1-based
    contiguous per key in time order and ``tss`` epoch seconds.

    Plan: one shuffle groups each key's track; the scan is an
    applyInPandas python loop (the anchor chain is inherently sequential
    — the same keep-chain shape as downsample), using the scalar-libm
    haversine twin so every radius and duration comparison is
    bit-identical to the SQL oracle's recursive replay
    (:func:`stay_points_sql`). Output is PURE INTEGERS (seqs, ids,
    counts, integer-derived dwell) — centroids are computed relationally
    downstream so both engines aggregate with the same decimal
    discipline. At 10^12 points the per-key cost is O(n·w) for window
    width w (points per stay), keys are independent, and no state leaves
    the executor."""
    import numpy as np
    import pandas as pd

    from activity_files_spark.functions.geo import haversine_m_exact

    out_schema = (
        f"{key} {pts.schema[key].dataType.simpleString()}, "
        "start_seq long, end_seq long, start_id long, end_id long, "
        "n_points long, dwell_s double"
    )
    d_max = float(d_max_m)
    t_min = float(t_min_s)

    def _break_index(la, lo, end) -> "np.ndarray":
        """brk[i] = first absolute j > i inside i's group (j < end[i]) with
        dist(anchor i, point j) > d_max, else end[i].

        Vectorized by diagonal (r06): one numpy-haversine sweep per lag h
        over the still-unresolved anchors, ascending h, so the first
        radius break wins exactly as the scalar scan did. numpy SIMD trig
        can drift ~1 ulp from scalar libm, so any distance within 1e-6 m
        of the threshold is recomputed with the scalar-libm twin — the
        DECISION (a comparison feeding integer outputs) therefore matches
        the sequential kernel bit-for-bit while the off-threshold bulk
        (every real fixture: margins are meters, not ulps) vectorizes."""
        n = len(la)
        brk = end.copy()
        d2r = math.pi / 180.0
        phi = la * d2r
        for h in range(1, n):
            # anchors with no break yet whose lag-h partner is in-group
            open_i = (brk == end) & (np.arange(n) + h < end)
            if not open_i.any():
                break
            i_idx = np.nonzero(open_i)[0]
            j_idx = i_idx + h
            sp = np.sin((la[j_idx] - la[i_idx]) * d2r / 2)
            sl = np.sin((lo[j_idx] - lo[i_idx]) * d2r / 2)
            a = sp * sp + np.cos(phi[i_idx]) * np.cos(phi[j_idx]) * sl * sl
            d = 2.0 * EARTH_RADIUS_M * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))
            near = np.abs(d - d_max) < 1e-6
            if near.any():
                for t in np.nonzero(near)[0]:
                    d[t] = haversine_m_exact(
                        la[i_idx[t]], lo[i_idx[t]], la[j_idx[t]], lo[j_idx[t]]
                    )
            hit = d > d_max
            if hit.any():
                brk[i_idx[hit]] = j_idx[hit]
        return brk

    def kernel(batches):
        # Whole-partition kernel (r06): the upstream repartition +
        # sortWithinPartitions makes each key's rows contiguous and
        # seq-ordered inside the partition; concatenating the partition's
        # Arrow batches re-joins keys split across batch boundaries. This
        # replaces groupBy().applyInPandas, whose per-group pandas/Arrow
        # overhead (~ms per key) dwarfed the math on many-small-key data.
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        n = len(pdf)
        if n == 0:
            return
        keys = pdf[key].to_numpy()
        seqs = pdf[seq].to_numpy()
        ids = pdf[id_col].to_numpy()
        ts_v = pdf[tss].to_numpy(dtype="float64")
        la = pdf[lat].to_numpy(dtype="float64")
        lo = pdf[lon].to_numpy(dtype="float64")
        # group bounds: starts where the key changes, ends broadcast back
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = keys[1:] != keys[:-1]
        starts = np.nonzero(change)[0]
        bounds = np.append(starts, n)
        end = np.repeat(bounds[1:], np.diff(bounds))
        brk = _break_index(la, lo, end)
        recs = []
        for g, (lo_i, hi_i) in enumerate(zip(bounds[:-1], bounds[1:])):
            kval = keys[lo_i]
            i = int(lo_i)
            while i < hi_i:
                jeff = int(brk[i])  # absolute exclusive end of the window
                dur = ts_v[jeff - 1] - ts_v[i]
                if dur >= t_min:
                    recs.append(
                        (kval, int(seqs[i]), int(seqs[jeff - 1]),
                         int(ids[i]), int(ids[jeff - 1]),
                         int(jeff - i), float(dur))
                    )
                    i = jeff
                else:
                    i += 1
        cols = [key, "start_seq", "end_seq", "start_id", "end_id",
                "n_points", "dwell_s"]
        if not recs:
            return
        yield pd.DataFrame(recs, columns=cols)

    nparts = int(pts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    src = (
        pts.select(key, seq, id_col, tss, lat, lon)
        .repartition(nparts, key)
        .sortWithinPartitions(key, seq)
    )
    return src.mapInPandas(kernel, out_schema)


def stay_points_sql(
    pts_cte: str,
    d_max_m: float,
    t_min_s: float,
    key: str = "user_id",
    id_col: str = "event_id",
) -> str:
    """DuckDB oracle body for :func:`stay_points` over a CTE named
    ``pts_cte`` with columns (key, seq, id_col, tss, lat, lon), seq
    1-based contiguous per key. Binds sp_n / sp_chain / sp_out; the
    caller SELECTs from ``sp_out`` and the enclosing WITH must be
    RECURSIVE. The anchor chain is replayed step-for-step: each recursive
    row finds the first radius break after its anchor (LATERAL min-seek
    with the shared haversine SQL twin), tests the duration, and advances
    to the break (emit) or by one (creep)."""
    from activity_files_spark.functions.geo import haversine_sql

    hav = haversine_sql("a.lat", "a.lon", "p.lat", "p.lon")
    d_max = float(d_max_m)
    t_min = float(t_min_s)

    def eval_at(anchor: str, outer: str) -> str:
        # jeff (1-based exclusive end) and emit for the anchor row `a`
        return f"""
      JOIN {pts_cte} a ON a.{key} = {outer}.key AND a.seq = {anchor}
      JOIN LATERAL (
        SELECT COALESCE(
                 (SELECT MIN(p.seq) FROM {pts_cte} p
                  WHERE p.{key} = a.{key} AND p.seq > a.seq
                    AND {hav} > {d_max!r}),
                 kn.n + 1) AS jeff
      ) jj ON TRUE
      JOIN LATERAL (
        SELECT ((SELECT p2.tss FROM {pts_cte} p2
                 WHERE p2.{key} = a.{key} AND p2.seq = jj.jeff - 1)
                - a.tss) >= {t_min!r} AS emit
      ) st ON TRUE"""

    return f"""
    sp_n AS (SELECT {key} AS key, MAX(seq) AS n FROM {pts_cte} GROUP BY 1),
    sp_chain AS (
      SELECT kn.key, CAST(1 AS BIGINT) AS anchor, jj.jeff, st.emit
      FROM sp_n kn
      {eval_at("1", "kn")}
      UNION ALL
      SELECT c.key,
             CAST(CASE WHEN c.emit THEN c.jeff ELSE c.anchor + 1 END AS BIGINT),
             jj.jeff, st.emit
      FROM sp_chain c
      JOIN sp_n kn ON kn.key = c.key
      {eval_at("(CASE WHEN c.emit THEN c.jeff ELSE c.anchor + 1 END)", "c")}
      WHERE (CASE WHEN c.emit THEN c.jeff ELSE c.anchor + 1 END) <= kn.n
    ),
    sp_out AS (
      SELECT c.key AS {key},
             c.anchor AS start_seq,
             c.jeff - 1 AS end_seq,
             sa.{id_col} AS start_id,
             se.{id_col} AS end_id,
             c.jeff - c.anchor AS n_points,
             se.tss - sa.tss AS dwell_s
      FROM sp_chain c
      JOIN {pts_cte} sa ON sa.{key} = c.key AND sa.seq = c.anchor
      JOIN {pts_cte} se ON se.{key} = c.key AND se.seq = c.jeff - 1
      WHERE c.emit
    )
    """


__all__ = [
    "route_cells",
    "route_pair_jaccard",
    "top_similar_routes",
    "hausdorff_refine",
    "tile_center_sql",
    "route_similarity_sql",
    "index_resample",
    "LATTICE_METRICS",
    "lattice_distance",
    "lattice_refine",
    "lattice_sql",
    "stay_points",
    "stay_points_sql",
]
