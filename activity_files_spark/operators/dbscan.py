"""Density-based spatial clustering (DBSCAN) over geographic points.

The classic geospatial clustering operator (PostGIS ``ST_ClusterDBSCAN``,
ELKI/sklearn DBSCAN) the engine's spatial stack (PIP / kNN / geofence
dwell, operators/spatial.py) was missing: group points into
density-connected clusters with an ``eps_m`` radius and ``min_pts``
density threshold, labelling every point core / border / noise. Not in
the reference (per-file scope, no cross-activity clustering); built
fresh for the north-rule corpus pipeline (e.g. clustering workout
start-points into venues, or dense photo-capture sites on the image
table's geo columns).

Spark-first shape — every stage is a relational primitive that scales:

- **ε-neighbor pairs** via the standard grid trick: each point lands in
  an integer (cx, cy) cell of side ≥ eps (degrees per meter is a
  CONSTANT literal — no trig in the cell key, so Spark and the DuckDB
  oracle floor identical doubles); one side explodes its 3x3 cell
  neighborhood and equi-joins the other side's home cell. Shuffle is a
  bucketed equi-join on cell id — the brute O(n²) cross join exists
  only in the oracle.
- **degree / core flags**: one map-side-combined groupBy over the
  directed pair list (|N_eps(p)| counts the point itself, as DBSCAN
  defines it: core iff neighbors+1 >= min_pts).
- **clusters**: connected components over core-core edges
  (operators/graph.py min-label propagation + pointer jumping — a
  schedule-independent fixpoint, so labels are the min core id of each
  density-connected set regardless of partitioning).
- **border points** attach to the MINIMUM cluster label among their core
  neighbors. Textbook DBSCAN leaves border assignment scan-order
  dependent; the min rule is the deterministic variant (same choice
  sklearn documents away and PostGIS fixes by window order) — required
  here so a SQL replay can hash-gate every row.

Distances use the bit-identical haversine Column/SQL twins
(functions/geo.py G1), so the ``hav <= eps`` boundary decides the same
way in both engines.

At 100 TB: the cell join is an equi-join on (cx, cy) — dense urban
cells skew it, which is the same salted-repartition + AQE answer as the
tiling rollup (operators/tiling.py); degree and CC rounds shuffle
|pairs| ~ n * avg_density rows, and CC converges in O(log diameter)
rounds (density clusters are low-diameter). Nothing collects to the
driver except the CC convergence counter (one tiny agg per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from activity_files_spark.functions.geo import haversine_m, haversine_sql
from activity_files_spark.operators.graph import (
    connected_components,
    connected_components_sql,
)
from activity_files_spark.operators.materialize import materialize

# meters per degree of latitude at the WGS84 minimum (equator) — using the
# MINIMUM keeps the cell side >= eps at every latitude; longitude shrinks
# by cos(lat), so callers pass the max |lat| their data can reach
M_PER_DEG_LAT_MIN = 110574.0
M_PER_DEG_LON_EQ = 111320.0


def cell_sizes_deg(eps_m: float, max_abs_lat_deg: float) -> tuple[float, float]:
    """(dlat, dlon) cell sides in degrees, each >= eps_m meters for all
    |lat| <= max_abs_lat_deg — the 3x3 neighborhood then provably covers
    the eps ball everywhere in the data's latitude band."""
    import math

    if not 0.0 <= max_abs_lat_deg < 89.0:
        raise ValueError("max_abs_lat_deg must be in [0, 89)")
    dlat = eps_m / M_PER_DEG_LAT_MIN
    dlon = eps_m / (M_PER_DEG_LON_EQ * math.cos(math.radians(max_abs_lat_deg)))
    return dlat, dlon


def eps_neighbor_pairs(
    pts: DataFrame,
    eps_m: float,
    max_abs_lat_deg: float,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """DIRECTED ε-neighbor pairs (ia, ib), ia != ib, haversine <= eps_m,
    via the 3x3 grid-cell equi-join (both directions present)."""
    dlat, dlon = cell_sizes_deg(eps_m, max_abs_lat_deg)
    p = pts.select(
        F.col(id_col).alias("_id"),
        F.col(lat).alias("_lat"),
        F.col(lon).alias("_lon"),
        F.floor(F.col(lat) / F.lit(dlat)).alias("_cy"),
        F.floor(F.col(lon) / F.lit(dlon)).alias("_cx"),
    )
    a = (
        p.withColumn("_dy", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .withColumn("_dx", F.explode(F.array(*[F.lit(i) for i in (-1, 0, 1)])))
        .select(
            F.col("_id").alias("ia"),
            F.col("_lat").alias("la"),
            F.col("_lon").alias("lo"),
            (F.col("_cy") + F.col("_dy")).alias("_ky"),
            (F.col("_cx") + F.col("_dx")).alias("_kx"),
        )
    )
    b = p.select(
        F.col("_id").alias("ib"),
        F.col("_lat").alias("lb"),
        F.col("_lon").alias("lob"),
        F.col("_cy").alias("_ky"),
        F.col("_cx").alias("_kx"),
    )
    hav = haversine_m(F.col("la"), F.col("lo"), F.col("lb"), F.col("lob"))
    return (
        a.join(b, ["_ky", "_kx"])
        .where((F.col("ia") != F.col("ib")) & (hav <= F.lit(float(eps_m))))
        .select("ia", "ib")
    )


def dbscan(
    pts: DataFrame,
    eps_m: float,
    min_pts: int,
    max_abs_lat_deg: float,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
) -> DataFrame:
    """DBSCAN labelling: (point_id, role, cluster) with role in
    {'core','border','noise'}; cluster = min core id of the
    density-connected set (-1 for noise); borders take the MIN cluster
    among their core neighbors (deterministic variant, see module doc)."""
    pairs = eps_neighbor_pairs(
        pts, eps_m, max_abs_lat_deg, id_col=id_col, lat=lat, lon=lon
    )
    # the pair list feeds degree counting, the core-core edge list, and
    # the border attach — compute it once
    pairs = materialize(pairs, eager=True)
    deg = pairs.groupBy(F.col("ia").alias("_id")).agg(F.count("*").alias("_deg"))
    core = F.coalesce(F.col("_deg"), F.lit(0)) + F.lit(1) >= F.lit(min_pts)
    # four consumers (both core-edge sides, border attach, final roles)
    # would each re-run the degree join — materialize once (r06)
    flags = materialize(
        pts.select(F.col(id_col).alias("_id")).join(deg, "_id", "left")
        .select("_id", core.alias("_core")),
        eager=True,
    )
    core_ids = flags.where("_core").select("_id")
    core_edges = (
        pairs.join(core_ids.withColumnRenamed("_id", "ia"), "ia")
        .join(core_ids.withColumnRenamed("_id", "ib"), "ib")
        .where(F.col("ia") < F.col("ib"))
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    cc = connected_components(core_edges, src="id_a", dst="id_b")
    core_lab = (
        core_ids.join(cc, core_ids["_id"] == cc["node"], "left")
        .select(
            F.col("_id"),
            F.coalesce(F.col("component"), F.col("_id")).alias("_cluster"),
        )
    )
    border_lab = (
        pairs.join(core_lab.withColumnRenamed("_id", "ib"), "ib")
        .join(
            flags.where(~F.col("_core")).select(F.col("_id").alias("ia")), "ia"
        )
        .groupBy(F.col("ia").alias("_id"))
        .agg(F.min("_cluster").alias("_bcluster"))
    )
    out = (
        flags.join(core_lab.select("_id", "_cluster"), "_id", "left")
        .join(border_lab, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.when(F.col("_core"), F.lit("core"))
            .when(F.col("_bcluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce(F.col("_cluster"), F.col("_bcluster"), F.lit(-1))
            .cast("long")
            .alias("cluster"),
        )
    )
    return out


def dbscan_sql(
    points_cte: str,
    eps_m: float,
    min_pts: int,
    id_col: str = "point_id",
    lat: str = "lat",
    lon: str = "lon",
) -> str:
    """DuckDB oracle body for :func:`dbscan` over a CTE named
    ``points_cte`` with columns (id_col, lat, lon). Pairs are BRUTE FORCE
    (exact, no grid) — the grid in the Spark path is a pure candidate
    filter, so both compute the same ε-graph. Binds db_pairs / db_deg /
    db_flags / db_core_edges / the cc_* closure / db_core_lab /
    db_border_lab / db_out; the caller SELECTs from ``db_out`` and the
    enclosing WITH must be RECURSIVE."""
    hav = haversine_sql(f"a.{lat}", f"a.{lon}", f"b.{lat}", f"b.{lon}")
    closure = connected_components_sql("db_core_edges")
    return f"""
    db_pairs AS (
      SELECT a.{id_col} AS ia, b.{id_col} AS ib
      FROM {points_cte} a JOIN {points_cte} b
        ON a.{id_col} <> b.{id_col} AND {hav} <= {float(eps_m)!r}
    ),
    db_deg AS (SELECT ia AS id, COUNT(*) AS deg FROM db_pairs GROUP BY 1),
    db_flags AS (
      SELECT p.{id_col} AS id,
             COALESCE(d.deg, 0) + 1 >= {int(min_pts)} AS is_core
      FROM {points_cte} p LEFT JOIN db_deg d ON d.id = p.{id_col}
    ),
    db_core_edges AS (
      SELECT pr.ia AS a, pr.ib AS b
      FROM db_pairs pr
      JOIN db_flags fa ON fa.id = pr.ia AND fa.is_core
      JOIN db_flags fb ON fb.id = pr.ib AND fb.is_core
      WHERE pr.ia < pr.ib
    ),
    {closure},
    db_core_lab AS (
      SELECT f.id, COALESCE(l.component, f.id) AS cluster
      FROM db_flags f LEFT JOIN cc_labels l ON l.node = f.id
      WHERE f.is_core
    ),
    db_border_lab AS (
      SELECT pr.ia AS id, MIN(cl.cluster) AS cluster
      FROM db_pairs pr
      JOIN db_core_lab cl ON cl.id = pr.ib
      JOIN db_flags fa ON fa.id = pr.ia AND NOT fa.is_core
      GROUP BY 1
    ),
    db_out AS (
      SELECT f.id AS {id_col},
             CASE WHEN f.is_core THEN 'core'
                  WHEN bl.id IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role,
             CAST(COALESCE(cl.cluster, bl.cluster, -1) AS BIGINT) AS cluster
      FROM db_flags f
      LEFT JOIN db_core_lab cl ON cl.id = f.id
      LEFT JOIN db_border_lab bl ON bl.id = f.id
    )
    """


__all__ = [
    "cell_sizes_deg",
    "eps_neighbor_pairs",
    "dbscan",
    "dbscan_sql",
]
