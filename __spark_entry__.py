"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (cell-encode + PIP join + tiling
rollup over geometry derived deterministically from the events table).
``queries()`` exposes each implemented operator from SURVEY.md §2 as a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
equivalent over the same parquet views.

Both are built from one ordered table, ``_REGISTRY`` at the end of this
file: (query name, oracle SQL builder) pairs, with ``None`` as the builder
of validate_images_summary, the one query checked on rows only. A query
function is looked up by its name in this module's globals each time
``queries()`` is called and is never stored in the table, so a wrapper that
rebinds the module attribute (perfbench's tracer) is the function that runs.
Adding a query = defining ``name(spark, sf_dir)`` plus its SQL builder and
appending one row to ``_REGISTRY``.

Float-determinism rules used throughout (so value hashes match DuckDB):
- money aggregates go through DECIMAL casts (exact), then cast to double;
- every trig/geo expression uses the identical IEEE op sequence on DOUBLE
  columns in both engines (see functions/geo.py, functions/quadkey.py);
- timestamps stay UTC microseconds end-to-end.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from functools import partial

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.geo import haversine_m, haversine_sql
from activity_files_spark.functions.quadkey import (
    quadkey_col,
    quadkey_digits_sql,
    quadkey_from_cell_id_col,
    tile_xy_col,
    tile_xy_sql,
)
from activity_files_spark.operators.asof import asof_join
from activity_files_spark.operators.kernels import Kernel, map_kernels
from activity_files_spark.operators.materialize import materialize
from activity_files_spark.operators.windows import sessionize_gap, smooth

# ------------------------------------------------------------------ helpers

# Deterministic geometry derived from integer event ids (FIXTURES.md grid):
# both engines compute int modulo then double multiply -> identical bits.
LAT_EXPR_SQL = "40.0 + CAST(event_id % 1000 AS DOUBLE) * 0.0005"
LON_EXPR_SQL = "-105.0 - CAST(event_id % 997 AS DOUBLE) * 0.0005"


def _lat_col():
    return F.lit(40.0) + (F.col("event_id") % 1000).cast("double") * F.lit(0.0005)


def _lon_col():
    return F.lit(-105.0) - (F.col("event_id") % 997).cast("double") * F.lit(0.0005)


def _read(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read one testdata table. ``spread=True`` for queries whose expensive
    work is map-side BEFORE any shuffle (HOF shingling, md5 token hashing,
    Arrow vector kernels): the driver's testdata tables are single-row-group
    parquet files -> ONE scan split, which would serialize that work on one
    core. The repartition moves a few MB; on a real many-split table the
    condition is false and it is a no-op. Shuffle-first queries (joins,
    groupBy, windows) must NOT spread — the exchange they already do
    parallelizes them, and an extra repartition is pure overhead."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if spread:
        default = spark.sparkContext.defaultParallelism
        # file count as the split proxy (r06): df.rdd.getNumPartitions()
        # materialized the whole RDD conversion pipeline (~100ms per build);
        # inputFiles() is metadata-only and decides identically for the
        # single-row-group tables this guard exists for
        if len(df.inputFiles()) < max(2, default // 4):
            df = df.repartition(default)
    return df


def _dec_sum(col, scale: str = "decimal(22,6)"):
    """Exact sum: cast each double to decimal first, sum, emit double."""
    return F.sum(col.cast(scale)).cast("double")


def _per_user_rows(
    spark: SparkSession,
    sf_dir: str,
    row: Callable[[int], dict],
    schema: str,
    then: Sequence[Kernel] = (),
) -> DataFrame:
    """One synthetic row per distinct events user, built by ``row(user_id)``
    in a mapInPandas worker; the users are spread over every core first
    because the per-user encode/decode work dominates these queries.
    ``then``: kernels that consume the rows in the same mapInPandas
    (operators/kernels.py), so the decode costs no second Python worker."""
    users = _read(spark, sf_dir, "events").select("user_id").distinct()

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([row(int(uid)) for uid in pdf["user_id"]])

    return map_kernels(
        users.repartition(spark.sparkContext.defaultParallelism),
        Kernel(gen, schema),
        *then,
    )


def _user_id_of(col: str):
    """``user_id`` back from a ``u<user_id>`` string id."""
    return F.substring(col, 2, 20).cast("long").alias("user_id")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file stream, 4 files per micro-batch."""
    schema = ("event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string")
    # the driver's events.parquet is a single file; the file stream source
    # wants a directory, so stream the sf dir with a name glob
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def _drain(
    spark: SparkSession, stream: DataFrame, prefix: str, output_mode: str
) -> DataFrame:
    """Run ``stream`` to completion with trigger(availableNow) into a memory
    sink named ``<prefix>_<random hex>``; return the sink's table."""
    import shutil
    import tempfile
    import uuid

    from activity_files_spark.streaming.stream_ops import run_available_now

    name = f"{prefix}_{uuid.uuid4().hex[:10]}"
    checkpoint = tempfile.mkdtemp()
    try:
        run_available_now(stream, name, checkpoint, output_mode=output_mode).awaitTermination()
    finally:
        # the memory sink holds the rows; the checkpoint is not read again
        shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(name)


# ------------------------------------------------------------------ queries


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy aggregation with pushed filter."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity")).alias("sum_qty"),
        _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
        _dec_sum(disc_price).alias("sum_disc_price"),
        _dec_sum(charge).alias("sum_charge"),
        F.count("*").alias("count_order"),
    )
    return agg.withColumn("avg_qty", F.col("sum_qty") / F.col("count_order")).withColumn(
        "avg_price", F.col("sum_base_price") / F.col("count_order")
    )


def _q1_sql() -> str:
    return """
    WITH base AS (
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(22,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,6))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
             COUNT(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price,
           sum_charge, count_order,
           sum_qty / count_order AS avg_qty,
           sum_base_price / count_order AS avg_price
    FROM base
    """


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective joins + top-10 by exact-decimal revenue.

    Dimension side (customer) broadcasts; lineitem->orders join shuffles on
    the key. Revenue ties broken by o_orderkey for determinism.
    """
    cust = _read(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "2000-03-15")
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-03-15")
    j = li.join(
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]),
        li["l_orderkey"] == orders["o_orderkey"],
    )
    rev = j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum(
            (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(22,6)")
        ).alias("_rev_dec")
    )
    return (
        rev.orderBy(F.col("_rev_dec").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            F.col("_rev_dec").cast("double").alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


def _q3_sql() -> str:
    return """
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) DESC, o_orderkey
    LIMIT 10
    """


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join through region/nation (broadcast dims)."""
    region = _read(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _read(spark, sf_dir, "nation")
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    orders = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    dims = nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(
            F.broadcast(dims),
            (cust["c_nationkey"] == dims["n_nationkey"])
            & (supp["s_nationkey"] == dims["n_nationkey"]),
        )
    )
    return j.groupBy("n_name").agg(
        _dec_sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue")
    )


def _q5_sql() -> str:
    return """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """


def sort_dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 sortAndDedup: per (user, ts) the last occurrence in input order
    (event_id) wins — raw_editor.dart:21-67 last-wins semantics."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    return (
        ev.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


def _sort_dedup_sql() -> str:
    return """
    SELECT event_id, user_id, ts, event_type, value FROM (
      SELECT event_id, user_id, ts, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """


def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/A6 gap sessionization: 30-min gap splits per user; session stats."""
    ev = _read(spark, sf_dir, "events")
    s = sessionize_gap(ev, gap_s=1800.0, key="user_id", ts="ts", tiebreak="event_id")
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        _dec_sum(F.col("value"), "decimal(18,4)").alias("sum_value"),
    )


def _sessionize_sql() -> str:
    return """
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0 > 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    """


def smooth_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 smoothHR: centered 5-row moving average, edge-clamped."""
    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = smooth(ev, value="value", window=5, key="user_id", ts="ts", out="smoothed")
    return out.select("event_id", F.round(F.col("smoothed"), 6).alias("smoothed"))


def _smooth_sql() -> str:
    return """
    SELECT event_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS smoothed
    FROM events
    """


def cumdist_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 cumulative haversine distance over the derived trackpoint grid."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    step = F.coalesce(
        haversine_m(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")),
        F.lit(0.0),
    )
    return (
        ev.withColumn("_step", step)
        .withColumn("cum_dist_m", F.round(F.sum("_step").over(wc), 3))
        .select("event_id", "cum_dist_m")
    )


def _cumdist_sql() -> str:
    hs = haversine_sql("plat", "plon", "lat", "lon")
    return f"""
    WITH pts AS (
      SELECT event_id, user_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), lagged AS (
      SELECT event_id, user_id, ts, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), stepped AS (
      SELECT event_id, user_id, ts,
             CASE WHEN plat IS NULL THEN 0.0 ELSE {hs} END AS step
      FROM lagged
    )
    SELECT event_id,
           ROUND(SUM(step) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING), 3) AS cum_dist_m
    FROM stepped
    """


def quadkey_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial cell encode (res ladder z=12) + per-cell rollup — the tiling
    histogram. Pure Column expression; scan--'groupBy, one shuffle."""
    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    enc = ev.withColumn("cell", quadkey_col(F.col("lat"), F.col("lon"), 12))
    return enc.groupBy("cell").agg(
        F.count("*").alias("n_points"), F.min("event_id").alias("min_event_id")
    )


def _quadkey_sql() -> str:
    x, y = tile_xy_sql("lat", "lon", 12)
    digits = quadkey_digits_sql("qx", "qy", 12)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ), tiles AS (
      SELECT event_id, {x} AS qx, {y} AS qy FROM pts
    )
    SELECT {digits} AS cell, COUNT(*) AS n_points, MIN(event_id) AS min_event_id
    FROM tiles GROUP BY 1
    """


# inclusive-boundary axis-aligned geofences on the derived grid
GEOFENCES = [
    ("gf_west", -105.45, -105.30, 40.10, 40.35),
    ("gf_mid", -105.25, -105.10, 40.05, 40.45),
    ("gf_east", -105.08, -105.00, 40.00, 40.49),
]


def pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 PIP join against a broadcast geofence set (rect fast path: cell
    cover broadcast hash join + exact inclusive Column refine — no
    BroadcastNestedLoopJoin anywhere in the plan; general polygons go
    through operators/spatial.pip_join's ray-cast kernel)."""
    from activity_files_spark.operators.spatial import rect_pip_join

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    j = rect_pip_join(ev, GEOFENCES)
    return j.groupBy("geofence_id").agg(
        F.count("*").alias("n_points"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


def _pip_sql() -> str:
    vals = ", ".join(f"('{g}', {w}, {e}, {s}, {n})" for g, w, e, s, n in GEOFENCES)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ), gf(geofence_id, lon_w, lon_e, lat_s, lat_n) AS (VALUES {vals})
    SELECT geofence_id, COUNT(*) AS n_points,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM pts JOIN gf
      ON lon >= lon_w AND lon <= lon_e AND lat >= lat_s AND lat <= lat_n
    GROUP BY geofence_id
    """


def pip_raycast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 full PIP path: packed-cell broadcast cover + vectorized ray-cast
    refinement (operators/spatial.pip_join). For an axis-aligned CCW rect
    ring the even-odd ray cast includes exactly the half-open box
    [lon_w, lon_e) x [lat_s, lat_n) — which the oracle states directly."""
    from activity_files_spark.operators.spatial import pip_join

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    polys = [
        {"geofence_id": g, "ring": [(w, s), (e, s), (e, n), (w, n)]}
        for g, w, e, s, n in GEOFENCES
    ]
    hit = pip_join(ev, polys, z=12)
    return hit.groupBy("geofence_id").agg(
        F.count("*").alias("n_points"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


def _pip_raycast_sql() -> str:
    vals = ", ".join(f"('{g}', {w}, {e}, {s}, {n})" for g, w, e, s, n in GEOFENCES)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ), gf(geofence_id, lon_w, lon_e, lat_s, lat_n) AS (VALUES {vals})
    SELECT geofence_id, COUNT(*) AS n_points,
           MIN(event_id) AS min_event_id, MAX(event_id) AS max_event_id
    FROM pts JOIN gf
      ON lon >= lon_w AND lon < lon_e AND lat >= lat_s AND lat < lat_n
    GROUP BY geofence_id
    """


# map-matching route network over the derived grid: three polylines whose
# 2 km buffer covers a strip of the lattice; the planar projection anchor
# is the grid's mid latitude
MM_ROUTES = [
    ("r_diag", [(-105.45, 40.05), (-105.25, 40.25), (-105.05, 40.45)]),
    ("r_horiz", [(-105.48, 40.30), (-105.02, 40.30)]),
    ("r_vert", [(-105.20, 40.02), (-105.20, 40.48)]),
]
MM_TOL_M = 2000.0
MM_REF_LAT = 40.25


def map_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching join (operators/spatial.snap_to_segments): every derived
    trackpoint within 2 km of the 3-route network snaps to its nearest
    segment — broadcast cell-cover equi-join + pure-Column point-to-segment
    distance + struct-min argmin (map-side combine => the shuffle carries
    one row per matched point). The oracle replays the identical projection
    arithmetic as a brute theta-join, so every candidate prune, clamp, and
    tie-break must agree row-for-row."""
    from activity_files_spark.operators.spatial import snap_to_segments

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    out = snap_to_segments(ev, MM_ROUTES, MM_TOL_M, MM_REF_LAT)
    return out.select(
        "event_id", "route_id", "seg_idx",
        F.round("dist_m", 6).alias("dist_m"),
        F.round("t_frac", 6).alias("t_frac"),
    )


def _map_match_sql() -> str:
    from activity_files_spark.operators.spatial import snap_to_segments_sql

    body = snap_to_segments_sql("pts", MM_ROUTES, MM_TOL_M, MM_REF_LAT)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    {body}
    SELECT event_id, route_id, seg_idx,
           ROUND(d, 6) AS dist_m, ROUND(t, 6) AS t_frac
    FROM mm_best
    """


# the derived points hug the lat-40 = -(lon+105) diagonal (lat/lon are
# correlated through event_id), so POIs sit on it to guarantee matches
def speed_percentiles_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-user speed percentiles (windows.exact_percentiles —
    order statistics, not a sketch): consecutive-point haversine speed in
    m/s, rounded to 6 before ranking (absorbs trig-ulp spread so both
    engines rank the identical multiset), then the value at rank
    ceil(q*n) for q in {0.5, 0.9, 0.99}. One window sort per user — the
    shuffle any exact order statistic costs — plus a map-side-combined
    rollup."""
    from activity_files_spark.operators.windows import exact_percentiles

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        haversine_m(
            F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
        ).alias("_d"),
        (
            F.unix_micros(F.col("ts").cast("timestamp_ltz"))
            - F.lag(F.unix_micros(F.col("ts").cast("timestamp_ltz"))).over(w)
        ).alias("_dt_us"),
    ).where(F.col("_d").isNotNull() & (F.col("_dt_us") > 0))
    sp = seg.select(
        "user_id",
        F.round(F.col("_d") / (F.col("_dt_us").cast("double") / F.lit(1e6)), 6).alias(
            "speed_mps"
        ),
    )
    return exact_percentiles(sp, "user_id", "speed_mps")


def _speed_percentiles_sql() -> str:
    from activity_files_spark.operators.windows import exact_percentiles_sql

    d = haversine_sql("plat", "plon", "lat", "lon")
    ctes, final = exact_percentiles_sql("speeds", "user_id", "speed_mps")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), lagged AS (
      SELECT user_id, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS _dt_us
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), speeds AS (
      SELECT user_id,
             ROUND(({d}) / (CAST(_dt_us AS DOUBLE) / 1e6), 6) AS speed_mps
      FROM lagged WHERE plat IS NOT NULL AND _dt_us > 0
    ),
    {ctes}
    SELECT user_id, n, p50, p90, p99 FROM {final}
    """


WR_POIS = [("hub_a", 40.1, -105.1), ("hub_b", 40.3, -105.3), ("hub_c", 40.45, -105.45)]
WR_RADIUS_M = 2500.0


def within_radius_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DWithin join (spatial.within_radius_join): every derived
    trackpoint within 2.5 km (haversine, inclusive) of a 3-POI set —
    broadcast disk-cover equi-join with a provably-complete bbox prune +
    exact haversine refine. Per-POI rollup pins match count, event-id sum,
    and the decimal-exact rounded distance sum (round-to-6 absorbs the
    documented ~1-ulp JVM-vs-libm trig spread, same as the map-match
    gate); the oracle is the brute theta-join."""
    from activity_files_spark.operators.spatial import within_radius_join

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    j = within_radius_join(ev, WR_POIS, WR_RADIUS_M)
    return j.groupBy("poi_id").agg(
        F.count("*").alias("n_points"),
        F.sum("event_id").alias("event_id_sum"),
        F.sum(F.round("dist_m", 6).cast("decimal(22,6)"))
        .cast("double")
        .alias("dist_sum_m"),
    )


def _within_radius_sql() -> str:
    from activity_files_spark.operators.spatial import within_radius_sql

    body = within_radius_sql("pts", WR_POIS, WR_RADIUS_M)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    {body}
    SELECT poi_id, COUNT(*) AS n_points,
           SUM(event_id) AS event_id_sum,
           CAST(SUM(CAST(ROUND(dist_m, 6) AS DECIMAL(22,6))) AS DOUBLE) AS dist_sum_m
    FROM wr_join GROUP BY 1
    """


CT_RADIUS_M = 200.0  # contact radius
CT_WINDOW_S = 900.0  # contact time window
CT_Z = 16  # tile edge ~470 m >= 2*radius: box spans <=2 tiles/axis


def contact_pairs_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatiotemporal contact join (contact.contact_join): pairs of events
    from DISTINCT users within 200 m (haversine, inclusive) AND 900 s
    (inclusive, integer microseconds) of each other — the close-encounter
    self-join the spatial-only ST_DWithin can't express. The engine keys
    both sides on (zoom-16 cell, 900 s bucket) and equi-joins with a
    provably-complete bbox x +-1-bucket expansion on one side; the oracle
    is a brute range self-join with no cells at all, so it independently
    checks the cover's completeness. Per user pair: contact count, exact
    event-id sum, earliest contact microsecond, and the rounded min
    distance (round-to-6 absorbs the documented ~1-ulp JVM-vs-libm trig
    spread, same as the ST_DWithin gate)."""
    from activity_files_spark.operators.contact import contact_join

    ev = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t_us"),
        _lat_col().alias("lat"),
        _lon_col().alias("lon"),
    )
    pairs = contact_join(ev, CT_RADIUS_M, CT_WINDOW_S, z=CT_Z)
    return pairs.groupBy("user_a", "user_b").agg(
        F.count("*").alias("n_contacts"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("id_sum"),
        F.min(F.least("t_us_a", "t_us_b")).alias("first_us"),
        F.min(F.round("dist_m", 6)).alias("min_dist_m"),
    )


def _contact_pairs_sql() -> str:
    from activity_files_spark.operators.contact import contact_join_sql

    body = contact_join_sql("pts", CT_RADIUS_M, CT_WINDOW_S)
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ),
    {body}
    SELECT user_a, user_b, COUNT(*) AS n_contacts,
           SUM(id_a + id_b) AS id_sum,
           MIN(least(t_us_a, t_us_b)) AS first_us,
           MIN(ROUND(dist_m, 6)) AS min_dist_m
    FROM ct_pairs GROUP BY 1, 2
    """


EG_THRESHOLD_M = 5.0  # hysteresis dead band
# deterministic integer-derived elevation, same discipline as LAT/LON
ELE_EXPR_SQL = (
    "1500.0 + CAST((event_id * 31) % 211 AS DOUBLE) * 0.5"
    " - CAST((event_id * 13) % 157 AS DOUBLE) * 0.3"
)


def _ele_col():
    return (
        F.lit(1500.0)
        + ((F.col("event_id") * 31) % 211).cast("double") * F.lit(0.5)
        - ((F.col("event_id") * 13) % 157).cast("double") * F.lit(0.3)
    )


def elevation_gain_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hysteresis total ascent/descent (elevation.elevation_gain): the
    barometric-head-unit reckoning — reference elevation + 5 m dead band —
    re-deriving the FIT session total_ascent the reference only carries
    verbatim. Sequential per-user walk (applyInPandas keep-chain family);
    the oracle replays it as a DuckDB RECURSIVE CTE, a different engine
    over the same left-to-right double sequence, so ascent/descent/ref are
    bit-identical — no rounding anywhere."""
    from activity_files_spark.operators.elevation import elevation_gain

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", _ele_col().alias("ele")
    )
    return elevation_gain(ev, EG_THRESHOLD_M)


def _elevation_gain_sql() -> str:
    from activity_files_spark.operators.elevation import elevation_gain_sql

    body = elevation_gain_sql("pts", EG_THRESHOLD_M)
    return f"""
    WITH RECURSIVE pts AS (
      SELECT user_id, event_id, {ELE_EXPR_SQL} AS ele FROM events
    ),
    {body}
    SELECT user_id, n_points, ascent_m, descent_m, final_ref_m FROM eg_out
    """


def dwell_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence dwell sessions (windows.dwell_sessions): contiguous
    inside-the-rect runs per user with exact enter/exit/dwell values;
    the per-user aggregate pins run count, point count, decimal-exact
    dwell-second sum, and max dwell — every run boundary (lag-change +
    ROWS-framed running sum) must match the SQL replay."""
    from activity_files_spark.operators.windows import dwell_sessions

    g, w, e, s, n = GEOFENCES[1]  # gf_mid
    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    runs = dwell_sessions(
        ev, w, e, s, n, key="user_id", ts="ts", tiebreak="event_id"
    )
    return runs.groupBy("user_id").agg(
        F.count("*").alias("n_dwells"),
        F.sum("n_points").cast("long").alias("n_points"),
        F.sum(F.col("dwell_s").cast("decimal(22,6)")).cast("double").alias("sum_dwell_s"),
        F.max("dwell_s").alias("max_dwell_s"),
    )


def _dwell_sessions_sql() -> str:
    _, w, e, s, n = GEOFENCES[1]
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), flags AS (
      SELECT user_id, event_id, ts,
             CAST(lon >= {w!r} AND lon <= {e!r} AND lat >= {s!r} AND lat <= {n!r} AS INT) AS _in
      FROM pts
    ), lagged AS (
      SELECT *, CASE WHEN LAG(_in) OVER w IS NULL OR _in != LAG(_in) OVER w
                     THEN 1 ELSE 0 END AS chg
      FROM flags WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM lagged
    ), dwells AS (
      SELECT user_id, run, COUNT(*) AS n_points,
             MAX(epoch_us(ts) / 1000000.0) - MIN(epoch_us(ts) / 1000000.0) AS dwell_s
      FROM runs WHERE _in = 1 GROUP BY user_id, run
    )
    SELECT user_id, COUNT(*) AS n_dwells,
           CAST(SUM(n_points) AS BIGINT) AS n_points,
           CAST(SUM(CAST(dwell_s AS DECIMAL(22,6))) AS DOUBLE) AS sum_dwell_s,
           MAX(dwell_s) AS max_dwell_s
    FROM dwells GROUP BY user_id
    """


def zone_length_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance traveled inside each geofence (spatial.zone_length):
    Liang-Barsky parametric clipping of every consecutive-point segment
    against the 3 zones, entirely as compiled Column expressions — zero
    joins, one lag window, map-side-combined groupBy. The oracle replays
    every clip parameter and the decimal-exact rounded length sum."""
    from activity_files_spark.operators.spatial import zone_length

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    return zone_length(
        ev, GEOFENCES, MM_REF_LAT, key="user_id", ts="ts", tiebreak="event_id"
    ).withColumnRenamed("zone_id", "geofence_id")


def _zone_length_sql() -> str:
    from activity_files_spark.operators.spatial import zone_length_sql

    body = zone_length_sql("pts", GEOFENCES, MM_REF_LAT, key="user_id")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ),
    {body}
    SELECT key AS user_id, zone_id AS geofence_id, n_segments, length_m
    FROM zl_agg
    """


COVER_Z = 14  # route-cover cell zoom
COVER_Q = 8  # subcell bits: endpoints snap to 2^-8 of a cell


def _tile_segments(ev: DataFrame, seq: bool = False) -> DataFrame:
    """Each user's trajectory as (x0, y0) -> (x1, y1) segments on the
    z COVER_Z + COVER_Q subcell lattice, ordered by (ts, event_id); with
    ``seq`` each segment also carries its 0-based index in that order."""
    px, py = tile_xy_col(F.col("lat"), F.col("lon"), COVER_Z + COVER_Q)
    pts = ev.select("user_id", "event_id", "ts", px.alias("x1"), py.alias("y1"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq_col = [(F.row_number().over(w) - 1).alias("seq")] if seq else []
    return pts.select(
        "user_id",
        *seq_col,
        F.lag("x1").over(w).alias("x0"),
        F.lag("y1").over(w).alias("y0"),
        "x1",
        "y1",
    ).where(F.col("x0").isNotNull())


def route_cell_cover_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline tiling (operators/supercover.py): every z14 tile each
    user's trajectory SEGMENTS pass through — the line twin of point tile
    assignment, closing the gap where sparse sampling skips cells between
    points. Endpoints snap to the integer subcell lattice via the same
    hash-gated mercator transform the rasterizer uses (pixel-zoom z+q);
    everything after is exact integer crossing enumeration. One lag
    window, one explode (output = the cover itself), map-side-combined
    rollup; no joins."""
    from activity_files_spark.operators.supercover import segment_cell_cover

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    segs = _tile_segments(ev)
    cover = segment_cell_cover(segs, q=COVER_Q, key="user_id")
    packed = F.col("cx") * F.lit(1 << COVER_Z) + F.col("cy")
    return (
        cover.select(F.col("key").alias("user_id"), packed.alias("cell"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("cell").alias("cell_checksum"),
            F.min("cell").alias("min_cell"),
        )
    )


def _route_cell_cover_sql() -> str:
    from activity_files_spark.operators.supercover import segment_cover_sql

    x, y = tile_xy_sql("lat", "lon", COVER_Z + COVER_Q)
    body, final = segment_cover_sql("segs", COVER_Q, key="key")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), px AS (
      SELECT user_id, event_id, ts, {x} AS x1, {y} AS y1 FROM pts
    ), segs AS (
      SELECT key, x0, y0, x1, y1 FROM (
        SELECT user_id AS key,
               LAG(x1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
               LAG(y1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0,
               x1, y1
        FROM px
      ) t WHERE x0 IS NOT NULL
    ),
    {body}
    SELECT key AS user_id, COUNT(*) AS n_cells,
           SUM(cx * {1 << COVER_Z} + cy) AS cell_checksum,
           MIN(cx * {1 << COVER_Z} + cy) AS min_cell
    FROM {final} GROUP BY 1
    """


CROSS_USER_MOD = 10  # route-crossing decile cap: crossings on the synthetic
# grid are inherently quadratic in routes compared (every trajectory shares
# the same 0.5-degree box), so the driver query mines one user decile —
# the same capping discipline as the ANN query collect cap


def route_crossings_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Crosses as a corpus join (operators/crossings.py): properly-
    intersecting segment pairs across different users' trajectories,
    rolled up per user pair. Endpoints snap to the z14+q8 integer lattice
    (the supercover transform), the candidate join is cover-cell equi-join
    with bare ids through the distinct exchange, and the refine is the
    strict double-straddle orientation predicate in exact BIGINT — the
    oracle replays the predicate verbatim over brute pairs."""
    from activity_files_spark.operators.crossings import segment_crossings

    ev = (
        _read(spark, sf_dir, "events")
        .where((F.col("user_id") % CROSS_USER_MOD) == 0)
        .select(
            "user_id",
            "event_id",
            "ts",
            _lat_col().alias("lat"),
            _lon_col().alias("lon"),
        )
    )
    segs = _tile_segments(ev, seq=True)
    pairs = segment_crossings(segs, q=COVER_Q, key="user_id", seq="seq")
    return (
        pairs.groupBy(
            F.col("key_a").alias("user_a"), F.col("key_b").alias("user_b")
        )
        .agg(
            F.count("*").alias("n_crossings"),
            F.sum(F.col("seq_a") + F.col("seq_b")).alias("seq_checksum"),
        )
        .orderBy("user_a", "user_b")
    )


def _route_crossings_sql() -> str:
    from activity_files_spark.operators.crossings import proper_cross_sql

    x, y = tile_xy_sql("lat", "lon", COVER_Z + COVER_Q)
    pred = proper_cross_sql(
        ("a.x0", "a.y0"), ("a.x1", "a.y1"), ("b.x0", "b.y0"), ("b.x1", "b.y1")
    )
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events WHERE user_id % {CROSS_USER_MOD} = 0
    ), px AS (
      SELECT user_id, event_id, ts, {x} AS x1, {y} AS y1 FROM pts
    ), segs AS (
      SELECT * FROM (
        SELECT user_id AS key,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                 AS seq,
               LAG(x1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
               LAG(y1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0,
               x1, y1
        FROM px
      ) t WHERE x0 IS NOT NULL
    )
    SELECT a.key AS user_a, b.key AS user_b,
           COUNT(*) AS n_crossings,
           SUM(a.seq + b.seq) AS seq_checksum
    FROM segs a JOIN segs b ON a.key < b.key AND {pred}
    GROUP BY 1, 2 ORDER BY 1, 2
    """


def project_points_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Project (functions/geo.py project_cols): the forward spherical
    geodesic — each event projected 250 m along its initial bearing to
    the next point (dead-reckoning / look-ahead prediction, the inverse
    companion of the ST_Azimuth analytics). Both the bearing and the
    destination point are the identical scalar-libm IEEE trees in both
    engines up to the ~13% 1-ulp JVM-vs-libm atan2 spread (measured —
    glibc and DuckDB agree bit-for-bit; the JVM intrinsic drifts), which
    round-6 absorbs with ~7 orders of magnitude of margin, the same
    discipline cumdist's round-3 meters use."""
    from activity_files_spark.functions.geo import bearing_deg, project_cols

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts",
        _lat_col().alias("lat"), _lon_col().alias("lon"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "user_id", "event_id", "lat", "lon",
        F.lead("lat").over(w).alias("nlat"),
        F.lead("lon").over(w).alias("nlon"),
    ).where(F.col("nlat").isNotNull())
    brg = bearing_deg(
        F.col("lat"), F.col("lon"), F.col("nlat"), F.col("nlon")
    ).alias("brg")
    staged = nxt.select("user_id", "event_id", "lat", "lon", brg)
    lat2, lon2 = project_cols(
        F.col("lat"), F.col("lon"), F.col("brg"), F.lit(250.0)
    )
    return staged.select(
        "user_id", "event_id",
        F.round("brg", 6).alias("bearing"),
        F.round(lat2, 6).alias("lat2"),
        F.round(lon2, 6).alias("lon2"),
    ).orderBy("user_id", "event_id")


def _project_points_sql() -> str:
    from activity_files_spark.functions.geo import bearing_sql, project_sql

    brg = bearing_sql("lat", "lon", "nlat", "nlon")
    lat2, lon2 = project_sql("lat", "lon", "brg", "250.0")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), nxt AS (
      SELECT * FROM (
        SELECT user_id, event_id, lat, lon,
               LEAD(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nlat,
               LEAD(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nlon
        FROM pts
      ) t WHERE nlat IS NOT NULL
    ), staged AS (
      SELECT user_id, event_id, lat, lon, {brg} AS brg FROM nxt
    )
    SELECT user_id, event_id,
           ROUND(brg, 6) AS bearing,
           ROUND({lat2}, 6) AS lat2,
           ROUND({lon2}, 6) AS lon2
    FROM staged ORDER BY user_id, event_id
    """


XPT_USER_MOD = CROSS_USER_MOD * 2  # half the crossing decile: geometry output is per-crossing


def crossing_points_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection geometry for the ST_Crosses pairs
    (crossings.segment_crossings with_points=True): the EXACT rational
    intersection point of every properly-crossing cross-user segment
    pair, as DECIMAL(38,0) numerators over a canonical positive BIGINT
    denominator on the z14+q8 lattice — no float enters at any stage, so
    the oracle (brute pair join, same expansion) hash-matches the
    geometry itself, not a rounding of it. Runs on half the
    route_crossings user decile (XPT_USER_MOD): per-crossing geometry
    output is ~20x the per-pair rollup's, and the gate needs thousands
    of exact points, not millions."""
    from activity_files_spark.operators.crossings import segment_crossings

    ev = (
        _read(spark, sf_dir, "events")
        .where((F.col("user_id") % XPT_USER_MOD) == 0)
        .select(
            "user_id", "event_id", "ts",
            _lat_col().alias("lat"), _lon_col().alias("lon"),
        )
    )
    segs = _tile_segments(ev, seq=True)
    out = segment_crossings(
        segs, q=COVER_Q, key="user_id", seq="seq", with_points=True
    )
    return out.select(
        F.col("key_a").alias("user_a"), "seq_a",
        F.col("key_b").alias("user_b"), "seq_b",
        "px_num", "py_num", "den",
    ).orderBy("user_a", "seq_a", "user_b", "seq_b")


def _crossing_points_sql() -> str:
    from activity_files_spark.operators.crossings import proper_cross_sql

    x, y = tile_xy_sql("lat", "lon", COVER_Z + COVER_Q)
    pred = proper_cross_sql(
        ("a.x0", "a.y0"), ("a.x1", "a.y1"), ("b.x0", "b.y0"), ("b.x1", "b.y1")
    )
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events WHERE user_id % {XPT_USER_MOD} = 0
    ), px AS (
      SELECT user_id, event_id, ts, {x} AS x1, {y} AS y1 FROM pts
    ), segs AS (
      SELECT * FROM (
        SELECT user_id AS key,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                 AS seq,
               LAG(x1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
               LAG(y1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0,
               x1, y1
        FROM px
      ) t WHERE x0 IS NOT NULL
    ), raw AS (
      SELECT a.key AS user_a, a.seq AS seq_a, b.key AS user_b, b.seq AS seq_b,
             a.x0 AS pax, a.y0 AS pay, (a.x1 - a.x0) AS d1x, (a.y1 - a.y0) AS d1y,
             (a.x1 - a.x0) * (b.y1 - b.y0) - (a.y1 - a.y0) * (b.x1 - b.x0) AS den0,
             (b.x0 - a.x0) * (b.y1 - b.y0) - (b.y0 - a.y0) * (b.x1 - b.x0) AS t0
      FROM segs a JOIN segs b ON a.key < b.key AND {pred}
    ), sg AS (
      SELECT *, CASE WHEN den0 < 0 THEN -1 ELSE 1 END AS sgn FROM raw
    )
    SELECT user_a, seq_a, user_b, seq_b,
           CAST(pax AS DECIMAL(38,0)) * CAST(den0 * sgn AS DECIMAL(38,0))
             + CAST(t0 * sgn AS DECIMAL(38,0)) * CAST(d1x AS DECIMAL(38,0))
             AS px_num,
           CAST(pay AS DECIMAL(38,0)) * CAST(den0 * sgn AS DECIMAL(38,0))
             + CAST(t0 * sgn AS DECIMAL(38,0)) * CAST(d1y AS DECIMAL(38,0))
             AS py_num,
           den0 * sgn AS den
    FROM sg ORDER BY user_a, seq_a, user_b, seq_b
    """


DENSIFY_K = 256  # densify spacing: 256 subunits = one z14 cell per step


def densify_track_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Segmentize (operators/densify.py): per-segment geometric
    subdivision so no step exceeds one z14 cell. Split counts are pure
    integers on the mercator lattice (a haversine-derived ceil would flip
    on a 1-ulp trig divergence); the lerp is the identical IEEE tree in
    both engines, so interpolated coordinates hash-gate bit-for-bit."""
    from activity_files_spark.operators.densify import densify_tracks

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    px, py = tile_xy_col(F.col("lat"), F.col("lon"), COVER_Z + COVER_Q)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select(
        F.col("user_id").alias("key"),
        (F.row_number().over(w) - 1).alias("seq"),
        "lat",
        "lon",
        px.alias("x"),
        py.alias("y"),
    )
    dense = densify_tracks(pts, DENSIFY_K, key="key")
    return (
        dense.groupBy(F.col("key").alias("user_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.sum(F.when(F.col("i") > 0, 1).otherwise(0)).alias("n_inserted"),
            F.max("n").alias("max_splits"),
            # NOT round(x,6): the lerp lands on exact .5e-6 ties where
            # Spark (BigDecimal HALF_UP) and DuckDB (multiply+rint) disagree;
            # floor of the bit-identical double is a pure function of its bits
            F.sum(F.floor(F.col("lat") * F.lit(1000000.0)).cast("long")).alias(
                "lat_sum_u6"
            ),
            F.sum(F.floor(F.col("lon") * F.lit(1000000.0)).cast("long")).alias(
                "lon_sum_u6"
            ),
        )
        .orderBy("user_id")
    )


def _densify_sql() -> str:
    from activity_files_spark.operators.densify import densify_sql

    x, y = tile_xy_sql("lat", "lon", COVER_Z + COVER_Q)
    body, final = densify_sql("dpts", DENSIFY_K, key="key")
    return f"""
    WITH dev AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), dpts AS (
      SELECT user_id AS key,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS seq,
             lat, lon, {x} AS x, {y} AS y
      FROM dev
    ),
    {body}
    SELECT key AS user_id, COUNT(*) AS n_points,
           SUM(CASE WHEN i > 0 THEN 1 ELSE 0 END) AS n_inserted,
           MAX(n) AS max_splits,
           SUM(CAST(FLOOR(lat * 1000000.0) AS BIGINT)) AS lat_sum_u6,
           SUM(CAST(FLOOR(lon * 1000000.0) AS BIGINT)) AS lon_sum_u6
    FROM {final} GROUP BY 1 ORDER BY 1
    """


MORAN_Z = 14  # Moran's I raster zoom: ~23x23 observed cells on the synthetic
# grid keeps every integer term of the expansion far inside BIGINT


def morans_i_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spatial autocorrelation (operators/autocorr.py): Moran's I
    over the z14 cell counts — queen contiguity, exact integer expansion
    (N²P - 2NST + WS²) / (W(N·SS - S²)), one final int→double division,
    so the statistic itself hash-gates bit-for-bit."""
    from activity_files_spark.operators.autocorr import morans_i

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    cx, cy = tile_xy_col(F.col("lat"), F.col("lon"), MORAN_Z)
    cells = (
        ev.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("x"))
    )
    return morans_i(cells)


def _morans_i_sql() -> str:
    from activity_files_spark.operators.autocorr import morans_i_sql

    x, y = tile_xy_sql("lat", "lon", MORAN_Z)
    body = morans_i_sql("macells")
    return f"""
    WITH maev AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), macells AS (
      SELECT {x} AS cx, {y} AS cy, COUNT(*) AS x
      FROM maev GROUP BY 1, 2
    ),
    {body}
    SELECT * FROM morans
    """


def gi_star_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hot-spot analysis (operators/autocorr.py): per-z14-cell
    z-scores of the queen+self neighborhood sum — the LOCAL companion of
    morans_i_cells. Every term under the sqrt is exact BIGINT; the float
    tail is one fixed expression tree, so z-scores hash-gate bit-for-bit."""
    from activity_files_spark.operators.autocorr import getis_ord_gi_star

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    cx, cy = tile_xy_col(F.col("lat"), F.col("lon"), MORAN_Z)
    cells = (
        ev.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("x"))
    )
    return getis_ord_gi_star(cells).orderBy("cx", "cy")


def _gi_star_sql() -> str:
    from activity_files_spark.operators.autocorr import getis_ord_gi_star_sql

    x, y = tile_xy_sql("lat", "lon", MORAN_Z)
    body = getis_ord_gi_star_sql("macells")
    return f"""
    WITH maev AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), macells AS (
      SELECT {x} AS cx, {y} AS cy, COUNT(*) AS x
      FROM maev GROUP BY 1, 2
    ),
    {body}
    SELECT * FROM gistar ORDER BY cx, cy
    """


def route_simplicity_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_IsSimple as a counting join (operators/crossings.py
    self_intersections): per user, how many properly-crossing non-adjacent
    segment pairs its trajectory contains (simple iff zero). Same
    cover-join + in-stage BIGINT refine as route_crossings_pairs, paired
    within the route; the oracle replays the predicate over brute
    same-route pairs."""
    from activity_files_spark.operators.crossings import self_intersections

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    segs = _tile_segments(ev, seq=True)
    hits = (
        self_intersections(segs, q=COVER_Q, key="user_id", seq="seq")
        .groupBy(F.col("key").alias("user_id"))
        .agg(
            F.count("*").alias("n_self_crossings"),
            F.sum(F.col("seq_a") + F.col("seq_b")).alias("seq_checksum"),
        )
    )
    users = ev.select("user_id").distinct()
    return (
        users.join(hits, "user_id", "left")
        .select(
            "user_id",
            F.coalesce("n_self_crossings", F.lit(0)).alias("n_self_crossings"),
            F.coalesce("seq_checksum", F.lit(0)).alias("seq_checksum"),
            (F.coalesce("n_self_crossings", F.lit(0)) == 0).alias("is_simple"),
        )
        .orderBy("user_id")
    )


def _route_simplicity_sql() -> str:
    from activity_files_spark.operators.crossings import proper_cross_sql

    x, y = tile_xy_sql("lat", "lon", COVER_Z + COVER_Q)
    pred = proper_cross_sql(
        ("a.x0", "a.y0"), ("a.x1", "a.y1"), ("b.x0", "b.y0"), ("b.x1", "b.y1")
    )
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), px AS (
      SELECT user_id, event_id, ts, {x} AS x1, {y} AS y1 FROM pts
    ), segs AS (
      SELECT * FROM (
        SELECT user_id AS key,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
                 AS seq,
               LAG(x1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x0,
               LAG(y1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS y0,
               x1, y1
        FROM px
      ) t WHERE x0 IS NOT NULL
    ), hits AS (
      SELECT a.key AS user_id,
             COUNT(*) AS n_self_crossings,
             SUM(a.seq + b.seq) AS seq_checksum
      FROM segs a JOIN segs b
        ON a.key = b.key AND b.seq > a.seq + 1 AND {pred}
      GROUP BY 1
    )
    SELECT u.user_id,
           COALESCE(h.n_self_crossings, 0) AS n_self_crossings,
           COALESCE(h.seq_checksum, 0) AS seq_checksum,
           COALESCE(h.n_self_crossings, 0) = 0 AS is_simple
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN hits h ON u.user_id = h.user_id
    ORDER BY 1
    """


LI_FRACS = [(1, 4), (1, 2), (3, 4)]  # quartile points along each route


def route_fraction_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_LineInterpolatePoint (operators/densify.py): the vertex at 25/50/
    75% of each user's route length, parameterized on the integer lattice
    (L1 per segment) so the running total, target, and bracket search are
    all exact BIGINT — a haversine cumsum would flip brackets between
    DuckDB's segment-tree and Spark's sequential window summation. The
    lerp is the fixed IEEE tail, bit-identical across engines."""
    from activity_files_spark.operators.densify import line_interpolate_points

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    px, py = tile_xy_col(F.col("lat"), F.col("lon"), COVER_Z + COVER_Q)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select(
        F.col("user_id").alias("key"),
        (F.row_number().over(w) - 1).alias("seq"),
        "lat",
        "lon",
        px.alias("x"),
        py.alias("y"),
    )
    out = line_interpolate_points(pts, LI_FRACS, key="key")
    return out.select(
        F.col("key").alias("user_id"), "num", "den", "seq", "lat", "lon"
    ).orderBy("user_id", "den", "num")


def _route_fraction_sql() -> str:
    from activity_files_spark.operators.densify import line_interpolate_sql

    x, y = tile_xy_sql("lat", "lon", COVER_Z + COVER_Q)
    body, final = line_interpolate_sql("lipts", LI_FRACS, key="key")
    return f"""
    WITH liev AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), lipts AS (
      SELECT user_id AS key,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
               AS seq,
             lat, lon, {x} AS x, {y} AS y
      FROM liev
    ),
    {body}
    SELECT key AS user_id, num, den, seq, lat, lon
    FROM {final} ORDER BY 1, den, num
    """


def emerging_hotspots_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging hot-spot analysis (operators/autocorr.py): per-month Gi*
    z-scores per z14 cell (globals and neighborhoods WITHIN each month),
    stacked by an exact Mann-Kendall trend over each cell's monthly z
    series — S is a pure integer of sign comparisons over bit-identical
    doubles, so the rising/falling classification can never sit on an
    engine-dependent boundary."""
    from activity_files_spark.operators.autocorr import (
        getis_ord_gi_star,
        mann_kendall_trend,
    )

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    cx, cy = tile_xy_col(F.col("lat"), F.col("lon"), MORAN_Z)
    cells = (
        ev.select(
            (F.year("ts") * 100 + F.month("ts")).alias("bucket"),
            cx.alias("cx"),
            cy.alias("cy"),
        )
        .groupBy("bucket", "cx", "cy")
        .agg(F.count("*").alias("x"))
    )
    # single-cell months have an undefined z (0/0)
    gi = getis_ord_gi_star(cells, by=("bucket",)).where(~F.isnan("z"))
    # feeds the MK pair self-join (x2), the bucket counts, and zsum — lazy,
    # instead of re-running the whole Gi* subtree four times (16-scan plan; r06)
    scored = materialize(gi, eager=False)
    mk = mann_kendall_trend(scored, by=("cx", "cy"), t="bucket", v="z")
    zsum = scored.groupBy("cx", "cy").agg(
        F.sum(F.floor(F.col("z") * F.lit(1000000.0)).cast("long")).alias(
            "z_micro_sum"
        )
    )
    trend = (
        F.when(F.col("mk_s") > 0, F.lit("rising"))
        .when(F.col("mk_s") < 0, F.lit("falling"))
        .otherwise(F.lit("flat"))
    )
    return (
        mk.join(zsum, ["cx", "cy"])
        .select("cx", "cy", "n_buckets", "mk_s", trend.alias("trend"), "z_micro_sum")
        .orderBy("cx", "cy")
    )


def _emerging_hotspots_sql() -> str:
    from activity_files_spark.operators.autocorr import getis_ord_gi_star_sql

    x, y = tile_xy_sql("lat", "lon", MORAN_Z)
    body = getis_ord_gi_star_sql("ehcells", by=("bucket",))
    return f"""
    WITH ehev AS (
      SELECT event_id, ts, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), ehcells AS (
      SELECT CAST(EXTRACT(year FROM ts) * 100 + EXTRACT(month FROM ts)
                  AS BIGINT) AS bucket,
             {x} AS cx, {y} AS cy, COUNT(*) AS x
      FROM ehev GROUP BY 1, 2, 3
    ),
    {body}
    , ehscored AS (
      SELECT * FROM gistar WHERE NOT isnan(z)
    ), ehmk AS (
      SELECT a.cx, a.cy,
             SUM(CASE WHEN b.z > a.z THEN 1
                      WHEN b.z < a.z THEN -1 ELSE 0 END) AS mk_s
      FROM ehscored a JOIN ehscored b
        ON a.cx = b.cx AND a.cy = b.cy AND a.bucket < b.bucket
      GROUP BY 1, 2
    ), ehbase AS (
      SELECT cx, cy, COUNT(*) AS n_buckets,
             SUM(CAST(FLOOR(z * 1000000.0) AS BIGINT)) AS z_micro_sum
      FROM ehscored GROUP BY 1, 2
    )
    SELECT c.cx, c.cy, c.n_buckets,
           COALESCE(m.mk_s, 0) AS mk_s,
           CASE WHEN COALESCE(m.mk_s, 0) > 0 THEN 'rising'
                WHEN COALESCE(m.mk_s, 0) < 0 THEN 'falling'
                ELSE 'flat' END AS trend,
           c.z_micro_sum
    FROM ehbase c LEFT JOIN ehmk m ON c.cx = m.cx AND c.cy = m.cy
    ORDER BY 1, 2
    """


QC_Z0 = 4  # region-coverer start zoom (16x16 world grid)
QC_ZMAX = 12  # region-coverer finest zoom; rects are cell ranges here


def _qc_rects(nation: DataFrame) -> DataFrame:
    """Deterministic cell-aligned geofence rects derived from nation keys —
    mixed sizes so the mixed-level cover actually mixes levels."""
    k = F.col("n_nationkey").cast("long")
    ax = (k * 937) % 3500
    ay = (k * 541) % 3500
    return nation.select(
        k.alias("region_id"),
        ax.alias("ax"),
        ay.alias("ay"),
        (ax + 17 + (k * 131) % 500).alias("bx"),
        (ay + 17 + (k * 277) % 500).alias("by"),
    )


def region_cover_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical region coverer (operators/coverer.py): the S2/H3
    "region cover" primitive — each geofence rect decomposes into the
    minimal MIXED-level quadtree cell set (coarse cells in the interior,
    fine cells along the boundary), the range predicates a cell-indexed
    scan pushes down. Unrolled BFS, one lazy plan, explodes + filters
    only; the oracle replays the subdivision level by level."""
    from activity_files_spark.operators.coverer import region_quad_cover

    rects = _qc_rects(_read(spark, sf_dir, "nation"))
    cover = region_quad_cover(rects, QC_Z0, QC_ZMAX, key="region_id")
    packed = F.col("cx") * F.lit(1 << QC_ZMAX) + F.col("cy")
    return (
        cover.groupBy(F.col("key").alias("region_id"), "level")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum(packed).alias("cell_checksum"),
            F.min(packed).alias("min_cell"),
        )
        .orderBy("region_id", "level")
    )


def _region_cover_sql() -> str:
    from activity_files_spark.operators.coverer import region_quad_cover_sql

    body, final = region_quad_cover_sql("rects", QC_Z0, QC_ZMAX, key="region_id")
    return f"""
    WITH rects AS (
      SELECT CAST(n_nationkey AS BIGINT) AS region_id,
             (CAST(n_nationkey AS BIGINT) * 937) % 3500 AS ax,
             (CAST(n_nationkey AS BIGINT) * 541) % 3500 AS ay,
             (CAST(n_nationkey AS BIGINT) * 937) % 3500
               + 17 + (CAST(n_nationkey AS BIGINT) * 131) % 500 AS bx,
             (CAST(n_nationkey AS BIGINT) * 541) % 3500
               + 17 + (CAST(n_nationkey AS BIGINT) * 277) % 500 AS by
      FROM nation
    ),
    {body}
    SELECT key AS region_id, level, COUNT(*) AS n_cells,
           SUM(cx * {1 << QC_ZMAX} + cy) AS cell_checksum,
           MIN(cx * {1 << QC_ZMAX} + cy) AS min_cell
    FROM {final} GROUP BY 1, 2 ORDER BY 1, 2
    """


def region_cover_lookup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cover-driven index lookup: count the points inside each geofence by
    joining the MIXED-level quadtree cover (region_cover_cells) against
    each point's ancestor cell per level — at most ONE match per region
    because the cover is a disjoint partition, so the counts equal direct
    rect containment. The oracle IS direct containment: two independent
    algorithms, one hash. This is the scan shape a cell-indexed table
    serves: the cover rows are the pushed-down range predicates; the
    9-way ancestor explode stands in for the interleaved-key range scan
    a real index would do."""
    from activity_files_spark.operators.coverer import region_quad_cover

    rects = _qc_rects(_read(spark, sf_dir, "nation"))
    cover = region_quad_cover(rects, QC_Z0, QC_ZMAX, key="region_id").select(
        F.col("key").alias("region_id"), "level", "cx", "cy"
    )
    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    px, py = tile_xy_col(F.col("lat"), F.col("lon"), QC_ZMAX)
    # one struct per level with a LITERAL shift (pyspark's shift functions
    # take int shift amounts only)
    ladder = F.array(
        *[
            F.struct(
                F.lit(z).alias("level"),
                F.shiftrightunsigned(F.col("px"), QC_ZMAX - z).alias("cx"),
                F.shiftrightunsigned(F.col("py"), QC_ZMAX - z).alias("cy"),
            )
            for z in range(QC_Z0, QC_ZMAX + 1)
        ]
    )
    anc = ev.select(
        "event_id", px.alias("px"), py.alias("py")
    ).select("event_id", F.explode(ladder).alias("a")).select(
        "event_id",
        F.col("a.level").alias("level"),
        F.col("a.cx").alias("cx"),
        F.col("a.cy").alias("cy"),
    )
    hits = (
        anc.join(F.broadcast(cover), ["level", "cx", "cy"])
        .groupBy("region_id")
        .agg(F.count("*").alias("n_points"))
    )
    return (
        rects.select("region_id")
        .join(hits, "region_id", "left")
        .select(
            "region_id", F.coalesce("n_points", F.lit(0)).alias("n_points")
        )
        .orderBy("region_id")
    )


def _region_cover_lookup_sql() -> str:
    """Independent oracle: DIRECT rect containment on the z_max lattice —
    deliberately NOT a replay of the quadtree cover."""

    x, y = tile_xy_sql("lat", "lon", QC_ZMAX)
    return f"""
    WITH rects AS (
      SELECT CAST(n_nationkey AS BIGINT) AS region_id,
             (CAST(n_nationkey AS BIGINT) * 937) % 3500 AS ax,
             (CAST(n_nationkey AS BIGINT) * 541) % 3500 AS ay,
             (CAST(n_nationkey AS BIGINT) * 937) % 3500
               + 17 + (CAST(n_nationkey AS BIGINT) * 131) % 500 AS bx,
             (CAST(n_nationkey AS BIGINT) * 541) % 3500
               + 17 + (CAST(n_nationkey AS BIGINT) * 277) % 500 AS by
      FROM nation
    ), pv AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), pxy AS (
      SELECT event_id, {x} AS px, {y} AS py FROM pv
    )
    SELECT r.region_id,
           (SELECT COUNT(*) FROM pxy p
            WHERE p.px BETWEEN r.ax AND r.bx
              AND p.py BETWEEN r.ay AND r.by) AS n_points
    FROM rects r ORDER BY 1
    """


def geofence_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Union + ST_Area over the geofence set (sweep.rect_union_sweep):
    union measure without double-counting overlaps, by coordinate-
    compression sweep — strip assignment via two boundary equi-joins (a
    rect's own edges ARE boundaries), interval-union length as one window
    pass. All BIGINT on the z_max lattice. The unpartitioned boundary
    window moves only the 2x|rects| compressed edge table — the same
    bounded post-rollup trade gi_star documents. The oracle computes
    y_covered by BRUTE per-cell COUNT(DISTINCT y) per strip — a different
    algorithm, one hash."""
    from activity_files_spark.operators.sweep import rect_union_sweep

    rects = _qc_rects(_read(spark, sf_dir, "nation"))
    return rect_union_sweep(rects).orderBy("x_lo")


def _overlap_rects(supplier: DataFrame) -> DataFrame:
    """Denser deterministic geofence rects from supplier keys (100 at
    sf0.01 on a 2000-lattice -> 162 true overlap pairs), so the overlay
    join has a real workload; same inclusive cell-rect convention as
    :func:`_qc_rects`."""
    k = F.col("s_suppkey").cast("long")
    ax = (k * 937) % 2000
    ay = (k * 541) % 2000
    return supplier.select(
        k.alias("region_id"),
        ax.alias("ax"),
        ay.alias("ay"),
        (ax + 17 + (k * 131) % 400).alias("bx"),
        (ay + 17 + (k * 277) % 400).alias("by"),
    )


def bloom_semijoin_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning (operators/sketch.py bloom_*): the
    runtime-filter idiom a distributed engine uses to prune a big probe
    side before the real exchange (Spark's own bloom join, Trino dynamic
    filters). Members = custkeys with URGENT orders (bit_or-aggregated
    into one 4 KB filter — no distinct needed, the OR is idempotent);
    probe = every customer, broadcast-checked. The gate pins per-segment
    customer counts, exact members, bloom passes, FALSE POSITIVES (the
    bounded cost) and FALSE NEGATIVES (must be zero — the property that
    makes pruning sound); the oracle replays the filter bit-for-bit."""
    from activity_files_spark.operators.sketch import bloom_build, bloom_probe

    urgent = (
        _read(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    filt = bloom_build(urgent, "c_custkey")
    cust = _read(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    probed = bloom_probe(cust, filt, "c_custkey")
    members = urgent.distinct().withColumn("is_member", F.lit(1))
    flagged = probed.join(members, "c_custkey", "left").select(
        "c_mktsegment",
        F.coalesce("is_member", F.lit(0)).alias("m"),
        F.col("might_contain").cast("int").alias("p"),
    )
    return (
        flagged.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("m").alias("n_exact_members"),
            F.sum("p").alias("n_bloom_pass"),
            F.sum(F.when((F.col("p") == 1) & (F.col("m") == 0), 1).otherwise(0)).alias(
                "n_false_pos"
            ),
            F.sum(F.when((F.col("p") == 0) & (F.col("m") == 1), 1).otherwise(0)).alias(
                "n_false_neg"
            ),
        )
        .orderBy("c_mktsegment")
    )


def _bloom_semijoin_sql() -> str:
    from activity_files_spark.operators.sketch import bloom_sql

    body = bloom_sql("bs_members", "bs_probe", "k", "c_custkey")
    return f"""
    WITH bs_members AS (
      SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    bs_probe AS (
      SELECT c_custkey FROM customer
    ),
    {body},
    bs_exact AS (
      SELECT DISTINCT k AS c_custkey FROM bs_members
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN e.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_members,
           CAST(SUM(CASE WHEN v.might_contain THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(SUM(CASE WHEN v.might_contain AND e.c_custkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT v.might_contain AND e.c_custkey IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM customer c
    JOIN bl_verdict v USING (c_custkey)
    LEFT JOIN bs_exact e USING (c_custkey)
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """


def cms_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation (operators/sketch.py cms_*) over
    the z16 cell-id stream: the heavy-hitter primitive that answers "how
    hot is this cell" without shuffling a skewed key — the sketch is d*w
    counters built by ONE bounded groupBy, estimates are a broadcast
    lookup. Gated per cell against the exact count with the one-sided
    error pinned: ``overcount = cms_est - n_exact`` must be >= 0 row by
    row, and the oracle replays every counter exactly."""
    from activity_files_spark.functions.quadkey import cell_id_col
    from activity_files_spark.operators.sketch import cms_build, cms_estimate

    ev = _read(spark, sf_dir, "events").select(
        _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    stream = ev.select(cell_id_col(F.col("lat"), F.col("lon"), 16).alias("cell"))
    sketch = cms_build(stream, "cell")
    exact = stream.groupBy("cell").agg(F.count("*").alias("n_exact"))
    est = cms_estimate(exact, sketch, "cell")
    return est.select(
        "cell", "n_exact", "cms_est",
        (F.col("cms_est") - F.col("n_exact")).alias("overcount"),
    ).orderBy("cell")


def _cms_cell_sql() -> str:
    from activity_files_spark.functions.quadkey import cell_id_sql
    from activity_files_spark.operators.sketch import cms_sql

    cell = cell_id_sql("lat", "lon", 16)
    body = cms_sql("cm_stream", "cm_keys", "cell", "cell")
    return f"""
    WITH cm_stream AS (
      SELECT {cell} AS cell
      FROM (SELECT {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events) p
    ),
    cm_keys AS (
      SELECT DISTINCT cell FROM cm_stream
    ),
    {body},
    cm_exact AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM cm_stream GROUP BY cell
    )
    SELECT cell, n_exact, cms_est, cms_est - n_exact AS overcount
    FROM cm_exact JOIN cm_est USING (cell)
    ORDER BY cell
    """


def sample_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user sample (operators/sampling.py): the k=5
    events whose mixed ids rank smallest per user — the reproducible
    downsample a training pipeline takes of a 10^12-row corpus (stable
    under re-runs, retries, partitioning, cluster size; none of which
    holds for df.sample). Row-level gate: the oracle replays the hash and
    must select the SAME rows in the SAME order."""
    from activity_files_spark.operators.sampling import deterministic_sample

    ev = _read(spark, sf_dir, "events").select("user_id", "event_id")
    out = deterministic_sample(ev, key="user_id", id_col="event_id", k=5)
    return out.select("user_id", "sample_rank", "event_id").orderBy(
        "user_id", "sample_rank"
    )


def _sample_events_sql() -> str:
    from activity_files_spark.operators.sampling import deterministic_sample_sql

    body = deterministic_sample_sql(
        "se_src", key="user_id", id_col="event_id", k=5,
        cols="user_id, event_id",
    )
    return f"""
    WITH se_src AS (
      SELECT user_id, event_id FROM events
    ),
    {body}
    SELECT user_id, sample_rank, event_id FROM ds_out
    ORDER BY user_id, sample_rank
    """


def dataset_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free train/val/test split of the documents table
    (operators/sampling.py dataset_split): 80/10/10 by the doc id's mix
    hash mod 10,000 — a pure function of the id, so the same document
    lands in the same split on every run and every table that joins on
    doc_id (the leak-free property per-table random sampling lacks).
    Gated per (lang, split) with id sums, so the oracle pins the exact
    membership AND shows the split is stratification-balanced across
    languages without ever being told about them."""
    from activity_files_spark.operators.sampling import dataset_split

    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    out = dataset_split(docs, "doc_id")
    return (
        out.groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
        )
        .orderBy("lang", "split")
    )


def _dataset_split_sql() -> str:
    from activity_files_spark.operators.sampling import dataset_split_sql

    body = dataset_split_sql("dsp_src", "doc_id", cols="doc_id, lang")
    return f"""
    WITH dsp_src AS (
      SELECT doc_id, lang FROM documents
    ),
    {body}
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM sp_out GROUP BY lang, split ORDER BY lang, split
    """


def route_buffer_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer over each user's route in raster space
    (raster.dilate_cells): Chebyshev-2 dilation of the distinct z15 route
    cells — the proximity corridor a "within ~2 cells of the route" scan
    reads. Spark runs the SEPARABLE two-pass dilation (x-explode +
    distinct, then y), the oracle the one-shot (2r+1)^2 square expansion,
    so the hash gate checks the separability argument itself. Cell-id
    sums pin the exact buffered cell SET, not just counts."""
    from activity_files_spark.operators.raster import dilate_cells

    z, r = 15, 2
    ev = _read(spark, sf_dir, "events").select(
        "user_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    x, y = tile_xy_col(F.col("lat"), F.col("lon"), z)
    core = ev.select("user_id", x.alias("cx"), y.alias("cy")).distinct()
    buf = dilate_cells(core, z, r=r, key="user_id")
    core_agg = core.groupBy("user_id").agg(
        F.count("*").alias("n_core"),
        F.sum(F.shiftleft("cx", z) + F.col("cy")).alias("core_sum"),
    )
    buf_agg = buf.groupBy("user_id").agg(
        F.count("*").alias("n_buffer"),
        F.sum(F.shiftleft("cx", z) + F.col("cy")).alias("buffer_sum"),
    )
    return (
        core_agg.join(buf_agg, "user_id")
        .select("user_id", "n_core", "n_buffer", "core_sum", "buffer_sum")
        .orderBy("user_id")
    )


def _route_buffer_sql() -> str:
    from activity_files_spark.operators.raster import dilate_cells_sql

    z, r = 15, 2
    cx, cy = tile_xy_sql("lat", "lon", z)
    body = dilate_cells_sql("rb_core", z, r=r, key="user_id")
    return f"""
    WITH rb_core AS (
      SELECT DISTINCT user_id, {cx} AS cx, {cy} AS cy
      FROM (SELECT user_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
            FROM events) p
    ),
    {body},
    rb_core_agg AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_core,
             CAST(SUM((cx << {z}) + cy) AS BIGINT) AS core_sum
      FROM rb_core GROUP BY user_id
    ),
    rb_buf_agg AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_buffer,
             CAST(SUM((cx << {z}) + cy) AS BIGINT) AS buffer_sum
      FROM dc_out GROUP BY user_id
    )
    SELECT user_id, n_core, n_buffer, core_sum, buffer_sum
    FROM rb_core_agg JOIN rb_buf_agg USING (user_id)
    ORDER BY user_id
    """


def theil_sen_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend slope per z12 cell (operators/autocorr.py
    theil_sen_slope): the MAGNITUDE companion to emerging_hotspots'
    Mann-Kendall direction — median pairwise slope of the cell's DAILY
    event counts over a linear day index (days since epoch; the test
    corpus spans one month, so days give ~30 buckets per cell where
    months would give one), robust to single outlier days. Every slope
    is one double division of exact integer-derived operands and the
    median is a rank selection plus one (lo+hi)/2 average, so the DuckDB
    oracle hash-matches the slopes bit-for-bit."""
    from activity_files_spark.functions.quadkey import cell_id_col
    from activity_files_spark.operators.autocorr import theil_sen_slope

    ev = _read(spark, sf_dir, "events").select(
        "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    counts = (
        ev.select(
            cell_id_col(F.col("lat"), F.col("lon"), 12).alias("cell"),
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("t"),
        )
        .groupBy("cell", "t")
        .agg(F.count("*").cast("double").alias("v"))
    )
    out = theil_sen_slope(counts, by=("cell",), t="t", v="v")
    return out.select(
        "cell", "n_buckets", "n_pairs", F.round("ts_slope", 6).alias("ts_slope")
    ).orderBy("cell")


def _theil_sen_sql() -> str:
    from activity_files_spark.functions.quadkey import cell_id_sql
    from activity_files_spark.operators.autocorr import theil_sen_sql

    cell = cell_id_sql("lat", "lon", 12)
    body = theil_sen_sql("tsc_counts", ("cell",), "t", "v")
    return f"""
    WITH tsc_counts AS (
      SELECT cell, t, CAST(COUNT(*) AS DOUBLE) AS v FROM (
        SELECT {cell} AS cell,
               DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS t
        FROM (SELECT ts, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
              FROM events) p
      ) q GROUP BY cell, t
    ),
    {body}
    SELECT cell, n_buckets, n_pairs, ROUND(ts_slope, 6) AS ts_slope
    FROM ts_out ORDER BY cell
    """


def hll_distinct_users_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate COUNT(DISTINCT) per z12 cell via the relational
    HyperLogLog sketch (operators/sketch.py) — the distinct-cardinality
    primitive a 10^12-row corpus needs (exact distinct shuffles every
    distinct key; the sketch ships 256 small integers per cell and merges
    associatively). Every op is integer arithmetic both engines share
    (Mersenne-prime mixing, smear+bit_count ranks, one BIGINT register
    sum), and the float estimate is one division/ln of identical
    operands, so the DuckDB oracle replays the sketch BIT-FOR-BIT — the
    exact distinct count is computed alongside for honesty (the estimate
    lands within HLL's 1.04/sqrt(256) error band of it)."""
    from activity_files_spark.functions.quadkey import cell_id_col
    from activity_files_spark.operators.sketch import hll_distinct

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        _lat_col().alias("lat"), _lon_col().alias("lon"),
    )
    pts = ev.select(
        cell_id_col(F.col("lat"), F.col("lon"), 12).alias("cell"), "user_id"
    )
    sk = hll_distinct(pts, ["cell"], "user_id")
    exact = pts.groupBy("cell").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        sk.join(exact, "cell")
        .select(
            "cell", "n_rows", "n_exact", "n_buckets_hit", "reg_sum",
            F.round("hll_est", 6).alias("hll_est"),
        )
        .orderBy("cell")
    )


def _hll_distinct_sql() -> str:
    from activity_files_spark.functions.quadkey import cell_id_sql
    from activity_files_spark.operators.sketch import hll_distinct_sql

    cell = cell_id_sql("lat", "lon", 12)
    body = hll_distinct_sql("hq_pts", ["cell"], "user_id")
    return f"""
    WITH hq_pts AS (
      SELECT {cell} AS cell, CAST(user_id AS BIGINT) AS user_id
      FROM (SELECT user_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
            FROM events) t
    ),
    {body},
    hq_exact AS (
      SELECT cell, COUNT(DISTINCT user_id) AS n_exact FROM hq_pts GROUP BY cell
    )
    SELECT h.cell, h.n_rows, e.n_exact, h.n_buckets_hit, h.reg_sum,
           ROUND(h.hll_est, 6) AS hll_est
    FROM hll_out h JOIN hq_exact e USING (cell)
    ORDER BY h.cell
    """


def geofence_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects + ST_Intersection measure as a relational overlay
    join (sweep.rect_overlap_pairs): every overlapping geofence pair with
    exact BIGINT intersection/union areas and the Jaccard overlap.
    Candidates come from an EQUI-join on exploded coarse grid cells
    (complete by construction — a non-empty intersection occupies a
    coarse cell both rects cover), pair-dedup runs on bare ids, and the
    inclusive-arithmetic refine happens in the join projection; no
    nested-loop node anywhere. The oracle is the BRUTE all-pairs overlap
    join — a different algorithm, one hash. Reference parity: the overlap
    half of the geofence analytics the reference's GeoJSON polygon
    validation exercises (lib/src/parsers/geojson_parser.dart polygon
    handling); areas on the z_max lattice."""
    from activity_files_spark.operators.sweep import rect_overlap_pairs

    rects = _overlap_rects(_read(spark, sf_dir, "supplier"))
    out = rect_overlap_pairs(rects, cell=256)
    return out.select(
        "region_id_a", "region_id_b", "inter_area", "area_a", "area_b",
        "union_area", F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("region_id_a", "region_id_b")


def _geofence_overlap_sql() -> str:
    from activity_files_spark.operators.sweep import rect_overlap_pairs_sql

    body = rect_overlap_pairs_sql("go_rects")
    return f"""
    WITH go_rects AS (
      SELECT CAST(s_suppkey AS BIGINT) AS region_id,
             (CAST(s_suppkey AS BIGINT) * 937) % 2000 AS ax,
             (CAST(s_suppkey AS BIGINT) * 541) % 2000 AS ay,
             (CAST(s_suppkey AS BIGINT) * 937) % 2000
               + 17 + (CAST(s_suppkey AS BIGINT) * 131) % 400 AS bx,
             (CAST(s_suppkey AS BIGINT) * 541) % 2000
               + 17 + (CAST(s_suppkey AS BIGINT) * 277) % 400 AS by
      FROM supplier
    ),
    {body}
    SELECT region_id_a, region_id_b, inter_area, area_a, area_b, union_area,
           ROUND(jaccard, 6) AS jaccard
    FROM ro_out ORDER BY region_id_a, region_id_b
    """


def _geofence_union_sql() -> str:
    from activity_files_spark.operators.sweep import rect_union_sweep_sql

    body = rect_union_sweep_sql("rects")
    return f"""
    WITH rects AS (
      SELECT CAST(n_nationkey AS BIGINT) AS region_id,
             (CAST(n_nationkey AS BIGINT) * 937) % 3500 AS ax,
             (CAST(n_nationkey AS BIGINT) * 541) % 3500 AS ay,
             (CAST(n_nationkey AS BIGINT) * 937) % 3500
               + 17 + (CAST(n_nationkey AS BIGINT) * 131) % 500 AS bx,
             (CAST(n_nationkey AS BIGINT) * 541) % 3500
               + 17 + (CAST(n_nationkey AS BIGINT) * 277) % 500 AS by
      FROM nation
    ),
    {body}
    SELECT x_lo, x_hi, n_rects, y_covered, area FROM ru_out ORDER BY x_lo
    """


SP_Z = 12  # shortest-path cell zoom
SP_ROUNDS = 14  # >= max node count - 1 at the smallest tier, so settled holds everywhere


def shortest_path_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fastest-transfer routing over the cell-transition graph
    (operators/graph.shortest_paths): consecutive per-user events moving
    between z12 cells become directed edges weighted by the minimum
    observed transfer time (exact integer microseconds), symmetrized; then
    SP_ROUNDS Bellman-Ford relaxations from the minimum cell id. Each
    round is one equi-join + one map-side-combined min; integer weights
    make every min exact, so the oracle unrolls the SAME rounds
    CTE-for-CTE and hash-gates dist AND the per-row fixpoint certificate
    (settled = the last round changed nothing)."""
    from activity_files_spark.functions.quadkey import cell_id_col
    from activity_files_spark.operators.graph import shortest_paths

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t_us"),
        cell_id_col(F.col("lat"), F.col("lon"), SP_Z).alias("cell"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    trans = pts.select(
        F.lag("cell").over(w).alias("src"),
        F.col("cell").alias("dst"),
        (F.col("t_us") - F.lag("t_us").over(w)).alias("dt_us"),
    ).where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
    directed = trans.select("src", "dst", F.greatest("dt_us", F.lit(1)).alias("w"))
    edges = (
        directed.unionByName(
            directed.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    sources = pts.agg(F.min("cell").alias("node"))
    sp = shortest_paths(edges, sources, rounds=SP_ROUNDS)
    return sp.select(
        F.col("node").alias("cell"),
        F.col("dist").alias("dist_us"),
        (F.col("prev_dist").isNotNull() & (F.col("prev_dist") == F.col("dist"))).alias(
            "settled"
        ),
    )


def _shortest_path_cells_sql() -> str:
    from activity_files_spark.functions.quadkey import cell_id_sql
    from activity_files_spark.operators.graph import shortest_paths_sql

    cell = cell_id_sql("lat", "lon", SP_Z)
    ctes, final = shortest_paths_sql("sp_edges", "sp_sources", SP_ROUNDS)
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, epoch_us(ts) AS t_us,
             {cell} AS cell
      FROM (SELECT user_id, event_id, ts,
                   {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events) t
    ), trans AS (
      SELECT src, dst, GREATEST(dt_us, 1) AS w FROM (
        SELECT LAG(cell) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS src,
               cell AS dst,
               t_us - LAG(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS dt_us
        FROM pts
      ) t WHERE src IS NOT NULL AND src <> dst
    ), sp_edges AS MATERIALIZED (
      SELECT src, dst, MIN(w) AS w FROM (
        SELECT src, dst, w FROM trans
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM trans
      ) t GROUP BY src, dst
    ), sp_sources AS (
      SELECT MIN(cell) AS node FROM pts
    ),
    {ctes}
    SELECT node AS cell, dist AS dist_us,
           (prev_dist IS NOT NULL AND prev_dist = dist) AS settled
    FROM {final}
    """


def stream_cell_cover_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segment supercover as a CUSTOM STATEFUL streaming operator
    (stream_ops.stream_cell_cover): per-user state carries the last point
    across micro-batches, so the chunked stream covers exactly the cells
    the batch polyline does — the gate replays the BATCH oracle verbatim,
    proving chunk-boundary state handling, not just the enumeration."""
    from activity_files_spark.streaming.stream_ops import stream_cell_cover

    src = _events_stream(spark, sf_dir)
    px, py = tile_xy_col(_lat_col(), _lon_col(), COVER_Z + COVER_Q)
    pts = src.select(
        "user_id", "event_id", "ts", px.alias("x"), py.alias("y")
    )
    cover = stream_cell_cover(
        pts, q=COVER_Q, key="user_id", ts="ts", tiebreak=["event_id"]
    )
    packed = F.col("cx") * F.lit(1 << COVER_Z) + F.col("cy")
    return (
        _drain(spark, cover, "stream_cover", "append")
        .dropDuplicates(["user_id", "cx", "cy"])
        .select("user_id", packed.alias("cell"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("cell").alias("cell_checksum"),
            F.min("cell").alias("min_cell"),
        )
    )


def bearing_turns_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bearing / turn-angle analytics (functions/geo.bearing_deg): initial
    great-circle bearing per consecutive point pair, absolute turn angle
    between consecutive bearings, per-user aggregate (segment count,
    sharp-turn count > 120 deg, decimal-exact rounded turn sum). Pure
    Column trigonometry with a bit-identical SQL twin."""
    from activity_files_spark.functions.geo import bearing_deg, turn_angle_deg

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    b = bearing_deg(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    df = ev.withColumn("_b", b).filter(F.col("_b").isNotNull())
    turn = turn_angle_deg(F.lag("_b").over(w), F.col("_b"))
    df = df.withColumn("_turn", turn)
    return df.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.count(F.when(F.col("_turn") > 120.0, 1)).alias("n_sharp_turns"),
        F.sum(F.round("_turn", 6).cast("decimal(22,6)")).cast("double").alias("sum_turn_deg"),
    )


def _bearing_turns_sql() -> str:
    from activity_files_spark.functions.geo import bearing_sql, turn_angle_sql

    b = bearing_sql("plat", "plon", "lat", "lon")
    t = turn_angle_sql("pb", "_b")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), lagged AS (
      SELECT user_id, event_id, ts, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), bearings AS (
      SELECT user_id, event_id, ts, {b} AS _b
      FROM lagged WHERE plat IS NOT NULL
    ), turns AS (
      SELECT user_id, _b, LAG(_b) OVER w AS pb
      FROM bearings WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), t2 AS (
      SELECT user_id, CASE WHEN pb IS NULL THEN NULL ELSE {t} END AS turn
      FROM turns
    )
    SELECT user_id, COUNT(*) AS n_segments,
           COUNT(*) FILTER (turn > 120.0) AS n_sharp_turns,
           CAST(SUM(CAST(ROUND(turn, 6) AS DECIMAL(22,6))) AS DOUBLE) AS sum_turn_deg
    FROM t2 GROUP BY user_id
    """


SPIKE_VMAX_MPS = 1.0  # derived-grid speeds: median 0.28 m/s, p99 4.3 m/s


def spike_filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS teleport-spike filter (normalize.filter_speed_spikes): drop points
    whose implied speed to BOTH neighbors exceeds vmax — one lag/lead window
    pass, endpoints kept. The per-user aggregate pins the exact kept-row
    count and event_id sum, so every haversine, Δt guard, and boundary rule
    must match the SQL replay."""
    from activity_files_spark.operators.normalize import filter_speed_spikes

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    kept = filter_speed_spikes(
        ev, SPIKE_VMAX_MPS, key="user_id", ts="ts", tiebreak="event_id"
    )
    return kept.groupBy("user_id").agg(
        F.count("*").alias("n_kept"),
        F.sum("event_id").cast("long").alias("sum_kept_event_id"),
    )


def _spike_filter_sql() -> str:
    hav_p = haversine_sql("plat", "plon", "lat", "lon")
    hav_n = haversine_sql("lat", "lon", "nlat", "nlon")
    return f"""
    WITH pts AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ), nb AS (
      SELECT user_id, event_id, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
             LEAD(lat) OVER w AS nlat, LEAD(lon) OVER w AS nlon,
             (epoch_us(ts) / 1000000.0) - LAG(epoch_us(ts) / 1000000.0) OVER w AS dtp,
             LEAD(epoch_us(ts) / 1000000.0) OVER w - (epoch_us(ts) / 1000000.0) AS dtn
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sp AS (
      SELECT user_id, event_id,
             CASE WHEN dtp > 0 THEN {hav_p} / dtp END AS vp,
             CASE WHEN dtn > 0 THEN {hav_n} / dtn END AS vn
      FROM nb
    )
    SELECT user_id, COUNT(*) AS n_kept,
           CAST(SUM(event_id) AS BIGINT) AS sum_kept_event_id
    FROM sp
    WHERE NOT (vp IS NOT NULL AND vp > {SPIKE_VMAX_MPS!r}
               AND vn IS NOT NULL AND vn > {SPIKE_VMAX_MPS!r})
    GROUP BY user_id
    """


def stream_map_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING map-matching: the same snap_to_segments semantics over
    readStream, via the join-free expression-compiled path (spatial.
    _snap_expr) — a STATELESS append-mode projection needing no watermark
    or state store, so each micro-batch labels its points independently
    and the result is micro-batch-boundary-invariant by construction.
    The oracle is the batch theta-join replay aggregated per segment;
    a hash match proves the streaming plan computes exactly the batch
    answer."""
    from activity_files_spark.operators.spatial import snap_to_segments

    src = _events_stream(spark, sf_dir)
    pts = src.select("event_id", _lat_col().alias("lat"), _lon_col().alias("lon"))
    hit = snap_to_segments(
        pts, MM_ROUTES, MM_TOL_M, MM_REF_LAT,
        expr_max_segments=16,
    ).select("event_id", "route_id", "seg_idx", "dist_m")
    return (
        _drain(spark, hit, "stream_mm", "append")
        .groupBy("route_id", "seg_idx")
        .agg(
            F.count("*").alias("n_points"),
            F.min("event_id").alias("min_event_id"),
            F.sum(F.round("dist_m", 6).cast("decimal(22,6)"))
            .cast("double").alias("sum_dist_m"),
        )
    )


def _stream_map_match_sql() -> str:
    from activity_files_spark.operators.spatial import snap_to_segments_sql

    body = snap_to_segments_sql("pts", MM_ROUTES, MM_TOL_M, MM_REF_LAT)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    {body}
    SELECT route_id, seg_idx, COUNT(*) AS n_points,
           MIN(event_id) AS min_event_id,
           CAST(SUM(CAST(ROUND(d, 6) AS DECIMAL(22,6))) AS DOUBLE) AS sum_dist_m
    FROM mm_best GROUP BY route_id, seg_idx
    """


DP_EPS_M = 150.0  # Douglas-Peucker tolerance (track amplitude ~1.7 km)
DP_REF_LAT = 40.25


def simplify_track_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker track simplification (operators/simplify.py): each
    user's events become a smooth parametric track (monotone lat ramp +
    sine lon wiggle — the derived zigzag grid would keep every vertex);
    the per-activity Arrow kernel runs the DP stack loop, and the oracle
    replays the SAME recursion as a WITH RECURSIVE interval-splitting CTE
    (LATERAL argmax per chord, identical planar-projection floats) — an
    iterative operator, hash-gated exactly. Aggregate pins kept count and
    the exact kept-seq sum per user. Gated on a deterministic user subset
    (user_id % 5 = 0): DuckDB decorrelates the recursive LATERAL argmax
    into a per-level (splits x corpus) product, so the ORACLE is quadratic
    in total gated rows (25+ min at the full sf0.01 corpus); the Spark
    operator itself is linear per track and unbounded in production."""
    from activity_files_spark.operators.simplify import simplify_tracks

    ev = (
        _read(spark, sf_dir, "events")
        .filter(F.col("user_id") % 5 == 0)
        .select("user_id", "event_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trk = ev.withColumn("seq", F.row_number().over(w).cast("long") - F.lit(1)).select(
        "user_id", "seq",
        (F.lit(40.0) + F.col("seq") * F.lit(0.0005)).alias("lat"),
        (F.lit(-105.0) + F.lit(0.02) * F.sin(F.col("seq") * F.lit(0.05))).alias("lon"),
    )
    kept = simplify_tracks(trk, DP_EPS_M, DP_REF_LAT, key="user_id", seq="seq")
    return kept.groupBy("user_id").agg(
        F.count("*").alias("n_kept"),
        F.sum("seq").cast("long").alias("sum_kept_seq"),
    )


def _simplify_track_sql() -> str:
    from activity_files_spark.operators.simplify import simplify_sql

    body = simplify_sql("pts", DP_EPS_M, DP_REF_LAT, key="user_id")
    return f"""
    WITH RECURSIVE base AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS seq
      FROM events WHERE user_id % 5 = 0
    ),
    -- MATERIALIZED: the recursion's LATERAL argmax re-reads pts many times;
    -- inlining would re-evaluate the window + SIN chain per reference
    pts AS MATERIALIZED (
      SELECT user_id, seq,
             40.0 + CAST(seq AS DOUBLE) * 0.0005 AS lat,
             -105.0 + 0.02 * SIN(CAST(seq AS DOUBLE) * 0.05) AS lon
      FROM base
    ),
    {body}
    SELECT key AS user_id, COUNT(*) AS n_kept,
           CAST(SUM(seq) AS BIGINT) AS sum_kept_seq
    FROM dp_kept GROUP BY key
    """


RT_Z = 17  # route-signature tile zoom (~300 m cells: finer cells cut the
# self-join's per-cell occupancy ~15x on this uniformly-dense corpus — the
# candidate volume is sum(n_c^2), so signature zoom is the skew dial)
RT_REFINE_Z = 13  # Hausdorff refine zoom: |cells|^2 product 16x smaller


def route_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route near-dup mining (operators/trajectory.py): each user's route
    signature is its distinct z15 tile set; candidate pairs come from a
    tile self-equi-join with exact cell Jaccard; every route picks its
    single most similar other route (jaccard desc, id asc — deterministic
    at any corpus density, unlike a global threshold); the winner pair is
    refined with the cell-snapped symmetric Hausdorff distance in meters.
    The oracle replays signature, join, ranking, and the min/max haversine
    pyramid over identical tile-center floats."""
    from activity_files_spark.operators.trajectory import (
        hausdorff_refine,
        route_cells,
        route_pair_jaccard,
        top_similar_routes,
    )

    ev = _read(spark, sf_dir, "events").select(
        "user_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    # materialize each signature stage once (the query-level stand-in for
    # the production bucketed layout write): the cell sets feed the
    # self-join twice, the count join twice, and the refine product twice —
    # recomputing the scan+distinct for each consumer multiplies the
    # dominant cost of this query
    cells, cells_r = materialize(
        route_cells(ev, RT_Z, key="user_id"),
        route_cells(ev, RT_REFINE_Z, key="user_id"),
        eager=True,
    )
    pairs = route_pair_jaccard(cells, key="user_id")
    # the winner-pair table (1 row/route) feeds BOTH Hausdorff direction
    # products and the final join — without a checkpoint the whole
    # pair-mining subtree (cell self-join + count joins + ranking window)
    # executes three times in the one job (92-Exchange plan). Lazy: locally
    # neutral (parallel stages absorbed the recompute on an idle box) but a
    # 3x -> 1x algorithmic-work cut that holds on a busy cluster at scale
    # (r06 third pass).
    top = materialize(top_similar_routes(pairs, k=1).drop("rank"), eager=False)
    ref = hausdorff_refine(top, cells_r, RT_REFINE_Z, key="user_id")
    return ref.select(
        F.col("key").alias("user_id"),
        F.col("other").alias("similar_user_id"),
        "n_shared",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("hausdorff_m", 3).alias("hausdorff_m"),
    )


def _route_near_dups_sql() -> str:
    from activity_files_spark.operators.trajectory import route_similarity_sql

    body = route_similarity_sql("pts", RT_Z, k=1, key="user_id", refine_z=RT_REFINE_Z)
    return f"""
    WITH pts AS (
      SELECT user_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    {body}
    SELECT key AS user_id, other AS similar_user_id, n_shared,
           ROUND(jaccard, 6) AS jaccard, ROUND(hausdorff_m, 3) AS hausdorff_m
    FROM rc_final
    """


FRECHET_M = 8  # samples per route for the Fréchet DP (work per pair = m²)


def _route_refine(spark: SparkSession, sf_dir: str, metric: str) -> DataFrame:
    """The route near-dup candidate miner (z17 tile-signature Jaccard, each
    route's single most similar other route) refined by the lattice
    ``metric`` over FRECHET_M index-resampled points per route."""
    from activity_files_spark.operators.trajectory import (
        LATTICE_METRICS,
        index_resample,
        lattice_refine,
        route_cells,
        route_pair_jaccard,
        top_similar_routes,
    )

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        _lat_col().alias("lat"), _lon_col().alias("lon"),
    )
    cells = materialize(route_cells(ev, RT_Z, key="user_id"), eager=True)
    pairs = route_pair_jaccard(cells, key="user_id")
    top = top_similar_routes(pairs, k=1).drop("rank")
    samples = index_resample(
        ev, FRECHET_M, key="user_id", order_cols=("ts", "event_id")
    )
    ref = lattice_refine(metric, top, samples, key="user_id")
    column = LATTICE_METRICS[metric].column
    return ref.select(
        F.col("key").alias("user_id"),
        F.col("other").alias("similar_user_id"),
        "n_shared",
        F.round("jaccard", 6).alias("jaccard"),
        F.round(column, 3).alias(column),
    )


def _route_refine_sql(metric: str) -> str:
    from activity_files_spark.operators.trajectory import LATTICE_METRICS, lattice_sql

    lm = LATTICE_METRICS[metric]
    body = lattice_sql(
        metric, "pts", RT_Z, FRECHET_M, key="user_id", order_cols=("ts", "event_id")
    )
    return f"""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ),
    {body}
    SELECT key AS user_id, other AS similar_user_id, n_shared,
           ROUND(jaccard, 6) AS jaccard, ROUND({lm.column}, 3) AS {lm.column}
    FROM {lm.prefix}_final
    """


def frechet_route_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Fréchet refinement of the route near-dup candidates
    (operators/trajectory.py): the same z17 tile-signature miner as
    route_near_dups picks each route's single most-similar other route,
    but the refine metric is the ORDER-AWARE dog-leash distance (Eiter &
    Mannila DP) over 8 evenly-index-resampled points per route — Hausdorff
    says 'same set of places', Fréchet says 'same route walked the same
    direction'. The resample slots use pure integer rank arithmetic and
    the DP cells use the scalar-libm haversine twin, so the DuckDB oracle
    replays the ENTIRE pipeline exactly: candidates, sampling, and the DP
    itself unrolled along anti-diagonals (dp[i][j] depends on diagonals
    k-1/k-2 only -> one generated CTE per diagonal, 2m-1 stages). A hash
    match proves a nontrivial dynamic program end-to-end across engines."""
    return _route_refine(spark, sf_dir, "frechet")


def dtw_route_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DTW refinement of the route near-dup candidates
    (operators/trajectory.py LATTICE_METRICS["dtw"]): same candidate miner
    and 8-point index resample as frechet_route_refine, but the metric is
    the ELASTIC alignment cost (Sakoe & Chiba) — Fréchet reports the single
    worst matched pair, DTW sums every matched pair, so it separates 'same
    route with one detour' from 'parallel road 50 m over'. Each DP cell
    does one addition on scalar-libm haversine values, so the DuckDB
    oracle's anti-diagonal replay is bit-identical; round-to-3 on output
    only."""
    return _route_refine(spark, sf_dir, "dtw")


def resample_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 resample: per-user 6-hour grid (end-inclusive) with linear
    interpolation of the derived lat/lon between bracketing points."""
    from activity_files_spark.operators.asof import resample_linear

    ev = _read(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("activity_id"), "ts",
        _lat_col().alias("lat"), _lon_col().alias("lon"),
    )
    out = resample_linear(ev, step_s=6 * 3600, cols=["lat", "lon"])
    return out.select(
        "activity_id", "ts",
        F.round("lat", 9).alias("lat"), F.round("lon", 9).alias("lon"),
    )


def _resample_sql() -> str:
    return f"""
    WITH pts AS (
      SELECT CAST(user_id AS VARCHAR) AS activity_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ),
    env AS (
      SELECT activity_id, MIN(ts) AS t0, MAX(ts) AS t1 FROM pts GROUP BY activity_id
    ),
    grid AS (
      SELECT activity_id, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS ts
      FROM env
    ),
    u AS (
      SELECT activity_id, ts, CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
             1 AS is_grid FROM grid
      UNION ALL
      SELECT activity_id, ts, lat, lon, 0 AS is_grid FROM pts
    ),
    w AS (
      SELECT *, epoch_us(ts) / 1000000.0 AS t,
             last_value(CASE WHEN is_grid = 0 THEN epoch_us(ts) / 1000000.0 END IGNORE NULLS)
               OVER wb AS pt,
             last_value(CASE WHEN is_grid = 0 THEN lat END IGNORE NULLS) OVER wb AS plat,
             last_value(CASE WHEN is_grid = 0 THEN lon END IGNORE NULLS) OVER wb AS plon,
             first_value(CASE WHEN is_grid = 0 THEN epoch_us(ts) / 1000000.0 END IGNORE NULLS)
               OVER wf AS nt,
             first_value(CASE WHEN is_grid = 0 THEN lat END IGNORE NULLS) OVER wf AS nlat,
             first_value(CASE WHEN is_grid = 0 THEN lon END IGNORE NULLS) OVER wf AS nlon
      FROM u
      WINDOW wb AS (PARTITION BY activity_id ORDER BY epoch_us(ts) / 1000000.0 ASC, is_grid ASC
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY activity_id ORDER BY epoch_us(ts) / 1000000.0 ASC, is_grid ASC
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT activity_id, ts,
           ROUND(CASE WHEN pt IS NULL THEN nlat WHEN nt IS NULL THEN plat
                 WHEN nt = pt THEN plat
                 ELSE plat + (nlat - plat) * ((t - pt) / (nt - pt)) END, 9) AS lat,
           ROUND(CASE WHEN pt IS NULL THEN nlon WHEN nt IS NULL THEN plon
                 WHEN nt = pt THEN plon
                 ELSE plon + (nlon - plon) * ((t - pt) / (nt - pt)) END, 9) AS lon
    FROM w WHERE is_grid = 1
    """


KM_K, KM_ITERS, KM_DIM = 6, 2, 64


def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational Lloyd's k-means over the embeddings table
    (operators/clustering.py): k=6, 2 unrolled rounds, deterministic
    smallest-id seeding, decimal-exact distances and means so cluster
    assignment is partitioning-invariant. The oracle replays both rounds
    CTE-for-CTE; the centroid-norm fingerprint pins every coordinate of
    the final centroids."""
    from activity_files_spark.operators.clustering import kmeans_relational

    emb = _read(spark, sf_dir, "embeddings")
    return kmeans_relational(emb, KM_K, KM_ITERS, KM_DIM)


def _kmeans_sql() -> str:
    from activity_files_spark.operators.clustering import kmeans_sql

    body = kmeans_sql("embeddings", KM_K, KM_ITERS, KM_DIM)
    return f"""
    WITH {body}
    SELECT cluster, n_members, centroid_norm FROM km_out
    """


RSD_STEP_M = 20000.0  # distance-resample grid step (derived grid hops ~20 km)


def resample_distance_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-DISTANCE resampling (asof.resample_by_distance): each user's
    derived track resampled at 20 km cumulative-haversine intervals with
    linear interpolation on the distance axis — the route-shape
    normalization (two traversals at different speeds resample to the
    same points). The oracle replays the running cumdist, per-activity
    grid, running-bracket windows, and lerp with identical floats."""
    from activity_files_spark.operators.asof import resample_by_distance

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    out = resample_by_distance(
        ev, RSD_STEP_M, ["lat", "lon"], key="user_id", ts="ts", tiebreak="event_id"
    )
    return out.select(
        "user_id", "k",
        F.round("lat", 9).alias("lat"), F.round("lon", 9).alias("lon"),
    )


def _resample_distance_sql() -> str:
    hs = haversine_sql("plat", "plon", "lat", "lon")
    return f"""
    WITH pts0 AS (
      SELECT user_id, event_id, ts,
             {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ),
    lagged AS (
      SELECT user_id, event_id, ts, lat, lon,
             LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon,
             ROW_NUMBER() OVER w AS _seq
      FROM pts0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    cum AS (
      SELECT user_id, _seq, lat, lon,
             SUM(CASE WHEN plat IS NULL THEN 0.0 ELSE {hs} END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS _d
      FROM lagged
    ),
    env AS (
      SELECT user_id, MAX(_d) AS total FROM cum GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(0, CAST(FLOOR(total / {RSD_STEP_M!r}) AS INT))) AS k
      FROM env
    ),
    u AS (
      SELECT user_id, k, CAST(k AS DOUBLE) * {RSD_STEP_M!r} AS _d,
             CAST(NULL AS BIGINT) AS _seq,
             CAST(NULL AS DOUBLE) AS lat, CAST(NULL AS DOUBLE) AS lon,
             1 AS is_grid
      FROM grid
      UNION ALL
      SELECT user_id, NULL AS k, _d, _seq, lat, lon, 0 AS is_grid FROM cum
    ),
    br AS (
      SELECT *,
             last_value(CASE WHEN is_grid = 0 THEN _d END IGNORE NULLS) OVER wb AS pd,
             last_value(CASE WHEN is_grid = 0 THEN lat END IGNORE NULLS) OVER wb AS plat,
             last_value(CASE WHEN is_grid = 0 THEN lon END IGNORE NULLS) OVER wb AS plon,
             first_value(CASE WHEN is_grid = 0 THEN _d END IGNORE NULLS) OVER wf AS nd,
             first_value(CASE WHEN is_grid = 0 THEN lat END IGNORE NULLS) OVER wf AS nlat,
             first_value(CASE WHEN is_grid = 0 THEN lon END IGNORE NULLS) OVER wf AS nlon
      FROM u
      WINDOW wb AS (PARTITION BY user_id
                    ORDER BY _d ASC, is_grid ASC, _seq ASC NULLS FIRST
                    ROWS UNBOUNDED PRECEDING),
             wf AS (PARTITION BY user_id
                    ORDER BY _d ASC, is_grid ASC, _seq ASC NULLS FIRST
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, k,
           ROUND(CASE WHEN pd IS NULL THEN nlat WHEN nd IS NULL THEN plat
                 WHEN nd = pd THEN plat
                 ELSE plat + (nlat - plat) * ((_d - pd) / (nd - pd)) END, 9) AS lat,
           ROUND(CASE WHEN pd IS NULL THEN nlon WHEN nd IS NULL THEN plon
                 WHEN nd = pd THEN plon
                 ELSE plon + (nlon - plon) * ((_d - pd) / (nd - pd)) END, 9) AS lon
    FROM br WHERE is_grid = 1
    """


def asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 tolerance as-of join: for each click, the nearest purchase value
    by the same user within 60s (smallest |Δt|, earlier wins ties)."""
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = asof_join(
        clicks, purchases, key="user_id", ts="ts", value="value",
        tolerance_s=60.0, out="matched_value",
    )
    return out.select("event_id", "matched_value")


def _asof_sql() -> str:
    return """
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, p.value AS matched_value
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND abs(epoch_us(c.ts) - epoch_us(p.ts)) / 1000000.0 <= 60.0
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY c.event_id
      ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), p.ts
    ) = 1
    """


def knn_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 kNN join: 5 nearest signup-points for each of 20 query points on
    the derived grid (cell-ring expansion path; oracle is brute force)."""
    ev = _read(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    pts = ev.select(
        F.col("event_id").alias("point_id"), _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    qs = spark.range(20).select(
        F.col("id").alias("query_id"),
        (F.lit(40.0) + (F.col("id") * 37 % 1000).cast("double") * F.lit(0.0005)).alias("lat"),
        (F.lit(-105.0) - (F.col("id") * 53 % 997).cast("double") * F.lit(0.0005)).alias("lon"),
    )
    from activity_files_spark.operators.spatial import knn_join

    out = knn_join(qs, pts, k=5, z=13, q_id="query_id", p_id="point_id")
    return out.select("query_id", "point_id", "rank")


def _knn_sql() -> str:
    hs = haversine_sql("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    WITH p AS (
      SELECT event_id AS point_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events WHERE event_type = 'signup'
    ), q AS (
      SELECT i AS query_id,
             40.0 + CAST((i * 37) % 1000 AS DOUBLE) * 0.0005 AS lat,
             -105.0 - CAST((i * 53) % 997 AS DOUBLE) * 0.0005 AS lon
      FROM range(20) t(i)
    )
    SELECT query_id, point_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {hs}, point_id) AS rank
    FROM q JOIN p ON true
    QUALIFY rank <= 5
    """


def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents: md5-hash groupBy, keep first doc_id."""
    docs = _read(spark, sf_dir, "documents")
    return docs.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id")
    )


def _dedup_exact_sql() -> str:
    return """
    SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
    FROM documents GROUP BY 1
    """


def token_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token count + char stats per document."""
    docs = _read(spark, sf_dir, "documents", spread=True)
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
        F.length("text").alias("len_chars"),
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), " ", ""))).alias("n_spaces"),
    )


def _token_stats_sql() -> str:
    return r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           length(text) AS len_chars,
           length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents
    """


def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 25 vectors, via the
    vectorized Arrow kernel (one numpy matmul per item batch; query matrix
    broadcast). Values agree with DuckDB's exact fold to well inside the
    9-dp rounding of the output column."""
    from activity_files_spark.operators.similarity import as_double_vec, cosine_topk_kernel

    emb = _read(spark, sf_dir, "embeddings", spread=True).select(
        F.col("vec_id").alias("item_id"), as_double_vec(F.col("embedding")).alias("vec")
    )
    qs = emb.filter(F.col("item_id") < 25).select(
        F.col("item_id").alias("query_id"), "vec"
    )
    out = cosine_topk_kernel(qs, emb, k=5, q_id="query_id", i_id="item_id", vec="vec",
                             exclude_same_id=True)
    return out.select(
        "query_id",
        F.col("item_id").alias("neighbor_id"),
        "rank",
        F.round(F.col("cos"), 9).alias("cos_sim"),
    )


def _cosine_sql() -> str:
    return """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 25
    ), scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS cos
      FROM q JOIN e ON query_id != e.vec_id
    )
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
           ROUND(cos, 9) AS cos_sim
    FROM scored
    QUALIFY rank <= 5
    """


def gap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 gap detection: events whose gap from the user's previous event
    exceeds 2h (validation.dart:373-384)."""
    from activity_files_spark.functions.time import ts_seconds

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = ts_seconds(F.col("ts")) - F.lag(ts_seconds(F.col("ts"))).over(w)
    return (
        ev.withColumn("gap_s", F.round(gap, 6))
        .filter(F.col("gap_s") > 7200.0)
        .select("event_id", "user_id", "gap_s")
    )


def _gap_sql() -> str:
    return """
    SELECT event_id, user_id, gap_s FROM (
      SELECT event_id, user_id,
             ROUND((epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)))
                   / 1000000.0, 6) AS gap_s
      FROM events
    ) WHERE gap_s > 7200.0
    """


# ------------------------------------------------------- dedup / text / ann

def _mutated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus near-duplicate copies (first token dropped) — gives the
    dedup operators a guaranteed population of high-Jaccard pairs."""
    docs = _read(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace(F.col("text"), r"^\S+\s*", "").alias("text"),
    )
    return docs.unionByName(mutated)


_MUTATED_SQL = r"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, regexp_replace(text, '^\S+\s*', '') AS text
    FROM documents
"""


def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash -> banded LSH -> exact-Jaccard near-dup pairs (>= 0.4)."""
    from activity_files_spark.operators.dedup import near_dup_pairs

    corpus = _mutated_corpus(spark, sf_dir)
    out = near_dup_pairs(corpus, threshold=0.4, n=3, bands=8, rows_per_band=2)
    return out.select(
        "doc_a", "doc_b", F.round(F.col("jaccard").cast("double"), 6).alias("jaccard")
    )


def _minhash_sql() -> str:
    from activity_files_spark.operators.dedup import md5_prefix_long_sql

    k = 16
    h1 = md5_prefix_long_sql("shingle", 1, 10)
    h2 = f"({md5_prefix_long_sql('shingle', 11, 10)} | 1)"
    mh_cols = ", ".join(f"min(h1 + {j} * h2) AS mh{j}" for j in range(k))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(mh{2 * b} AS VARCHAR) || '|' || CAST(mh{2 * b + 1} AS VARCHAR) AS sig FROM sig"
        for b in range(8)
    )
    return rf"""
    WITH corpus AS ({_MUTATED_SQL}),
    toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM corpus
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[i:i+2], ' ') AS shingle
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) u
      WHERE len(t) >= 3
      UNION
      SELECT DISTINCT doc_id, array_to_string(t, ' ') AS shingle
      FROM toks WHERE len(t) < 3
    ),
    hashed AS (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM sh),
    sig AS (SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id),
    banded AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter) >= 0.4
    """


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (bitwise token majority vote)."""
    from activity_files_spark.operators.dedup import simhash64

    docs = _read(spark, sf_dir, "documents", spread=True).select("doc_id", "text")
    return simhash64(docs, bits=60)


def _simhash_sql() -> str:
    from activity_files_spark.operators.dedup import md5_prefix_long_sql

    h = md5_prefix_long_sql("tok")
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    votes AS (
      SELECT doc_id, i AS bit,
             SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, LATERAL (SELECT unnest(range(0, 60)) AS i) u
      GROUP BY doc_id, i
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """


def lang_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: language ID, quality score, fingerprint per document.
    Uses the staged one-pass profile (each stopword-ratio subtree codegens
    once — the single-projection form paid ~4s of one-time compile)."""
    from activity_files_spark.functions.text import text_profile

    docs = _read(spark, sf_dir, "documents", spread=True)
    return text_profile(docs, text_col="text", id_col="doc_id")


def _lang_quality_sql() -> str:
    from activity_files_spark.functions.text import (
        fingerprint_sql,
        lang_id_sql,
        quality_score_sql,
    )

    return f"""
    SELECT doc_id,
           {lang_id_sql('text')} AS lang_guess,
           {quality_score_sql('text')} AS quality,
           {fingerprint_sql('text')} AS fp
    FROM documents
    """


def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup mining at scale: every 4th vector gets a
    deterministic perturbed copy planted (±2% per element, id +1e6), then
    LSH-bucketed candidate pairs + exact cosine >= 0.99 recover exactly the
    planted pairs. The executed plan is an equi-join on (table, bucket) —
    no cartesian product (the brute all-pairs twin remains the pytest
    oracle). The DuckDB oracle replays the same plant and does the exact
    all-pairs threshold scan."""
    from activity_files_spark.operators.similarity import (
        as_double_vec,
        cosine_dup_pairs_lsh,
    )

    emb = _read(spark, sf_dir, "embeddings", spread=True).select(
        F.col("vec_id").alias("item_id"), as_double_vec(F.col("embedding")).alias("vec")
    )
    # perturbation factor 1 + 0.01*k, k = (id*7 + i) % 5 - 2 in {-2..2}
    # (i 0-based) — bit-identical to the oracle's list_transform twin
    pert = F.transform(
        F.col("vec"),
        lambda x, i: x
        * (
            F.lit(1.0)
            + F.lit(0.01)
            * (((F.col("item_id") * F.lit(7) + i.cast("long")) % 5) - 2).cast("double")
        ),
    )
    copies = emb.filter(F.col("item_id") % 4 == 0).select(
        (F.col("item_id") + F.lit(1000000)).alias("item_id"), pert.alias("vec")
    )
    items = emb.unionByName(copies)
    pairs = cosine_dup_pairs_lsh(items, threshold=0.99, i_id="item_id", vec="vec", dim=64)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("cos"), 9).alias("cos_sim")
    ).orderBy("id_a", "id_b")


def _embedding_dup_sql() -> str:
    return """
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cop AS (
      SELECT src_id + 1000000 AS id,
             list_transform(v, (x, i) -> x * (CAST(1.0 AS DOUBLE)
               + CAST(0.01 AS DOUBLE)
               * CAST((src_id*7 + (i-1)) % 5 - 2 AS DOUBLE))) AS v
      FROM (SELECT id AS src_id, v FROM e WHERE id % 4 = 0)
    ),
    allv AS (SELECT * FROM e UNION ALL SELECT * FROM cop),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      FROM allv a JOIN allv b ON a.id < b.id
    )
    SELECT id_a, id_b, ROUND(cos, 9) AS cos_sim
    FROM pairs WHERE cos >= CAST(0.99 AS DOUBLE)
    """


def lsh_ann_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via random-hyperplane LSH: multi-table (tbl, bucket)
    equi-join candidates + exact cosine rank within the candidate set.

    Oracle-exact: signatures are integer arithmetic (floor-quantized vectors
    × md5-derived integer hyperplanes), so the DuckDB twin replays every
    bucket assignment bit-for-bit via the same digit-polynomial trick as
    the MinHash oracle; pytest additionally pins recall >= 0.8 against the
    brute-force baseline."""
    from activity_files_spark.operators.similarity import as_double_vec, lsh_topk

    emb = _read(spark, sf_dir, "embeddings", spread=True).select(
        F.col("vec_id").alias("item_id"), as_double_vec(F.col("embedding")).alias("vec")
    )
    qs = emb.filter(F.col("item_id") < 10).select(
        F.col("item_id").alias("query_id"), "vec"
    )
    out = lsh_topk(qs, emb, k=5, dim=64, n_planes=4, n_tables=16, exclude_same_id=True)
    return out.select(
        "query_id", "item_id", "rank", F.round(F.col("cos"), 9).alias("cos_sim")
    )


def _lsh_ann_sql() -> str:
    """DuckDB twin of the LSH bucket assignment + candidate rank: replays
    the integer projections (w = md5_5hex(t:p:d) - 2^19, x = floor(v*1024),
    bit p = sign(sum x*w)) and the exact-cosine top-5 within candidates."""
    poly = " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (4 - i)}"
        for i in range(5)
    )
    return f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    plane_h AS (
      SELECT t.t, p.p, d.d,
             md5(CAST(t.t AS VARCHAR) || ':' || CAST(p.p AS VARCHAR)
                 || ':' || CAST(d.d AS VARCHAR)) AS h
      FROM (SELECT unnest(range(16)) AS t) t,
           (SELECT unnest(range(4)) AS p) p,
           (SELECT unnest(range(64)) AS d) d
    ),
    planes AS (SELECT t, p, d, ({poly}) - 524288 AS w FROM plane_h),
    comps AS (
      SELECT id, d.d AS d, CAST(floor(v[CAST(d.d AS INT) + 1] * 1024) AS BIGINT) AS x
      FROM e, (SELECT unnest(range(64)) AS d) d
    ),
    dots AS (
      SELECT c.id, pl.t, pl.p, SUM(c.x * pl.w) AS dot
      FROM comps c JOIN planes pl USING (d)
      GROUP BY c.id, pl.t, pl.p
    ),
    sigs AS (
      SELECT id, t,
             CAST(SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << p)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM dots GROUP BY id, t
    ),
    cand AS (
      -- Hamming-1 multiprobe: each query signature also probes its b
      -- single-bit-flip neighbor buckets (XOR masks 0,1,2,4,8)
      SELECT DISTINCT q.id AS query_id, i.id AS item_id
      FROM sigs q,
           (SELECT unnest([0, 1, 2, 4, 8]) AS m) probes,
           sigs i
      WHERE q.id < 10 AND i.id != q.id AND i.t = q.t
        AND i.bucket = xor(q.bucket, CAST(probes.m AS BIGINT))
    ),
    scored AS (
      SELECT c.query_id, c.item_id,
             list_dot_product(qe.v, ie.v)
               / (sqrt(list_dot_product(qe.v, qe.v))
                  * sqrt(list_dot_product(ie.v, ie.v))) AS cos
      FROM cand c
      JOIN e qe ON qe.id = c.query_id
      JOIN e ie ON ie.id = c.item_id
    )
    SELECT query_id, item_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, item_id) AS rank,
           ROUND(cos, 9) AS cos_sim
    FROM scored
    QUALIFY rank <= 5
    """


def ivf_ann_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN, driver-gated: items assign to their nearest coarse
    centroid, queries probe their 4 nearest lists, exact cosine ranks the
    top-5 inside the probed lists. Assignment is exact integer arithmetic
    (floor-quantized vectors x md5-derived integer centroids, ties to the
    lower centroid id), so the oracle replays every inverted-list
    membership and probe set bit-for-bit."""
    from activity_files_spark.operators.similarity import as_double_vec, ivf_topk

    emb = _read(spark, sf_dir, "embeddings", spread=True).select(
        F.col("vec_id").alias("item_id"), as_double_vec(F.col("embedding")).alias("vec")
    )
    qs = emb.filter(F.col("item_id") < 10).select(
        F.col("item_id").alias("query_id"), "vec"
    )
    out = ivf_topk(qs, emb, k=5, dim=64, n_centroids=16, n_probe=4,
                   exclude_same_id=True)
    return out.select(
        "query_id", "item_id", "rank", F.round(F.col("cos"), 9).alias("cos_sim")
    )


def _ivf_ann_sql() -> str:
    """DuckDB twin of the IVF assignment + probe + rank: integer centroid
    dots (w = md5_5hex('99:{c}:{d}') - 2^19, x = floor(v*1024)), items take
    the argmax list (ties -> lower id), queries probe the top 4."""
    poly = " + ".join(
        f"CAST(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (4 - i)}"
        for i in range(5)
    )
    return f"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent_h AS (
      SELECT c.c, d.d,
             md5('99:' || CAST(c.c AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)) AS h
      FROM (SELECT unnest(range(16)) AS c) c,
           (SELECT unnest(range(64)) AS d) d
    ),
    cents AS (SELECT c, d, ({poly}) - 524288 AS w FROM cent_h),
    comps AS (
      SELECT id, d.d AS d, CAST(floor(v[CAST(d.d AS INT) + 1] * 1024) AS BIGINT) AS x
      FROM e, (SELECT unnest(range(64)) AS d) d
    ),
    dots AS (
      SELECT co.id, ce.c, SUM(co.x * ce.w) AS dot
      FROM comps co JOIN cents ce USING (d)
      GROUP BY co.id, ce.c
    ),
    ranked AS (
      SELECT id, c,
             ROW_NUMBER() OVER (PARTITION BY id ORDER BY dot DESC, c) AS rn
      FROM dots
    ),
    item_assign AS (SELECT id, c FROM ranked WHERE rn = 1),
    probes AS (SELECT id, c FROM ranked WHERE rn <= 4 AND id < 10),
    cand AS (
      SELECT DISTINCT p.id AS query_id, i.id AS item_id
      FROM probes p JOIN item_assign i ON p.c = i.c
      WHERE i.id != p.id
    ),
    scored AS (
      SELECT c.query_id, c.item_id,
             list_dot_product(qe.v, ie.v)
               / (sqrt(list_dot_product(qe.v, qe.v))
                  * sqrt(list_dot_product(ie.v, ie.v))) AS cos
      FROM cand c
      JOIN e qe ON qe.id = c.query_id
      JOIN e ie ON ie.id = c.item_id
    )
    SELECT query_id, item_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, item_id) AS rank,
           ROUND(cos, 9) AS cos_sim
    FROM scored
    QUALIFY rank <= 5
    """


def trim_invalid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 trimInvalid on a deterministically-dirtied track: out-of-range
    rows injected every 50th id, Null Island every 83rd, sentinel elevation
    every 37th (cleared not dropped)."""
    from activity_files_spark.operators.normalize import trim_invalid

    ev = _read(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        F.when(F.col("event_id") % 50 == 0, 91.0)
        .when(F.col("event_id") % 83 == 0, 0.0)
        .otherwise(_lat_col()).alias("lat"),
        F.when(F.col("event_id") % 83 == 0, 0.0).otherwise(_lon_col()).alias("lon"),
        F.when(F.col("event_id") % 37 == 0, -500.0)
        .otherwise(F.lit(1600.0) + (F.col("event_id") % 100).cast("double")).alias("ele"),
    )
    return trim_invalid(pts)


def _trim_invalid_sql() -> str:
    return f"""
    WITH pts AS (
      SELECT event_id,
             CASE WHEN event_id % 50 = 0 THEN 91.0
                  WHEN event_id % 83 = 0 THEN 0.0
                  ELSE {LAT_EXPR_SQL} END AS lat,
             CASE WHEN event_id % 83 = 0 THEN 0.0 ELSE {LON_EXPR_SQL} END AS lon,
             CASE WHEN event_id % 37 = 0 THEN -500.0
                  ELSE 1600.0 + CAST(event_id % 100 AS DOUBLE) END AS ele
      FROM events
    )
    SELECT event_id, lat, lon,
           CASE WHEN ele <= -499.0 THEN NULL ELSE ele END AS ele
    FROM pts
    WHERE lat BETWEEN -90.0 AND 90.0 AND lon BETWEEN -180.0 AND 180.0
      AND NOT (abs(lat) < 1e-6 AND abs(lon) < 1e-6)
    """


def lap_splits_track(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 markLapsByDistance: 500 m distance-split sessionization per user."""
    from activity_files_spark.operators.windows import mark_laps_by_distance

    ev = _read(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    laps = mark_laps_by_distance(ev, split_m=500.0, key="user_id", ts="ts")
    return laps.select("user_id", "lap_id", "start_ts", "end_ts", "distance_m", "n_points")


def _lap_splits_sql() -> str:
    hs = haversine_sql("plat", "plon", "lat", "lon")
    return f"""
    WITH pts AS (
      SELECT event_id, user_id, ts, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events
    ),
    lagged AS (
      SELECT *, LAG(lat) OVER w AS plat, LAG(lon) OVER w AS plon
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    stepped AS (
      SELECT user_id, ts,
             CASE WHEN plat IS NULL THEN 0.0 ELSE {hs} END AS step
      FROM lagged
    ),
    cum AS (
      SELECT user_id, ts, step,
             SUM(greatest(step, 0.0)) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS c
      FROM stepped
    ),
    lapped AS (
      SELECT user_id, ts, step, c,
             CAST(FLOOR((c - greatest(step, 0.0)) / 500.0) AS INT) AS lap_id,
             MAX(c) OVER (PARTITION BY user_id) AS total
      FROM cum
    )
    SELECT user_id, lap_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts,
           ROUND(least((CAST(lap_id AS DOUBLE) + 1.0) * 500.0, ANY_VALUE(total))
                 - CAST(lap_id AS DOUBLE) * 500.0, 6) AS distance_m,
           COUNT(*) AS n_points
    FROM lapped GROUP BY user_id, lap_id
    """


def contiguous_group_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 FIT contiguous-group filter: keep each user's largest <=10-min-gap
    cluster of events (sessionize + top-1 by count, earliest wins ties)."""
    from activity_files_spark.operators.normalize import largest_contiguous_group

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = largest_contiguous_group(
        ev, key="user_id", max_gap_hours=1.0 / 6.0, tiebreak="event_id"
    )
    return out.select("event_id", "user_id")


def _contiguous_sql() -> str:
    return """
    WITH g AS (
      SELECT event_id, user_id, ts,
             CASE WHEN (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0 > 600.0
                  THEN 1 ELSE 0 END AS new_g
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    grp AS (
      SELECT event_id, user_id, ts,
             SUM(new_g) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS gid
      FROM g
    ),
    counts AS (
      SELECT user_id, gid, COUNT(*) AS cnt, MIN(ts) AS gts
      FROM grp GROUP BY user_id, gid
    ),
    best AS (
      SELECT user_id, gid FROM (
        SELECT user_id, gid,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY cnt DESC, gts ASC) AS rk
        FROM counts
      ) WHERE rk = 1
    )
    SELECT grp.event_id, grp.user_id
    FROM grp JOIN best ON grp.user_id = best.user_id AND grp.gid = best.gid
    """


def _dirty_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically-dirtied channel stream from events: hr values that
    sometimes exceed 260, power that dips negative, distance that is the raw
    (non-monotonic) value stream."""
    ev = _read(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").cast("string").alias("activity_id"),
        F.when(F.col("event_id") % 3 == 0, "heart_rate")
        .when(F.col("event_id") % 3 == 1, "power")
        .otherwise("distance").alias("channel"),
        F.col("ts"),
        F.when(F.col("event_id") % 3 == 0, F.col("value") * 8.0)
        .when(F.col("event_id") % 3 == 1, F.col("value") - 10.0)
        .otherwise(F.col("value")).alias("value"),
    )


_DIRTY_CH_SQL = """
      SELECT CAST(user_id AS VARCHAR) AS activity_id,
             CASE WHEN event_id % 3 = 0 THEN 'heart_rate'
                  WHEN event_id % 3 = 1 THEN 'power'
                  ELSE 'distance' END AS channel,
             ts,
             CASE WHEN event_id % 3 = 0 THEN value * 8.0
                  WHEN event_id % 3 = 1 THEN value - 10.0
                  ELSE value END AS value
      FROM events
"""


def validation_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 channel validation: diagnostic counts per (code, severity) over
    the dirtied channel stream (validation.dart:474-533 rules)."""
    from activity_files_spark.operators.validation import validate_channels

    diags = validate_channels(_dirty_channels(spark, sf_dir))
    return diags.groupBy("code", "severity").agg(F.count("*").alias("n"))


def _validation_sql() -> str:
    return f"""
    WITH ch AS ({_DIRTY_CH_SQL}),
    hr AS (
      SELECT 'validation.heart_rate_range' AS code, 'warning' AS severity, COUNT(*) AS n
      FROM ch WHERE channel = 'heart_rate' AND (value < 20 OR value > 260)
    ),
    pw AS (
      SELECT 'validation.power_negative', 'error', COUNT(*)
      FROM ch WHERE channel = 'power' AND value < 0
    ),
    dn AS (
      SELECT 'validation.distance_negative', 'error', COUNT(*)
      FROM ch WHERE channel = 'distance' AND value < 0
    ),
    dd AS (
      SELECT 'validation.distance_decreasing', 'warning', COUNT(*) FROM (
        SELECT value, LAG(value) OVER (PARTITION BY activity_id, channel ORDER BY ts) AS pv
        FROM ch WHERE channel = 'distance'
      ) WHERE value + 1e-9 < pv
    ),
    singles AS (
      SELECT 'validation.channel_single_sample', 'info', COUNT(*) FROM (
        SELECT activity_id, channel FROM ch GROUP BY activity_id, channel HAVING COUNT(*) = 1
      )
    )
    SELECT * FROM (
      SELECT * FROM hr UNION ALL SELECT * FROM pw UNION ALL SELECT * FROM dn
      UNION ALL SELECT * FROM dd UNION ALL SELECT * FROM singles
    ) t(code, severity, n)
    WHERE n > 0
    """


def session_summary_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 session summary per user over the derived track + value channel."""
    from activity_files_spark.operators.summary import session_summary

    ev = _read(spark, sf_dir, "events")
    pts = ev.select(
        F.col("user_id").cast("string").alias("activity_id"),
        F.col("event_id").alias("seq"), "ts",
        _lat_col().alias("lat"), _lon_col().alias("lon"),
    )
    ch = ev.select(
        F.col("user_id").cast("string").alias("activity_id"),
        F.lit("heart_rate").alias("channel"), "ts", "value",
    )
    out = session_summary(pts, channels=ch)
    return out.select(
        "activity_id", "start_ts", "end_ts", "n_points",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("avg_hr", 6).alias("avg_hr"),
        F.col("max_hr"),
    )


def _session_summary_sql() -> str:
    return """
    SELECT CAST(user_id AS VARCHAR) AS activity_id,
           MIN(ts) AS start_ts, MAX(ts) AS end_ts, COUNT(*) AS n_points,
           ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0, 6) AS duration_s,
           ROUND(AVG(value), 6) AS avg_hr,
           MAX(value) AS max_hr
    FROM events GROUP BY user_id
    """



def hex_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3-style hex ladder (res 6) rollup over the derived trackpoints —
    the hex twin of quadkey_cells."""
    from activity_files_spark.functions.hexgrid import hex_cell_col

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    enc = ev.withColumn("hex_id", hex_cell_col(F.col("lat"), F.col("lon"), 6))
    return enc.groupBy("hex_id").agg(
        F.count("*").alias("n_points"), F.min("event_id").alias("min_event_id")
    )


def _hex_cells_sql() -> str:
    from activity_files_spark.functions.hexgrid import hex_cell_sql

    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    )
    SELECT {hex_cell_sql('lat', 'lon', 6)} AS hex_id,
           COUNT(*) AS n_points, MIN(event_id) AS min_event_id
    FROM pts GROUP BY 1
    """


def geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash base-32 ladder (precision 6) rollup over the derived
    trackpoints — the third cell family next to quadkey_cells / hex_cells
    (functions/geohash.py: interchange format + free prefix res-ladder).
    Pure Column bit-interleave expression; scan -> groupBy, one shuffle."""
    from activity_files_spark.functions.geohash import geohash_col

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    enc = ev.withColumn("geohash", geohash_col(F.col("lat"), F.col("lon"), 6))
    return enc.groupBy("geohash").agg(
        F.count("*").alias("n_points"), F.min("event_id").alias("min_event_id")
    )


def _geohash_cells_sql() -> str:
    from activity_files_spark.functions.geohash import geohash_sql

    x, y, z, s = geohash_sql("lat", "lon", 6)
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ), xy AS (
      SELECT event_id, {x} AS gx, {y} AS gy FROM pts
    ), code AS (
      SELECT event_id, {z} AS gz FROM xy
    )
    SELECT {s} AS geohash, COUNT(*) AS n_points, MIN(event_id) AS min_event_id
    FROM code GROUP BY 1
    """


def s2_cells_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 cell ladder (level 12) rollup over the derived trackpoints — the
    fourth cell family and the second index the north rule names
    ("H3/S2-encoded"; functions/s2.py: cube face + quadratic s-t warp +
    Hilbert curve, prefix parents, curve-local layout keys).

    The cell id is computed in ONE Arrow-vectorized pandas UDF whose trig
    goes through scalar glibc libm (the s2.py exactness rule: numpy SIMD
    trig is ~1 ulp off the libm DuckDB links, JVM Math.cos likewise), so
    the oracle replays every bit.  The token ladder string is then pure
    Column work on the grouped (tiny) side.  Scan -> project -> groupBy:
    one shuffle; at 10^12 rows the same id doubles as the layout/bucket
    key, which is the point of Hilbert locality."""
    from activity_files_spark.functions.s2 import s2_cellid_np, s2_token_col

    @F.pandas_udf("long")
    def s2_id_udf(lat: pd.Series, lon: pd.Series) -> pd.Series:
        return pd.Series(
            s2_cellid_np(lat.to_numpy(), lon.to_numpy(), 12, trig="libm")
        )

    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    enc = ev.withColumn("s2_id", s2_id_udf("lat", "lon"))
    agg = enc.groupBy("s2_id").agg(
        F.count("*").alias("n_points"), F.min("event_id").alias("min_event_id")
    )
    return agg.withColumn("s2_token", s2_token_col(F.col("s2_id")))


def _s2_cells_sql() -> str:
    from activity_files_spark.functions.s2 import s2_sql_ctes, s2_token_sql

    ctes, final = s2_sql_ctes("lat", "lon", 12, "event_id", "pts")
    return f"""
    WITH pts AS (
      SELECT event_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    {ctes}
    SELECT s2_id, COUNT(*) AS n_points, MIN(event_id) AS min_event_id,
           {s2_token_sql('s2_id')} AS s2_token
    FROM {final} GROUP BY 1
    """


# ------------------------------------------------------------ image pipeline

N_IMAGES_CORRECTNESS = 200  # deterministic synthetic table size for oracles


def _lat_sql_img(i: str) -> str:
    return f"40.0 + CAST(({i}) % 1000 AS DOUBLE) * 0.0005"


def _lon_sql_img(i: str) -> str:
    return f"-105.0 - CAST(({i}) % 1000 AS DOUBLE) * 0.0005"


def tile_assign_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule tiling: each synthetic image lands in exactly one cell per
    ladder resolution {8, 10, 12}; oracle recomputes the ladder in SQL from
    the deterministic fixture grid."""
    from activity_files_spark.data.images import synth_images
    from activity_files_spark.operators.tiling import tile_assign

    imgs = synth_images(spark, N_IMAGES_CORRECTNESS, partitions=8)
    return tile_assign(imgs, resolutions=[8, 10, 12]).select(
        "image_id", "zoom", "cell_id", "quadkey"
    )


def _tile_assign_sql() -> str:
    parts = []
    for z in (8, 10, 12):
        x, y = tile_xy_sql("lat", "lon", z)
        digits = quadkey_digits_sql("qx", "qy", z)
        parts.append(
            f"SELECT image_id, {z} AS zoom, (qx << {z}) | qy AS cell_id, {digits} AS quadkey "
            f"FROM (SELECT image_id, {x} AS qx, {y} AS qy FROM pts)"
        )
    union = " UNION ALL ".join(parts)
    return f"""
    WITH pts AS (
      SELECT printf('img_%012d', i) AS image_id,
             {_lat_sql_img('i')} AS lat, {_lon_sql_img('i')} AS lon
      FROM range({N_IMAGES_CORRECTNESS}) t(i)
    )
    {union}
    """


def s2_tile_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-table twin of tile_assign on the S2 ladder: each synthetic
    image lands in exactly one Hilbert cell per level {8, 12}, rolled up
    per cell with image-index sums — the layout/rollup key a 10^12-image
    Iceberg table would bucket by (see the shuffle-free bucketed proof in
    tests/test_layout_parity.py). Cell ids at both levels come from the
    libm-exact numpy kernel (s2.py trig rule) chained behind the image
    generator, in one mapInPandas; the oracle replays the cube-face + s-t +
    Hilbert CTE chain from the deterministic fixture grid."""
    from activity_files_spark.data.images import synth_images
    from activity_files_spark.functions.s2 import s2_cellid_np, s2_token_col

    def cells(batches):
        for pdf in batches:
            lat, lon = pdf["lat"].to_numpy(), pdf["lon"].to_numpy()
            yield pd.concat([
                pd.DataFrame({
                    "level": lv,
                    "s2_id": s2_cellid_np(lat, lon, lv, trig="libm"),
                    "image_id": pdf["image_id"].to_numpy(),
                })
                for lv in (8, 12)
            ])

    un = synth_images(
        spark, N_IMAGES_CORRECTNESS, partitions=8,
        then=[Kernel(cells, "level int, s2_id long, image_id string")],
    )
    idx = F.substring("image_id", 5, 12).cast("long")
    agg = un.groupBy("level", "s2_id").agg(
        F.count("*").alias("n_images"), F.sum(idx).alias("img_idx_sum")
    )
    return agg.withColumn("s2_token", s2_token_col(F.col("s2_id")))


def _s2_tile_images_sql() -> str:
    from activity_files_spark.functions.s2 import s2_sql_ctes, s2_token_sql

    parts = []
    for lv in (8, 12):
        ctes, final = s2_sql_ctes("lat", "lon", lv, "img_i", "ipts", prefix=f"s2i{lv}")
        parts.append(
            (ctes, f"SELECT {lv} AS level, s2_id, img_i FROM {final}")
        )
    all_ctes = ",\n    ".join(p[0] for p in parts)
    union = " UNION ALL ".join(p[1] for p in parts)
    return f"""
    WITH ipts AS (
      SELECT i AS img_i, {_lat_sql_img('i')} AS lat, {_lon_sql_img('i')} AS lon
      FROM range({N_IMAGES_CORRECTNESS}) t(i)
    ),
    {all_ctes},
    assigned AS ({union})
    SELECT level, s2_id, COUNT(*) AS n_images, SUM(img_i) AS img_idx_sum,
           {s2_token_sql('s2_id')} AS s2_token
    FROM assigned GROUP BY 1, 2
    """


def image_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join of the image table against the tiny geofence set via the
    join-free expression-compiled path (spatial._rect_pip_expr): the rect
    table becomes a CASE-array projection — the right plan for image rows,
    whose decode cost dwarfs the per-row predicate, at any scale."""
    from activity_files_spark.data.images import synth_images
    from activity_files_spark.operators.spatial import rect_pip_join

    imgs = synth_images(spark, N_IMAGES_CORRECTNESS, partitions=8).select(
        "image_id", "lat", "lon"
    )
    j = rect_pip_join(imgs, GEOFENCES, expr_max_rects=16)
    return j.groupBy("geofence_id").agg(
        F.count("*").alias("n_images"),
        F.min("image_id").alias("first_image"),
    )


def _image_pip_sql() -> str:
    vals = ", ".join(f"('{g}', {w}, {e}, {s}, {n})" for g, w, e, s, n in GEOFENCES)
    return f"""
    WITH pts AS (
      SELECT printf('img_%012d', i) AS image_id,
             {_lat_sql_img('i')} AS lat, {_lon_sql_img('i')} AS lon
      FROM range({N_IMAGES_CORRECTNESS}) t(i)
    ), gf(geofence_id, lon_w, lon_e, lat_s, lat_n) AS (VALUES {vals})
    SELECT geofence_id, COUNT(*) AS n_images, MIN(image_id) AS first_image
    FROM pts JOIN gf
      ON lon >= lon_w AND lon <= lon_e AND lat >= lat_s AND lat <= lat_n
    GROUP BY geofence_id
    """


def image_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN: 3 nearest images per query point via cell-ring expansion."""
    from activity_files_spark.data.images import synth_images
    from activity_files_spark.operators.spatial import knn_join

    imgs = synth_images(spark, N_IMAGES_CORRECTNESS, partitions=8).select(
        F.col("image_id").alias("point_id"), "lat", "lon"
    )
    qs = spark.range(10).select(
        F.col("id").alias("query_id"),
        (F.lit(40.0) + (F.col("id") * 29 % 200).cast("double") * F.lit(0.0005)).alias("lat"),
        (F.lit(-105.0) - (F.col("id") * 31 % 200).cast("double") * F.lit(0.0005)).alias("lon"),
    )
    out = knn_join(qs, imgs, k=3, z=14, q_id="query_id", p_id="point_id")
    return out.select("query_id", "point_id", "rank")


def _image_knn_sql() -> str:
    hs = haversine_sql("q.lat", "q.lon", "p.lat", "p.lon")
    return f"""
    WITH p AS (
      SELECT printf('img_%012d', i) AS point_id,
             {_lat_sql_img('i')} AS lat, {_lon_sql_img('i')} AS lon
      FROM range({N_IMAGES_CORRECTNESS}) t(i)
    ), q AS (
      SELECT i AS query_id,
             40.0 + CAST((i * 29) % 200 AS DOUBLE) * 0.0005 AS lat,
             -105.0 - CAST((i * 31) % 200 AS DOUBLE) * 0.0005 AS lon
      FROM range(10) t(i)
    )
    SELECT query_id, point_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {hs}, point_id) AS rank
    FROM q JOIN p ON true
    QUALIFY rank <= 3
    """


def validate_images_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PIXEL half of the per-row image invariants (decode + PSNR>=40dB
    + phash-from-decoded-pixels) rolled up per fmt. Genuinely not
    SQL-expressible (codec decode) — the driver records a rows-only check;
    pytest pins the per-row semantics. The SQL-replayable half (caption
    equality, dimensions, phash presence) is hash-gated separately by
    :func:`image_invariants_summary`."""
    from activity_files_spark.data.images import IMAGE_SCHEMA, synth_images
    from activity_files_spark.operators.tiling import validate_images_kernel

    diag = synth_images(
        spark, N_IMAGES_CORRECTNESS, partitions=8,
        then=[validate_images_kernel(IMAGE_SCHEMA)],
    )
    return diag.groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).alias("n_ok"),
        F.round(F.min("psnr_db"), 3).alias("min_psnr_db"),
    )


def image_histogram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixel-level gate on the LOSSLESS codec chain: decode every png/bmp
    fixture's real bytes in an Arrow kernel (tiling.image_channel_stats)
    and pin per-(image, channel) histogram stats — count, distinct values,
    value sum, min/max, deterministic mode. The synth sawtooth is exact
    modular arithmetic, so the DuckDB oracle replays the FORMULA
    ((y*cy + x*cx + i*ci) mod 256 over the pixel grid) with no decoder at
    all: encode -> PNG/BMP bitstream -> decode must reproduce the closed
    form bit-for-bit to hash-match."""
    from activity_files_spark.data.images import IMAGE_SCHEMA, synth_images
    from activity_files_spark.operators.tiling import image_channel_stats_kernel

    def lossless(batches):  # SQL's fmt != 'jpeg': a null fmt is dropped too
        for pdf in batches:
            yield pdf[pdf["fmt"].notna() & (pdf["fmt"] != "jpeg")]

    return synth_images(
        spark, N_IMAGES_CORRECTNESS, partitions=8,
        then=[Kernel(lossless, IMAGE_SCHEMA), image_channel_stats_kernel()],
    )


def _image_histogram_sql() -> str:
    n = N_IMAGES_CORRECTNESS
    return f"""
    WITH imgs AS (
      SELECT i,
             CASE WHEN i % 3 = 0 THEN 16 ELSE 32 END AS w,
             CASE WHEN i % 3 = 0 THEN 16 ELSE 32 END AS h
      FROM range({n}) t(i) WHERE i % 3 <> 2
    ), chans(c, cx, cy, ci) AS (
      VALUES (0, 3, 5, 7), (1, 7, 11, 13), (2, 13, 17, 19)
    ), pix AS (
      SELECT i, c, ((y * cy + x * cx + i * ci) % 256) AS val
      FROM imgs, chans, range(32) ty(y), range(32) tx(x)
      WHERE x < w AND y < h
    ), hist AS (
      SELECT i, c, val, COUNT(*) AS nv FROM pix GROUP BY 1, 2, 3
    ), md AS (
      SELECT i, c, val AS mode_val, nv AS mode_n FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY i, c ORDER BY nv DESC, val ASC) AS rn
        FROM hist
      ) t WHERE rn = 1
    )
    SELECT printf('img_%012d', s.i) AS image_id, CAST(s.c AS INTEGER) AS channel,
           s.n_px, s.n_distinct, s.val_sum,
           CAST(s.min_val AS INTEGER) AS min_val,
           CAST(s.max_val AS INTEGER) AS max_val,
           CAST(md.mode_val AS INTEGER) AS mode_val, md.mode_n
    FROM (
      SELECT i, c, CAST(SUM(nv) AS BIGINT) AS n_px,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(nv * val) AS BIGINT) AS val_sum,
             MIN(val) AS min_val, MAX(val) AS max_val
      FROM hist GROUP BY 1, 2
    ) s JOIN md ON md.i = s.i AND md.c = s.c
    """


def image_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GIF89a codec (codecs/gif.py — real CompuServe container: LZW
    dictionary stream, variable 9->12-bit codes, sub-block framing,
    gray palette) driven end-to-end: synthesize the deterministic gray
    sawtooth per row, encode (even rows dictionary-LZW, odd rows the
    vectorized all-literal fast path), decode the container back, and pin
    exact value + POSITION aggregates of the decoded pixels. The formula
    is modular arithmetic, so the DuckDB oracle replays every aggregate
    closed-form with no decoder at all; ``lossless`` must be uniformly
    TRUE (palette-indexed gray is exact by construction)."""
    from activity_files_spark.operators.tiling import gif_roundtrip_stats

    ids = spark.range(0, N_IMAGES_CORRECTNESS, 1, 8).select(F.col("id").alias("i"))
    out = gif_roundtrip_stats(ids)
    return out.select(
        "image_id", "w", "h", "n_px", "val_sum", "moment", "lossless"
    ).orderBy("image_id")


def _image_gif_sql() -> str:
    n = N_IMAGES_CORRECTNESS
    return f"""
    WITH imgs AS (
      SELECT i, 24 + (i % 5) * 8 AS w, 16 + (i % 3) * 16 AS h
      FROM range({n}) t(i)
    ), pix AS (
      SELECT i, w, h, ((3 * x + 5 * y + 7 * i) % 256) AS val,
             (y * w + x + 1) AS pos
      FROM imgs, range(48) ty(y), range(56) tx(x)
      WHERE x < w AND y < h
    )
    SELECT printf('gif_%06d', i) AS image_id,
           CAST(w AS INTEGER) AS w, CAST(h AS INTEGER) AS h,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(val) AS BIGINT) AS val_sum,
           CAST(SUM(val * pos) AS BIGINT) AS moment,
           TRUE AS lossless
    FROM pix GROUP BY i, w, h ORDER BY image_id
    """


def image_invariants_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-replayable half of validate_images, hash-gated: the
    validator kernel's caption-equality verdicts plus dimension and
    phash-presence counts per fmt, with min/max caption strings so the
    oracle re-derives the CONTENT (the caption embeds the z12 quadkey,
    replayed through the quadkey SQL twin) — not just the counts."""
    from activity_files_spark.data.images import IMAGE_SCHEMA, synth_images
    from activity_files_spark.operators.tiling import validate_images_kernel

    diag = synth_images(
        spark, N_IMAGES_CORRECTNESS, partitions=8,
        then=[validate_images_kernel(
            IMAGE_SCHEMA, passthrough=("caption", "w", "h", "phash"))],
    )
    return diag.groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.sum(F.when(F.col("caption_ok"), 1).otherwise(0)).alias("n_caption_ok"),
        F.sum(F.col("w").cast("long") * F.col("h").cast("long")).alias("sum_pixels"),
        F.sum(F.when(F.col("phash").isNotNull(), 1).otherwise(0)).alias("n_phash_present"),
        F.min("caption").alias("min_caption"),
        F.max("caption").alias("max_caption"),
    )


def _image_invariants_sql() -> str:
    x, y = tile_xy_sql("lat", "lon", 12)
    digits = quadkey_digits_sql("qx", "qy", 12)
    return f"""
    WITH base AS (
      SELECT i, printf('img_%012d', i) AS image_id,
             {_lat_sql_img('i')} AS lat, {_lon_sql_img('i')} AS lon,
             CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp' ELSE 'jpeg' END AS fmt,
             CASE i % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END AS w,
             CASE i % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 48 END AS h
      FROM range({N_IMAGES_CORRECTNESS}) t(i)
    ),
    q AS (SELECT *, {x} AS qx, {y} AS qy FROM base),
    cap AS (
      SELECT fmt, w, h,
             'caption for ' || image_id || ' at cell ' || {digits} AS caption
      FROM q
    )
    SELECT fmt, COUNT(*) AS n_images,
           COUNT(*) AS n_caption_ok,
           CAST(SUM(CAST(w AS BIGINT) * h) AS BIGINT) AS sum_pixels,
           COUNT(*) AS n_phash_present,
           MIN(caption) AS min_caption,
           MAX(caption) AS max_caption
    FROM cap GROUP BY fmt
    """


def _activity_events(spark: SparkSession, sf_dir: str, *cols) -> DataFrame:
    """The events as one activity per user (``activity_id`` = ``u<user_id>``)
    with the derived lat/lon, the input of the codec round-trip queries."""
    return _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id")).alias("activity_id"),
        *cols, "event_id", "ts",
        _lat_col().alias("lat"), _lon_col().alias("lon"),
    )


def _metric_aggs():
    """Per-activity point count plus the count and sum of the round-tripped
    ``custom_metric`` channel values."""
    is_metric = (F.col("kind") == "channel") & (F.col("channel") == "custom_metric")
    return [
        F.count(F.when(F.col("kind") == "point", 1)).alias("n_points"),
        F.count(F.when(is_metric, 1)).alias("n_channels"),
        F.sum(F.when(is_metric, F.col("value"))).alias("sum_metric"),
    ]


def _roundtrip_metric():
    """Exact 1/16-multiple channel value derived from the floored epoch —
    survives both FIT float64 dev fields and GPX %g text bit-exactly."""
    from activity_files_spark.functions.time import ts_seconds

    return ((F.floor(ts_seconds(F.col("ts"))).cast("long") % 1000)
            .cast("double") / F.lit(16.0))


def _metric_track(ev: DataFrame) -> DataFrame:
    """Record stream of one point (seq = event_id) and one ``custom_metric``
    channel sample per event: the track of the FIT and GPX round-trips."""
    from activity_files_spark.sources.records import as_records

    points = as_records(ev.select(
        "activity_id", F.col("event_id").alias("seq"), "ts", "lat", "lon",
    ), "point")
    return points.unionByName(as_records(ev.select(
        "activity_id", "ts",
        F.lit("custom_metric").alias("channel"), _roundtrip_metric().alias("value"),
    ), "channel"))


def fit_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S9 FIT full-profile round-trip, driver-gated: per user, build a
    synthetic activity from the events table (points + a developer-field
    channel + swim lengths + strength sets, all derived arithmetically from
    event_id/ts), encode it to REAL FIT binary (fit_encode_records), decode
    it back (decode_records), and aggregate counts/sums of what survived. The
    oracle computes the same aggregates directly from the arithmetic — so a
    hash match proves the binary encoder/decoder round-trips every record
    kind bit-exactly (dev-field float64s, scale-16 weights, stroke enums).

    Derivations (all engine-portable integer/double ops):
      value  = floor(epoch(ts)) % 1000 / 16   (exact multiples of 1/16)
      length for event_id % 5 == 0: strokes = event_id % 40, stroke id % 7
      set    for event_id % 7 == 0: reps = event_id % 20,
                                    weight = (event_id % 160) / 16
    """
    from activity_files_spark.sources.decode import decode_records_kernel
    from activity_files_spark.sources.fit import fit_encode_records
    from activity_files_spark.sources.records import as_records

    ev = _activity_events(spark, sf_dir)
    lengths = as_records(ev.filter(F.col("event_id") % 5 == 0).select(
        "activity_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 SECONDS")).alias("end_ts"),
        F.create_map(
            F.lit("total_elapsed_s"), F.lit("30.0"),
            F.lit("total_strokes"), (F.col("event_id") % 40).cast("string"),
            F.lit("swim_stroke"), (F.col("event_id") % 7).cast("string"),
            F.lit("length_type"), F.lit("1"),
        ).alias("attrs"),
    ), "length")
    sets = as_records(ev.filter(F.col("event_id") % 7 == 0).select(
        "activity_id", F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 45 SECONDS")).alias("end_ts"),
        F.create_map(
            F.lit("duration_s"), F.lit("45.0"),
            F.lit("repetitions"), (F.col("event_id") % 20).cast("string"),
            F.lit("weight_kg"),
            ((F.col("event_id") % 160).cast("double") / F.lit(16.0)).cast("string"),
            F.lit("set_type"), F.lit("1"),
            F.lit("category"), (F.col("event_id") % 30).cast("string"),
        ).alias("attrs"),
    ), "set")
    recs = _metric_track(ev).unionByName(lengths).unionByName(sets)
    back = fit_encode_records(recs, then=[decode_records_kernel("fit")])
    agg = back.groupBy("activity_id").agg(
        *_metric_aggs(),
        F.count(F.when(F.col("kind") == "length", 1)).alias("n_lengths"),
        F.sum(F.when(F.col("kind") == "length",
                     F.col("attrs")["total_strokes"].cast("long")))
        .cast("long").alias("sum_strokes"),
        F.count(F.when(F.col("kind") == "set", 1)).alias("n_sets"),
        F.sum(F.when(F.col("kind") == "set",
                     F.col("attrs")["repetitions"].cast("long")))
        .cast("long").alias("sum_reps"),
        F.sum(F.when(F.col("kind") == "set",
                     F.col("attrs")["weight_kg"].cast("double"))).alias("sum_weight"),
    )
    return agg.select(
        _user_id_of("activity_id"),
        "n_points", "n_channels", "sum_metric", "n_lengths", "sum_strokes",
        "n_sets", "sum_reps", "sum_weight",
    )


def _fit_roundtrip_sql() -> str:
    return """
    SELECT user_id,
           COUNT(*) AS n_points,
           COUNT(*) AS n_channels,
           SUM(CAST((epoch_us(ts) // 1000000) % 1000 AS DOUBLE)
               / CAST(16.0 AS DOUBLE)) AS sum_metric,
           COUNT(*) FILTER (event_id % 5 = 0) AS n_lengths,
           CAST(SUM(event_id % 40) FILTER (event_id % 5 = 0) AS BIGINT) AS sum_strokes,
           COUNT(*) FILTER (event_id % 7 = 0) AS n_sets,
           CAST(SUM(event_id % 20) FILTER (event_id % 7 = 0) AS BIGINT) AS sum_reps,
           SUM(CAST(event_id % 160 AS DOUBLE) / CAST(16.0 AS DOUBLE))
               FILTER (event_id % 7 = 0) AS sum_weight
    FROM events GROUP BY user_id
    """


def stream_sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 driver-gated STRUCTURED STREAMING query: the events parquet is
    ingested through readStream (file source, bounded triggers), session-
    windowed per user (30-min gap, 1-h watermark, exact decimal value sum),
    and drained with trigger(availableNow) into a memory sink — a real
    incremental execution, not a batch re-expression. The oracle replays
    the session-window semantics in SQL: a new session starts when the gap
    from the previous event is >= 30 min (session_window merges on strict
    window OVERLAP, so an exactly-30-min gap closes the session — note the
    boundary differs from the batch sessionize_users query's > rule), and
    session_end is last event + gap."""
    from activity_files_spark.streaming.stream_ops import stream_sessionize

    src = _events_stream(spark, sf_dir)
    agg = stream_sessionize(src, gap="30 minutes", watermark="1 hour",
                            exact_sum=True)
    return _drain(spark, agg, "stream_sessions", "complete").select(
        "user_id", "session_start", "session_end", "n_events", "sum_value"
    )


def _stream_sessionize_sql() -> str:
    return """
    WITH g AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN (epoch_us(ts) - epoch_us(LAG(ts) OVER w)) / 1000000.0
                       >= 1800.0
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM g
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, sid
    """


def stream_tile_rollup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 INCREMENTAL TILING ROLLUP, driver-gated: events stream through
    readStream, each point is z12 quadkey-cell encoded with the native
    packed-cell expression, and a watermarked 1-hour tumbling window
    counts points per (window, cell) — the streaming twin of the
    north-star tile rollup, drained via trigger(availableNow). The oracle
    replays the epoch-aligned hour bucket (date_trunc) and the integer
    tile math through the quadkey SQL twin, so a hash match proves the
    windowed incremental aggregation matches the batch formula exactly."""
    from activity_files_spark.streaming.stream_ops import stream_cell_histogram

    src = _events_stream(spark, sf_dir)
    pts = src.select(
        "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    roll = stream_cell_histogram(pts, z=12, watermark="1 hour")
    return _drain(spark, roll, "stream_tiles", "complete").select(
        "window_start", "cell_id", "n_points"
    )


def _stream_tile_rollup_sql() -> str:
    x, y = tile_xy_sql("lat", "lon", 12)
    return f"""
    WITH pts AS (
      SELECT ts, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ), tiles AS (
      SELECT date_trunc('hour', ts) AS window_start,
             ({x} << 12) | ({y}) AS cell_id
      FROM pts
    )
    SELECT window_start, cell_id, COUNT(*) AS n_points
    FROM tiles GROUP BY window_start, cell_id
    """


def hamming_near_dups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-Hamming near-duplicate mining over 64-bit codes (the
    simhash / image-phash dedup shape), driver-gated with EXACT recall:
    each document gets a deterministic 60-bit md5-derived code; planted
    twins flip 1 bit (every doc), 3 bits (doc_id % 5 == 0) and 4 bits
    (doc_id % 7 == 0, beyond the threshold) via OR-of-shifts masks. The
    operator (operators/dedup.py hamming_near_dup_pairs) splits codes
    into 4 x 16-bit bands — pigeonhole guarantees any pair <= 3 bits
    apart collides on an intact band — equi-joins candidates, dedups
    bare id pairs, and verifies with native bit_count. The oracle
    replays codes by digit polynomial and brute-forces all pairs with
    the same XOR/popcount — every found pair, missed pair, and distance
    value is bit-exact."""
    from activity_files_spark.operators.dedup import hamming_near_dup_pairs

    allc = _hamming_corpus(spark, sf_dir)
    return hamming_near_dup_pairs(
        allc, code_col="code", id_col="doc_id", max_hamming=3, n_bands=4
    )


def _hamming_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The planted-twin hamming corpus (doc_id, code) — Spark twin of
    :func:`_hamming_corpus_cte`."""
    from activity_files_spark.operators.dedup import md5_prefix_long

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", md5_prefix_long(F.col("text")).alias("code")
    )
    did = F.col("doc_id")

    def bit(shift_sql: str):
        # PySpark's shiftleft wrapper only takes a literal bit count; the
        # SQL function accepts a column expression
        return F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(({shift_sql}) % 60 AS INT))")

    m1 = bit("doc_id")
    m3 = m1.bitwiseOR(bit("doc_id * 7 + 13")).bitwiseOR(bit("doc_id * 31 + 29"))
    m4 = m3.bitwiseOR(bit("doc_id * 17 + 41"))
    twins1 = docs.select(
        (did + 1000000).alias("doc_id"), F.col("code").bitwiseXOR(m1).alias("code")
    )
    twins3 = docs.filter(did % 5 == 0).select(
        (did + 2000000).alias("doc_id"), F.col("code").bitwiseXOR(m3).alias("code")
    )
    twins4 = docs.filter(did % 7 == 0).select(
        (did + 3000000).alias("doc_id"), F.col("code").bitwiseXOR(m4).alias("code")
    )
    return docs.unionByName(twins1).unionByName(twins3).unionByName(twins4)


def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS — the last stage a deduplicating writer needs:
    the banded-Hamming pair miner's edges (independently oracled by
    hamming_near_dups_docs) are closed into connected components
    (operators/graph.py: min-label propagation + pointer jumping,
    schedule-independent fixpoint), and each cluster reports its
    canonical representative (min doc_id), member count, and exact
    member-id sum. The oracle replays the mining AND the closure — a
    WITH RECURSIVE transitive min-label reach — so every cluster
    assignment is hash-gated."""
    from activity_files_spark.operators.dedup import hamming_near_dup_pairs
    from activity_files_spark.operators.graph import connected_components

    allc = _hamming_corpus(spark, sf_dir)
    pairs = hamming_near_dup_pairs(
        allc, code_col="code", id_col="doc_id", max_hamming=3, n_bands=4
    )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return cc.groupBy(F.col("component").alias("canonical_id")).agg(
        F.count("*").alias("n_members"),
        F.sum("node").cast("long").alias("sum_member_id"),
    )


def _dedup_clusters_sql() -> str:
    from activity_files_spark.operators.graph import connected_components_sql

    closure = connected_components_sql("pairs")
    return f"""
    WITH RECURSIVE {_hamming_corpus_cte()},
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM allc a JOIN allc b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.code, b.code)) <= 3
    ),
    {closure}
    SELECT component AS canonical_id, COUNT(*) AS n_members,
           CAST(SUM(node) AS BIGINT) AS sum_member_id
    FROM cc_labels GROUP BY component
    """


def _hamming_corpus_cte() -> str:
    """CTE body (base/m/allc) for the planted-twin hamming corpus — shared
    by the pair-mining oracle and the dedup-cluster oracle."""
    from activity_files_spark.operators.dedup import md5_prefix_long_sql

    code = md5_prefix_long_sql("text")
    return f"""
    base AS (SELECT doc_id, {code} AS code FROM documents),
    m AS (
      SELECT doc_id, code,
             (1::BIGINT << (doc_id % 60)) AS b1,
             (1::BIGINT << ((doc_id * 7 + 13) % 60)) AS b2,
             (1::BIGINT << ((doc_id * 31 + 29) % 60)) AS b3,
             (1::BIGINT << ((doc_id * 17 + 41) % 60)) AS b4
      FROM base
    ),
    allc AS (
      SELECT doc_id, code FROM base
      UNION ALL
      SELECT doc_id + 1000000, xor(code, b1) FROM m
      UNION ALL
      SELECT doc_id + 2000000, xor(code, b1 | b2 | b3) FROM m WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 3000000, xor(code, b1 | b2 | b3 | b4) FROM m WHERE doc_id % 7 = 0
    )"""


def _hamming_near_dups_sql() -> str:
    return f"""
    WITH {_hamming_corpus_cte()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.code, b.code)) AS INT) AS hamming
    FROM allc a JOIN allc b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.code, b.code)) <= 3
    """


def simhash_near_dups_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END text near-dup mining, driver-gated: simhash64 signatures
    (Arrow bit-vote kernels, exact integer majority votes) feed the
    banded-Hamming pair miner — the production-shape composition of two
    independently-oracled operators. The documents table carries planted
    near-duplicate pairs (small edits), whose simhashes land within a few
    bits while unrelated docs sit ~30 bits apart. The oracle recomputes
    every signature with the SQL majority-vote twin and brute-forces all
    pairs with the same XOR/popcount, so every surfaced pair and distance
    is bit-exact."""
    from activity_files_spark.operators.dedup import (
        hamming_near_dup_pairs,
        simhash64,
    )

    docs = _read(spark, sf_dir, "documents", spread=True)
    codes = simhash64(docs, text_col="text", id_col="doc_id")
    return hamming_near_dup_pairs(
        codes, code_col="simhash", id_col="doc_id",
        max_hamming=3, n_bands=4,
    )


def _simhash_near_dups_sql() -> str:
    sim = _simhash_sql().strip()
    return f"""
    WITH sims AS ({sim})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


def merge_upsert_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style MERGE/upsert, driver-gated: target = even events,
    source = every-3rd events with doubled value; matched rows are replaced,
    new rows inserted, unmatched target kept (single equi-join shuffle —
    the copy-on-write MERGE plan). Per-user row count + exact decimal sum."""
    from activity_files_spark.operators.upsert import merge_upsert

    ev = _read(spark, sf_dir, "events").select("event_id", "user_id", "value")
    target = ev.filter(F.col("event_id") % 2 == 0)
    source = ev.filter(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * F.lit(2.0)
    )
    merged = merge_upsert(target, source, keys=["event_id"], when_matched="update")
    return merged.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        _dec_sum(F.col("value")).alias("sum_value"),
    )


def _merge_upsert_sql() -> str:
    return """
    WITH target AS (
      SELECT event_id, user_id, value FROM events WHERE event_id % 2 = 0
    ),
    source AS (
      SELECT event_id, user_id, value * CAST(2.0 AS DOUBLE) AS value
      FROM events WHERE event_id % 3 = 0
    ),
    merged AS (
      SELECT t.* FROM target t
      WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.event_id = t.event_id)
      UNION ALL SELECT * FROM source
    )
    SELECT user_id, COUNT(*) AS n_rows,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
    FROM merged GROUP BY user_id
    """


def gpx_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S7 GPX full-document round-trip, driver-gated: per user, build a
    synthetic activity from events (track points + a custom TPX channel +
    waypoints + a route), encode it to REAL GPX XML (gpx_encode_records),
    parse it back (decode_records), and aggregate what survived. The oracle
    computes the same aggregates arithmetically, so a hash match proves the
    XML encoder/parser round-trips points, channels (%g-formatted exact
    1/16-multiples), waypoints, and <rte> routes.

    Derivations: channel value = floor(epoch(ts)) % 1000 / 16 (<= 6
    significant digits -> %g prints and float() reparses bit-exactly);
    waypoint for event_id % 9 == 0; route point for event_id % 6 == 0.
    """
    from activity_files_spark.sources.decode import decode_records_kernel
    from activity_files_spark.sources.gpx import gpx_encode_records
    from activity_files_spark.sources.records import as_records

    ev = _activity_events(spark, sf_dir)
    wpts = as_records(ev.filter(F.col("event_id") % 9 == 0).select(
        "activity_id", F.col("event_id").alias("seq"), "ts", "lat", "lon",
        F.create_map(F.lit("name"),
                     F.concat(F.lit("wp_"), F.col("event_id"))).alias("attrs"),
    ), "waypoint")
    rpts = as_records(ev.filter(F.col("event_id") % 6 == 0).select(
        "activity_id", F.col("event_id").alias("seq"),
        F.lit(0).cast("int").alias("lap_id"), "lat", "lon",
    ), "route_point")
    routes = as_records(ev.select("activity_id").distinct().select(
        "activity_id", F.lit(0).cast("int").alias("lap_id"),
        F.create_map(F.lit("name"), F.lit("planned")).alias("attrs"),
    ), "route")
    recs = _metric_track(ev).unionByName(wpts).unionByName(rpts).unionByName(routes)
    back = gpx_encode_records(
        recs, then=[decode_records_kernel("gpx", payload_col="xml")])
    agg = back.groupBy("activity_id").agg(
        *_metric_aggs(),
        F.count(F.when(F.col("kind") == "waypoint", 1)).alias("n_waypoints"),
        F.count(F.when(F.col("kind") == "route_point", 1)).alias("n_route_points"),
        F.count(F.when(F.col("kind") == "route", 1)).alias("n_routes"),
    )
    return agg.select(
        _user_id_of("activity_id"),
        "n_points", "n_channels", "sum_metric", "n_waypoints",
        "n_route_points", "n_routes",
    )


def _gpx_roundtrip_sql() -> str:
    return """
    SELECT user_id,
           COUNT(*) AS n_points,
           COUNT(*) AS n_channels,
           SUM(CAST((epoch_us(ts) // 1000000) % 1000 AS DOUBLE)
               / CAST(16.0 AS DOUBLE)) AS sum_metric,
           COUNT(*) FILTER (event_id % 9 = 0) AS n_waypoints,
           COUNT(*) FILTER (event_id % 6 = 0) AS n_route_points,
           CAST(1 AS BIGINT) AS n_routes
    FROM events GROUP BY user_id
    """


def edit_pipeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F3 + pause time-edits, driver-gated as one composed chain:
    crop [Jan 3, Jan 28] -> deleteRange [Jan 10, Jan 12] (timeline gap
    KEPT) -> removePause [Jan 20, Jan 22) (gap CLOSED: later rows shift
    2 days earlier) -> insertPause at Jan 25 (+1 h). The aggregate includes
    the exact epoch-microsecond sum of the final timestamps, so every
    retained row AND every time shift must match the SQL replay exactly
    (raw_editor.dart:201-241, 367-405, 412-503)."""
    from activity_files_spark.operators.normalize import (
        crop,
        delete_range,
        insert_pause,
        remove_pause,
    )

    ev = _read(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    x = crop(ev, "2024-01-03 00:00:00", "2024-01-28 00:00:00")
    x = delete_range(x, "2024-01-10 00:00:00", "2024-01-12 00:00:00")
    # boundary parity (raw_editor.dart:407-503): removePause drops STRICTLY
    # inside (from,to) and shifts >= to; insertPause shifts STRICTLY after at
    x = remove_pause(x, "2024-01-20 00:00:00", "2024-01-22 00:00:00")
    x = insert_pause(x, "2024-01-25 00:00:00", 3600.0)
    return x.groupBy("user_id").agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        F.sum(F.unix_micros(F.col("ts").cast("timestamp_ltz")))
        .cast("long").alias("sum_ts_us"),
    )


def _edit_pipeline_sql() -> str:
    return """
    WITH cropped AS (
      SELECT user_id, event_id, ts FROM events
      WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
        AND ts <= TIMESTAMP '2024-01-28 00:00:00'
    ),
    deleted AS (
      SELECT * FROM cropped
      WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
         OR ts > TIMESTAMP '2024-01-12 00:00:00'
    ),
    nopause AS (
      SELECT user_id, event_id,
             CASE WHEN ts >= TIMESTAMP '2024-01-22 00:00:00'
                  THEN ts - INTERVAL 172800 SECONDS ELSE ts END AS ts
      FROM deleted
      WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
         OR ts >= TIMESTAMP '2024-01-22 00:00:00'
    ),
    shifted AS (
      SELECT user_id, event_id,
             CASE WHEN ts > TIMESTAMP '2024-01-25 00:00:00'
                  THEN ts + INTERVAL 3600 SECONDS ELSE ts END AS ts
      FROM nopause
    )
    SELECT user_id, COUNT(*) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(epoch_us(ts)) AS BIGINT) AS sum_ts_us
    FROM shifted GROUP BY user_id
    """


def point_edit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's point-level editing API (raw_editor.dart:244-365:
    shiftTime / insertPoint / deletePointAt / updatePoint), driver-gated as
    one composed chain over per-user point lists (seq = 0-based list
    position). Chain: shiftTime(+1h, everything moves) -> insertPoint at a
    mid-track time (lands at the FIRST seq whose ts is strictly later, list
    positions above shift up, no re-sort) -> updatePoint(seq 3: new lat AND
    new ts, so the list re-sorts and renumbers; lon preserved) ->
    deletePointAt(0) (positions close up). The aggregate pins the exact
    epoch-µs sum, exact µ-degree coordinate sums, and the exact seq sum, so
    every insertion index, renumber, and shift must match the SQL replay."""
    from activity_files_spark.operators.normalize import (
        delete_point_at,
        insert_point,
        shift_time,
        update_point,
    )

    ev = _read(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    pts = ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("activity_id"),
        "ts",
        (F.lit(40.0) + (F.col("event_id") % 7).cast("double") * F.lit(0.0005)).alias("lat"),
        (F.lit(-105.0) + (F.col("event_id") % 5).cast("double") * F.lit(0.001)).alias("lon"),
        (
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ).cast("long") - F.lit(1)
        ).alias("seq"),
    )
    x = shift_time(pts, 3600.0)
    x = insert_point(
        x, {"ts": "2024-01-15 12:00:00", "lat": 40.1234, "lon": -105.4321}
    )
    x = update_point(
        x, 3, lat=41.5, ts="2024-01-02 00:00:00", strict=False
    )
    x = delete_point_at(x, 0, strict=False)
    return x.groupBy("activity_id").agg(
        F.count("*").alias("n_points"),
        F.sum(F.unix_micros(F.col("ts").cast("timestamp_ltz")))
        .cast("long").alias("sum_ts_us"),
        F.sum(F.round(F.col("lat") * F.lit(1e6), 0).cast("long"))
        .cast("long").alias("sum_lat_udeg"),
        F.sum(F.round(F.col("lon") * F.lit(1e6), 0).cast("long"))
        .cast("long").alias("sum_lon_udeg"),
        F.sum("seq").cast("long").alias("sum_seq"),
    ).select(
        _user_id_of("activity_id"),
        "n_points", "sum_ts_us", "sum_lat_udeg", "sum_lon_udeg", "sum_seq",
    )


def _point_edit_sql() -> str:
    return """
    WITH pts AS (
      SELECT user_id,
             ts + INTERVAL 3600 SECONDS AS ts,
             CAST(40.0 AS DOUBLE)
               + CAST(event_id % 7 AS DOUBLE) * CAST(0.0005 AS DOUBLE) AS lat,
             CAST(-105.0 AS DOUBLE)
               + CAST(event_id % 5 AS DOUBLE) * CAST(0.001 AS DOUBLE) AS lon,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               - 1 AS seq
      FROM events
    ),
    ins AS (
      SELECT user_id,
             COALESCE(
               MIN(seq) FILTER (ts > TIMESTAMP '2024-01-15 12:00:00'),
               MAX(seq) + 1) AS ins_at
      FROM pts GROUP BY user_id
    ),
    after_ins AS (
      SELECT p.user_id, p.ts, p.lat, p.lon,
             p.seq + CASE WHEN p.seq >= i.ins_at THEN 1 ELSE 0 END AS seq
      FROM pts p JOIN ins i USING (user_id)
      UNION ALL
      SELECT user_id, TIMESTAMP '2024-01-15 12:00:00',
             CAST(40.1234 AS DOUBLE), CAST(-105.4321 AS DOUBLE), ins_at
      FROM ins
    ),
    upd AS (
      SELECT user_id,
             CASE WHEN seq = 3 THEN TIMESTAMP '2024-01-02 00:00:00'
                  ELSE ts END AS ts,
             CASE WHEN seq = 3 THEN CAST(41.5 AS DOUBLE) ELSE lat END AS lat,
             lon, seq AS old_seq
      FROM after_ins
    ),
    renum AS (
      SELECT user_id, ts, lat, lon,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, old_seq)
               - 1 AS seq
      FROM upd
    ),
    del AS (
      SELECT user_id, ts, lat, lon, seq - 1 AS seq
      FROM renum WHERE seq <> 0
    )
    SELECT user_id,
           COUNT(*) AS n_points,
           CAST(SUM(epoch_us(ts)) AS BIGINT) AS sum_ts_us,
           CAST(SUM(CAST(round(lat * CAST(1e6 AS DOUBLE)) AS BIGINT))
                AS BIGINT) AS sum_lat_udeg,
           CAST(SUM(CAST(round(lon * CAST(1e6 AS DOUBLE)) AS BIGINT))
                AS BIGINT) AS sum_lon_udeg,
           CAST(SUM(seq) AS BIGINT) AS sum_seq
    FROM del GROUP BY user_id
    """


def downsample_distance_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8 stateful distance downsampling, driver-gated: per user track
    (derived grid geometry), keep a point iff the haversine from the last
    KEPT point is >= 250 m (plus the always-keep-last rule) — the keep
    decision depends on the last kept row, not a window. The oracle replays
    the keep chain with a recursive CTE whose haversine expression is the
    bit-identical SQL twin (same IEEE op sequence), so every keep decision
    and the kept-set aggregates match exactly."""
    from activity_files_spark.operators.downsample import downsample_distance

    # dense per-user geometry (7 latitude rungs 55.6 m apart, fixed lon):
    # successive hops span 0-333 m, so the 250 m keep rule genuinely skips
    # and keeps — with the global event-id grid every hop was ~8 km and the
    # chain trivially kept everything
    pts = _read(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id")).alias("activity_id"),
        "event_id", "ts",
        (F.lit(40.0) + (F.col("event_id") % 7).cast("double") * F.lit(0.0005)).alias("lat"),
        F.lit(-105.0).alias("lon"),
    )
    kept = downsample_distance(pts, 250.0, tiebreak=["event_id"])
    return kept.groupBy("activity_id").agg(
        F.count("*").alias("n_kept"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
    ).select(
        _user_id_of("activity_id"),
        "n_kept", "sum_event_id",
    )


def _downsample_distance_sql() -> str:
    hav = haversine_sql("k.lat", "k.lon", "p.lat", "p.lon")
    return f"""
    WITH RECURSIVE pts AS (
      SELECT user_id, event_id,
             40.0 + CAST(event_id % 7 AS DOUBLE) * 0.0005 AS lat,
             CAST(-105.0 AS DOUBLE) AS lon,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    chain AS (
      SELECT user_id, event_id, lat, lon, rn, n FROM pts WHERE rn = 1
      UNION ALL
      SELECT nxt.user_id, nxt.event_id, nxt.lat, nxt.lon, nxt.rn, nxt.n
      FROM chain k, LATERAL (
        SELECT p.user_id, p.event_id, p.lat, p.lon, p.rn, p.n
        FROM pts p
        WHERE p.user_id = k.user_id AND p.rn > k.rn
          AND {hav} >= 250.0
        ORDER BY p.rn LIMIT 1
      ) nxt
    ),
    kept AS (
      -- explicit DISTINCT: inside WITH RECURSIVE, DuckDB does not dedup a
      -- plain UNION that references the recursive CTE
      SELECT DISTINCT user_id, event_id FROM (
        SELECT user_id, event_id FROM chain
        UNION ALL
        SELECT user_id, event_id FROM pts WHERE rn = n
      )
    )
    SELECT user_id, COUNT(*) AS n_kept,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id
    FROM kept GROUP BY user_id
    """


def audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO, driver-gated end-to-end through the REAL RIFF/WAVE
    PCM16 codec: one deterministic integer-triangle clip per user
    (sample[t] = (t * freq) % 16384 - 8192, freq = 100 + user_id * 7,
    2000 samples @ 8 kHz), encoded to WAV binary (encode_wav), decoded back
    by the chunk-walking parser inside the distributed feature kernel
    (audio_features -> rms/peak/zcr). All-integer synthesis lets the oracle
    replay every sample exactly; sum-of-squares stays < 2^53 so rms is one
    exact division + IEEE sqrt in both engines — a hash match proves the
    binary codec and the feature kernel end-to-end."""
    import numpy as np

    from activity_files_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        audio_features_kernel,
        encode_wav,
    )

    t = np.arange(2000, dtype=np.int64)

    def clip(uid):
        freq = 100 + uid * 7
        x = ((t * freq) % 16384 - 8192).astype("<i2")
        return {
            "clip_id": f"u{uid}",
            "bytes": encode_wav(x[:, None], 8000),
            "sample_rate": 8000, "n_samples": 2000, "channels": 1,
            "fmt": "wav",
        }

    feats = _per_user_rows(
        spark, sf_dir, clip, AUDIO_SCHEMA, then=[audio_features_kernel()]
    )
    return feats.select(_user_id_of("clip_id"), "rms", "peak", "zcr")


def audio_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO through the REAL pure-python FLAC codec
    (codecs/flac.py, RFC 9639): one deterministic STEREO clip per user —
    left[t] = (t * freq) % 16384 - 8192 (freq = 100 + user_id * 7),
    right[t] = left[t] - ((t % 7) - 3) * 100 (correlated, so the encoder's
    auto stereo-mode picks a decorrelated layout and the decoder's
    left/side / mid/side reconstruction is on the hot path) — encoded to a
    real rice-coded FLAC bitstream, decoded back inside the distributed
    feature kernel (audio_features). FLAC is lossless, so the all-integer
    synthesis lets the oracle replay every sample exactly: a hash match
    proves the full bitstream codec round-trips bit-for-bit."""
    import numpy as np

    from activity_files_spark.codecs.flac import encode_flac
    from activity_files_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        audio_features_kernel,
    )

    t = np.arange(2000, dtype=np.int64)
    wob = ((t % 7) - 3) * 100

    def clip(uid):
        freq = 100 + uid * 7
        left = (t * freq) % 16384 - 8192
        x = np.stack([left, left - wob], axis=1).astype(np.int16)
        return {
            "clip_id": f"u{uid}",
            "bytes": encode_flac(x, 8000),
            "sample_rate": 8000, "n_samples": 2000, "channels": 2,
            "fmt": "flac",
        }

    feats = _per_user_rows(
        spark, sf_dir, clip, AUDIO_SCHEMA, then=[audio_features_kernel()]
    )
    return feats.select(_user_id_of("clip_id"), "rms", "peak", "zcr")


def _audio_flac_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    samp AS (
      SELECT user_id, t.t AS t,
             CAST((t.t * (100 + user_id * 7)) % 16384 - 8192 AS BIGINT) AS x0
      FROM users, (SELECT unnest(range(2000)) AS t) t
    ),
    chans AS (
      SELECT user_id, t, x0,
             x0 - ((t % 7) - 3) * 100 AS x1
      FROM samp
    ),
    signs AS (
      SELECT user_id, t,
             CASE WHEN x0 < 0 THEN 1 ELSE 0 END AS s
      FROM chans
    ),
    flips AS (
      SELECT user_id,
             ABS(s - LAG(s) OVER (PARTITION BY user_id ORDER BY t)) AS c
      FROM signs
    ),
    a1 AS (
      SELECT user_id,
             sqrt(CAST(SUM(x0 * x0 + x1 * x1) AS DOUBLE)
                  / CAST(4000.0 AS DOUBLE)) AS rms,
             CAST(GREATEST(MAX(ABS(x0)), MAX(ABS(x1))) AS BIGINT) AS peak
      FROM chans GROUP BY user_id
    ),
    a2 AS (
      SELECT user_id, CAST(SUM(c) AS DOUBLE) / 1999.0 AS zcr
      FROM flips WHERE c IS NOT NULL GROUP BY user_id
    )
    SELECT a1.user_id, rms, peak, zcr
    FROM a1 JOIN a2 ON a1.user_id = a2.user_id
    """


def audio_ogg_flac_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO through the REAL Ogg container (codecs/ogg.py:
    RFC 3533 page framing + the xiph FLAC-to-Ogg mapping over the RFC 9639
    bitstream codec): one deterministic STEREO clip per user —
    left[t] = |((t * freq) % 8192) - 4096| - 2048 (a triangle wave,
    freq = 137 + user_id * 11), right[t] = ((t % 5) - 2) * 64 - left[t]
    (anti-correlated, so the encoder's auto stereo-mode exercises the
    side-channel layouts) — encoded at block_size 500 so each clip spans
    multiple FLAC frames = multiple Ogg packets with real granule-position
    math, then decoded back inside the distributed feature kernel
    (audio_features) via the page demuxer. Lossless end-to-end, so the
    all-integer synthesis lets the oracle replay every sample exactly: a
    hash match proves Ogg framing (CRC-32, lacing, continuation) AND the
    FLAC bitstream round-trip bit-for-bit."""
    import numpy as np

    from activity_files_spark.codecs.ogg import encode_ogg_flac
    from activity_files_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        audio_features_kernel,
    )

    t = np.arange(2000, dtype=np.int64)
    wob = ((t % 5) - 2) * 64

    def clip(uid):
        freq = 137 + uid * 11
        left = np.abs((t * freq) % 8192 - 4096) - 2048
        x = np.stack([left, wob - left], axis=1).astype(np.int16)
        return {
            "clip_id": f"u{uid}",
            "bytes": encode_ogg_flac(x, 8000, block_size=500),
            "sample_rate": 8000, "n_samples": 2000, "channels": 2,
            "fmt": "ogg",
        }

    feats = _per_user_rows(
        spark, sf_dir, clip, AUDIO_SCHEMA, then=[audio_features_kernel()]
    )
    return feats.select(_user_id_of("clip_id"), "rms", "peak", "zcr")


def _audio_ogg_flac_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    samp AS (
      SELECT user_id, t.t AS t,
             ABS(CAST((t.t * (137 + user_id * 11)) % 8192 - 4096 AS BIGINT))
               - 2048 AS x0
      FROM users, (SELECT unnest(range(2000)) AS t) t
    ),
    chans AS (
      SELECT user_id, t, x0,
             ((t % 5) - 2) * 64 - x0 AS x1
      FROM samp
    ),
    signs AS (
      SELECT user_id, t,
             CASE WHEN x0 < 0 THEN 1 ELSE 0 END AS s
      FROM chans
    ),
    flips AS (
      SELECT user_id,
             ABS(s - LAG(s) OVER (PARTITION BY user_id ORDER BY t)) AS c
      FROM signs
    ),
    a1 AS (
      SELECT user_id,
             sqrt(CAST(SUM(x0 * x0 + x1 * x1) AS DOUBLE)
                  / CAST(4000.0 AS DOUBLE)) AS rms,
             CAST(GREATEST(MAX(ABS(x0)), MAX(ABS(x1))) AS BIGINT) AS peak
      FROM chans GROUP BY user_id
    ),
    a2 AS (
      SELECT user_id, CAST(SUM(c) AS DOUBLE) / 1999.0 AS zcr
      FROM flips WHERE c IS NOT NULL GROUP BY user_id
    )
    SELECT a1.user_id, rms, peak, zcr
    FROM a1 JOIN a2 ON a1.user_id = a2.user_id
    """


def _audio_wav_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    samp AS (
      SELECT user_id, t.t AS t,
             CAST((t.t * (100 + user_id * 7)) % 16384 - 8192 AS BIGINT) AS x
      FROM users, (SELECT unnest(range(2000)) AS t) t
    ),
    signs AS (
      SELECT user_id, t, x,
             CASE WHEN x < 0 THEN 1 ELSE 0 END AS s
      FROM samp
    ),
    flips AS (
      SELECT user_id,
             ABS(s - LAG(s) OVER (PARTITION BY user_id ORDER BY t)) AS c
      FROM signs
    ),
    a1 AS (
      SELECT user_id,
             sqrt(CAST(SUM(x * x) AS DOUBLE) / 2000.0) AS rms,
             CAST(MAX(ABS(x)) AS BIGINT) AS peak
      FROM samp GROUP BY user_id
    ),
    a2 AS (
      SELECT user_id, CAST(SUM(c) AS DOUBLE) / 1999.0 AS zcr
      FROM flips WHERE c IS NOT NULL GROUP BY user_id
    )
    SELECT a1.user_id, rms, peak, zcr
    FROM a1 JOIN a2 ON a1.user_id = a2.user_id
    """


def video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO plumbing, driver-gated: one deterministic raw-RGB
    clip per user (8x6, 8 frames; pixel (x,y,f) = ((x+f+uid)%256,
    (y*3+f)%256, (x*y+uid)%256)), frame-sampled every 2nd frame through the
    byte-offset extractor (sample_frames), per-frame channel sums reduced in
    an Arrow kernel (frame_stats). Integer pixel formulas mean the oracle
    replays every sampled frame's sums exactly — gating the frame offset
    math and sampling stride bit-for-bit. (Real video CODECS remain honest
    stubs; this gates the Spark-side plumbing the north star needs.)"""
    import numpy as np

    from activity_files_spark.operators.multimodal import (
        VIDEO_SCHEMA,
        frame_stats_kernel,
        sample_frames_kernel,
    )

    w, h, n_frames = 8, 6, 8
    y, x = np.mgrid[0:h, 0:w]

    def clip(i):
        frames = [
            np.stack(
                [(x + f + i) % 256, (y * 3 + f) % 256, (x * y + i) % 256],
                axis=-1,
            ).astype(np.uint8).tobytes()
            for f in range(n_frames)
        ]
        return {
            "clip_id": f"u{i}", "bytes": b"".join(frames),
            "w": w, "h": h, "fps": 10.0, "n_frames": n_frames,
            "fmt": "rawrgb",
        }

    stats = _per_user_rows(
        spark, sf_dir, clip, VIDEO_SCHEMA,
        then=[sample_frames_kernel(every=2), frame_stats_kernel()],
    )
    return stats.select(
        _user_id_of("clip_id"), "frame_idx", "sum_r", "sum_g", "sum_b"
    )


def _video_frame_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id, f.f AS frame_idx, x.x AS x, y.y AS y
      FROM users u,
           (SELECT unnest([0, 2, 4, 6]) AS f) f,
           (SELECT unnest(range(8)) AS x) x,
           (SELECT unnest(range(6)) AS y) y
    )
    SELECT user_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(SUM((x + frame_idx + user_id) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((y * 3 + frame_idx) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((x * y + user_id) % 256) AS BIGINT) AS sum_b
    FROM grid GROUP BY user_id, frame_idx
    """


def video_y4m_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO through the REAL YUV4MPEG2 container codec,
    driver-gated end-to-end (WAV's video twin): one deterministic C420jpeg
    clip per user (8x6 luma + 4x3 subsampled chroma, 6 frames; all planes
    integer formulas of (x, y, frame, uid)), encoded to real Y4M binary
    (encode_y4m: text stream header + FRAME markers + raw planes), then
    frame-sampled every 2nd frame through the container-aware chunk walker
    (sample_frames parses the FRAME markers) which upsamples 4:2:0 chroma
    by exact 2x2 integer replication, and per-frame plane sums reduced in
    the Arrow kernel (frame_stats). The oracle replays the header math,
    frame stride, AND the chroma upsample (u(x,y) = u_sub(x//2, y//2))
    bit-for-bit — a hash match proves the real container round-trips."""
    import numpy as np

    from activity_files_spark.operators.multimodal import (
        VIDEO_SCHEMA,
        encode_y4m,
        frame_stats_kernel,
        sample_frames_kernel,
    )

    w, h, n_frames = 8, 6, 6
    yy, xx = np.mgrid[0:h, 0:w]
    ys, xs = np.mgrid[0 : h // 2, 0 : w // 2]

    def clip(i):
        y = np.stack(
            [(xx + 2 * f + i) % 256 for f in range(n_frames)]
        ).astype(np.uint8)
        u = np.stack(
            [(xs * 3 + f + i) % 256 for f in range(n_frames)]
        ).astype(np.uint8)
        v = np.stack(
            [(xs * ys + 2 * i + f) % 256 for f in range(n_frames)]
        ).astype(np.uint8)
        return {
            "clip_id": f"u{i}",
            "bytes": encode_y4m((y, u, v), fps=(10, 1), colorspace="C420jpeg"),
            "w": w, "h": h, "fps": 10.0, "n_frames": n_frames,
            "fmt": "y4m",
        }

    stats = _per_user_rows(
        spark, sf_dir, clip, VIDEO_SCHEMA,
        then=[sample_frames_kernel(every=2), frame_stats_kernel()],
    )
    return stats.select(
        _user_id_of("clip_id"),
        "frame_idx",
        F.col("sum_r").alias("sum_y"),
        F.col("sum_g").alias("sum_u"),
        F.col("sum_b").alias("sum_v"),
    )


def _video_y4m_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id, f.f AS frame_idx, x.x AS x, y.y AS y
      FROM users u,
           (SELECT unnest([0, 2, 4]) AS f) f,
           (SELECT unnest(range(8)) AS x) x,
           (SELECT unnest(range(6)) AS y) y
    )
    SELECT user_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(SUM((x + 2 * frame_idx + user_id) % 256) AS BIGINT) AS sum_y,
           CAST(SUM(((x // 2) * 3 + frame_idx + user_id) % 256) AS BIGINT) AS sum_u,
           CAST(SUM(((x // 2) * (y // 2) + 2 * user_id + frame_idx) % 256) AS BIGINT) AS sum_v
    FROM grid GROUP BY user_id, frame_idx
    """


def video_mp4_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO through the REAL ISO BMFF (MP4) container codec
    (codecs/mp4.py), driver-gated end-to-end: one deterministic clip per
    user (8x6 RGB, 7 frames; pixel (x,y,f) = ((2x+3f+uid)%256, (y+5f)%256,
    (xy+f+2uid)%256)) encoded as a real MP4 — ftyp + mdat + moov with a
    'raw ' (QuickTime uncompressed RGB) VisualSampleEntry and real
    stts/stsc/stsz/stco sample tables — then frame-sampled every 2nd frame
    through the container-aware walker (sample_frames resolves the sample
    tables to absolute mdat byte ranges and slices exactly the sampled
    frames), and per-frame channel sums reduced in the Arrow kernel
    (frame_stats). Integer pixel formulas mean the oracle replays every
    sampled frame's sums exactly — a hash match proves the box walk and
    the sample-index -> byte-range demux math bit-for-bit."""
    import numpy as np

    from activity_files_spark.codecs.mp4 import encode_mp4_raw
    from activity_files_spark.operators.multimodal import (
        VIDEO_SCHEMA,
        frame_stats_kernel,
        sample_frames_kernel,
    )

    w, h, n_frames = 8, 6, 7
    yy, xx = np.mgrid[0:h, 0:w]

    def clip(i):
        frames = np.stack([
            np.stack(
                [(2 * xx + 3 * f + i) % 256, (yy + 5 * f) % 256,
                 (xx * yy + f + 2 * i) % 256],
                axis=-1,
            )
            for f in range(n_frames)
        ]).astype(np.uint8)
        return {
            "clip_id": f"u{i}",
            "bytes": encode_mp4_raw(frames, fps=(10, 1)),
            "w": w, "h": h, "fps": 10.0, "n_frames": n_frames,
            "fmt": "mp4",
        }

    stats = _per_user_rows(
        spark, sf_dir, clip, VIDEO_SCHEMA,
        then=[sample_frames_kernel(every=2), frame_stats_kernel()],
    )
    return stats.select(
        _user_id_of("clip_id"), "frame_idx", "sum_r", "sum_g", "sum_b"
    )


def _video_mp4_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id, f.f AS frame_idx, x.x AS x, y.y AS y
      FROM users u,
           (SELECT unnest([0, 2, 4, 6]) AS f) f,
           (SELECT unnest(range(8)) AS x) x,
           (SELECT unnest(range(6)) AS y) y
    )
    SELECT user_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(SUM((2 * x + 3 * frame_idx + user_id) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((y + 5 * frame_idx) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((x * y + frame_idx + 2 * user_id) % 256) AS BIGINT) AS sum_b
    FROM grid GROUP BY user_id, frame_idx
    """


def video_mkv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal VIDEO through the REAL Matroska (EBML) container codec
    (codecs/mkv.py), driver-gated end-to-end: one deterministic I420 clip
    per user (8x6 luma + 4x3 subsampled chroma, 6 frames; all planes
    integer formulas of (x, y, frame, uid)), muxed into a real Matroska
    file — EBML header, Segment, CRC-32'd Info/Tracks, V_UNCOMPRESSED
    track, Clusters carrying Xiph-LACED SimpleBlocks — then frame-sampled
    every 2nd frame through the container-aware walker (sample_frames
    resolves the EBML element tree + lacing table to per-frame byte ranges
    and decodes only the sampled frames, upsampling 4:2:0 chroma by exact
    2x2 integer replication). The oracle replays the plane formulas, the
    frame stride, AND the chroma upsample (u(x,y) = u_sub(x//2, y//2))
    bit-for-bit — a hash match proves the EBML walk, the lacing split, and
    the timestamp ordering round-trip for real."""
    import numpy as np

    from activity_files_spark.codecs.mkv import encode_mkv
    from activity_files_spark.operators.multimodal import (
        VIDEO_SCHEMA,
        frame_stats_kernel,
        sample_frames_kernel,
    )

    w, h, n_frames = 8, 6, 6
    yy, xx = np.mgrid[0:h, 0:w]
    ys, xs = np.mgrid[0 : h // 2, 0 : w // 2]

    def clip(i):
        y = np.stack(
            [(3 * xx + yy + f + 2 * i) % 256 for f in range(n_frames)]
        ).astype(np.uint8)
        u = np.stack(
            [(xs + 2 * ys + 3 * f + i) % 256 for f in range(n_frames)]
        ).astype(np.uint8)
        v = np.stack(
            [(2 * xs + ys * f + i) % 256 for f in range(n_frames)]
        ).astype(np.uint8)
        return {
            "clip_id": f"u{i}",
            "bytes": encode_mkv(
                (y, u, v), fps=(10, 1), frames_per_cluster=3, lacing="xiph",
            ),
            "w": w, "h": h, "fps": 10.0, "n_frames": n_frames,
            "fmt": "mkv",
        }

    stats = _per_user_rows(
        spark, sf_dir, clip, VIDEO_SCHEMA,
        then=[sample_frames_kernel(every=2), frame_stats_kernel()],
    )
    return stats.select(
        _user_id_of("clip_id"),
        "frame_idx",
        F.col("sum_r").alias("sum_y"),
        F.col("sum_g").alias("sum_u"),
        F.col("sum_b").alias("sum_v"),
    )


def _video_mkv_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
      SELECT u.user_id, f.f AS frame_idx, x.x AS x, y.y AS y
      FROM users u,
           (SELECT unnest([0, 2, 4]) AS f) f,
           (SELECT unnest(range(8)) AS x) x,
           (SELECT unnest(range(6)) AS y) y
    )
    SELECT user_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(SUM((3 * x + y + frame_idx + 2 * user_id) % 256) AS BIGINT) AS sum_y,
           CAST(SUM(((x // 2) + 2 * (y // 2) + 3 * frame_idx + user_id) % 256) AS BIGINT) AS sum_u,
           CAST(SUM((2 * (x // 2) + (y // 2) * frame_idx + user_id) % 256) AS BIGINT) AS sum_v
    FROM grid GROUP BY user_id, frame_idx
    """


def audio_mp3_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal AUDIO through the REAL MPEG audio (MP3) frame layer
    (codecs/mp3.py): one deterministic VBR clip per user — n = 6 + uid%5
    Layer III frames, frame k at bitrate index 1 + (uid + 3k) % 14 with
    padding (uid+k)%2, sample rate [44100,48000,32000][uid%3], channel
    mode by uid%4; even uids carry a real CRC-16 per frame (poly 0x8005
    over header tail + side info, recomputed and VERIFIED by the parser),
    odd uids carry a Xing VBR header declaring the audio frame count; an
    ID3v2 tag of (uid%7)*5 padding bytes prefixes (when nonzero) and an
    ID3v1 tag trails clips with uid%3==1. The parser walks every frame by
    its self-described length — all-integer outputs, so the oracle replays
    frame count, sample total, byte total (the floor(144000*br/sr)+pad
    frame-length math), bitrate sums, CRC tallies, and tag accounting
    exactly: a hash match proves the frame walk, the CRC polynomial, and
    the Xing/ID3 handling bit-for-bit. PCM payload decode stays the honest
    NotImplementedError boundary (multimodal.py STUB_AUDIO_FMTS)."""
    from activity_files_spark.codecs.mp3 import _CHANNEL_MODES, encode_mp3_frames
    from activity_files_spark.operators.multimodal import (
        AUDIO_SCHEMA,
        mp3_container_stats_kernel,
    )

    modes = _CHANNEL_MODES  # header-bit ordering lives in the codec table

    def clip(i):
        n = 6 + i % 5
        frames = [(1 + (i + 3 * k) % 14, (i + k) % 2) for k in range(n)]
        data = encode_mp3_frames(
            frames,
            sample_rate_idx=i % 3,
            channel_mode=modes[i % 4],
            crc=i % 2 == 0,
            id3v2_pad=(i % 7) * 5,
            id3v1=i % 3 == 1,
            xing_frames=n if i % 2 == 1 else None,
            payload_seed=i,
        )
        return {
            "clip_id": f"u{i}", "bytes": data,
            "sample_rate": [44100, 48000, 32000][i % 3],
            "n_samples": 1152 * n, "channels": 2, "fmt": "mp3",
        }

    stats = _per_user_rows(
        spark, sf_dir, clip, AUDIO_SCHEMA, then=[mp3_container_stats_kernel()]
    )
    return stats.select(
        _user_id_of("clip_id"),
        "n_frames", "samples_total", "audio_bytes", "bitrate_sum_kbps",
        "distinct_bitrates", "sample_rate", "layer", "channel_mode",
        "crc_frames", "crc_ok_frames", "xing_frames", "id3v2_bytes",
        "id3v1", "truncated",
    )


def _audio_mp3_sql() -> str:
    # replay of codecs/mp3.py frame-length math: MPEG1 Layer III frame
    # bytes = 144000*br//sr + padding; the Xing frame (odd uids) reuses
    # frame 0's bitrate/padding shape, so it joins the per-frame grid as
    # k = -1
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    brs AS (
      SELECT [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320] AS t
    ),
    base AS (
      SELECT user_id,
             6 + user_id % 5 AS n,
             [44100, 48000, 32000][CAST(user_id % 3 AS INT) + 1] AS sr,
             user_id % 2 = 0 AS has_crc,
             user_id % 2 = 1 AS has_xing
      FROM users
    ),
    frames AS (
      SELECT b.user_id, b.n, b.sr, b.has_crc, b.has_xing, k.k AS k,
             CASE WHEN k.k = -1
                  THEN 1 + (b.user_id % 14)
                  ELSE 1 + ((b.user_id + 3 * k.k) % 14) END AS br_idx,
             CASE WHEN k.k = -1
                  THEN b.user_id % 2
                  ELSE (b.user_id + k.k) % 2 END AS pad
      FROM base b, (SELECT unnest(range(-1, 11)) AS k) k
      WHERE k.k < b.n AND (k.k >= 0 OR b.has_xing)
    ),
    sized AS (
      SELECT frames.*, brs.t[CAST(br_idx AS INT)] AS br,
             144000 * brs.t[CAST(br_idx AS INT)] // sr + pad AS fbytes
      FROM frames, brs
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(1152 * COUNT(*) AS BIGINT) AS samples_total,
           CAST(SUM(fbytes) AS BIGINT) AS audio_bytes,
           CAST(SUM(br) AS BIGINT) AS bitrate_sum_kbps,
           CAST(COUNT(DISTINCT CASE WHEN k >= 0 THEN br END) AS INT)
             AS distinct_bitrates,
           CAST(ANY_VALUE(sr) AS INT) AS sample_rate,
           CAST(3 AS INT) AS layer,
           ['stereo', 'joint_stereo', 'dual_channel', 'mono']
             [CAST(user_id % 4 AS INT) + 1] AS channel_mode,
           CAST(CASE WHEN ANY_VALUE(has_crc) THEN COUNT(*) ELSE 0 END AS BIGINT)
             AS crc_frames,
           CAST(CASE WHEN ANY_VALUE(has_crc) THEN COUNT(*) ELSE 0 END AS BIGINT)
             AS crc_ok_frames,
           CASE WHEN ANY_VALUE(has_xing)
                THEN CAST(ANY_VALUE(n) AS BIGINT) END AS xing_frames,
           CAST(CASE WHEN user_id % 7 = 0 THEN 0
                     ELSE 10 + (user_id % 7) * 5 END AS BIGINT) AS id3v2_bytes,
           user_id % 3 = 1 AS id3v1,
           FALSE AS truncated
    FROM sized
    GROUP BY user_id
    """


def image_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal IMAGE through the REAL baseline JPEG codec
    (codecs/jpeg.py — ITU T.81 SOF0, Annex-K Huffman/quant tables),
    driver-gated end-to-end: one deterministic image per user
    (sawtooth pixels_for, w = 16 + uid%4*8, h = 16 + uid%3*8) encoded as
    a standard JFIF bitstream with per-user quality (90 + uid%10),
    subsampling (4:2:0 for odd uids, 4:4:4 for even) and restart interval
    (uid%4), then re-parsed marker-by-marker and fully decoded in the
    Arrow kernel. The oracle replays every exact-integer header fact in
    SQL: the IJG quality->DQT scaling ((v*s+50)//100 clipped to [1,255],
    summed over both Annex-K base tables), the MCU-grid restart-marker
    count ceil(nmcu/ri)-1, sampling factors, and dims — a hash match
    proves the quantization scaling, the MCU segmentation, and the marker
    layout bit-for-bit. Decode sanity rides along as psnr/shape gates
    (PSNR floors: 30 dB for 4:4:4, 12 dB for 4:2:0 — the sawtooth
    fixtures are chroma-adversarial by design; the strict 40 dB corpus
    gate lives in validate_images_summary at quality 98)."""
    from activity_files_spark.codecs.image import psnr_db
    from activity_files_spark.codecs.jpeg import (
        decode_jpeg as jdec,
        encode_jpeg as jenc,
        jpeg_stats as jstats,
    )
    from activity_files_spark.data.images import pixels_for

    schema = (
        "user_id long, w int, h int, quality int, dqt_sum_luma long, "
        "dqt_sum_chroma long, restart_interval int, n_restart_markers int, "
        "max_h_sampling int, n_dqt_tables int, n_dht_tables int, "
        "psnr_ok boolean, shape_ok boolean"
    )

    def stats(i):
        w = 16 + (i % 4) * 8
        h = 16 + (i % 3) * 8
        quality = 90 + (i % 10)
        sub = "420" if i % 2 else "444"
        ri = i % 4
        px = pixels_for(i, w, h)
        data = jenc(px, quality=quality, subsampling=sub, restart_interval=ri)
        s = jstats(data)
        out = jdec(data)
        p = psnr_db(px, out)
        return {
            "user_id": i,
            "w": s["width"],
            "h": s["height"],
            "quality": quality,
            "dqt_sum_luma": s["dqt_sum_luma"],
            "dqt_sum_chroma": s["dqt_sum_chroma"],
            "restart_interval": s["restart_interval"],
            "n_restart_markers": s["n_restart_markers"],
            "max_h_sampling": s["max_h_sampling"],
            "n_dqt_tables": s["n_dqt_tables"],
            "n_dht_tables": s["n_dht_tables"],
            "psnr_ok": bool(p >= (12.0 if sub == "420" else 30.0)),
            "shape_ok": out.shape == (h, w, 3),
        }

    return _per_user_rows(spark, sf_dir, stats, schema)


def _image_jpeg_sql() -> str:
    # replay of codecs/jpeg.py header math: IJG quality scaling (integer
    # arithmetic), Annex-K base tables inline, MCU-grid restart segmentation
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    luma AS (SELECT unnest([
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99
      ]) AS v),
    chroma AS (SELECT unnest([
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99
      ]) AS v),
    p AS (
      SELECT user_id,
             16 + (user_id % 4) * 8 AS w,
             16 + (user_id % 3) * 8 AS h,
             90 + (user_id % 10) AS quality,
             200 - 2 * (90 + (user_id % 10)) AS s,
             CAST(user_id % 4 AS INT) AS ri,
             CASE WHEN user_id % 2 = 1 THEN 2 ELSE 1 END AS maxs
      FROM users
    ),
    mcu AS (
      SELECT p.*,
             ((w + 8 * maxs - 1) // (8 * maxs)) * ((h + 8 * maxs - 1) // (8 * maxs))
               AS nmcu
      FROM p
    )
    SELECT user_id,
           CAST(w AS INT) AS w,
           CAST(h AS INT) AS h,
           CAST(quality AS INT) AS quality,
           (SELECT SUM(GREATEST(1, LEAST(255, (l.v * mcu.s + 50) // 100)))
              FROM luma l) AS dqt_sum_luma,
           (SELECT SUM(GREATEST(1, LEAST(255, (c.v * mcu.s + 50) // 100)))
              FROM chroma c) AS dqt_sum_chroma,
           ri AS restart_interval,
           CAST(CASE WHEN ri = 0 THEN 0
                     ELSE GREATEST(0, (nmcu + ri - 1) // ri - 1) END AS INT)
             AS n_restart_markers,
           CAST(maxs AS INT) AS max_h_sampling,
           CAST(2 AS INT) AS n_dqt_tables,
           CAST(4 AS INT) AS n_dht_tables,
           TRUE AS psnr_ok,
           TRUE AS shape_ok
    FROM mcu
    """


def rasterize_heatmap_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster (the north rule's raster↔vector axis, forward
    direction): burn every event's derived (lat, lon) into 256px heatmap
    tiles at zoom 12 — the distributed tile-rendering job. The hot stage
    is pure Column math (global pixel coords at zoom 20 = tile coords via
    the proven quadkey ladder, so the SQL twins carry over bit-for-bit)
    followed by ONE map-side-combined groupBy(tile, pixel); tile assembly
    densifies each tile's sparse counts into real uint32 raster bytes in
    an Arrow kernel. The gate returns per-tile (quadkey, n_points,
    nonzero_px, max_count, checksum) where checksum = sum(n * (py * 256 +
    px + 1)) pins every pixel placement; the oracle replays the identical
    mercator pixel math in SQL."""
    from activity_files_spark.operators.raster import (
        assemble_tiles,
        rasterize_points,
    )

    pts = _read(spark, sf_dir, "events").select(
        _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    sparse = rasterize_points(pts, z=12, p=8)
    tiles = assemble_tiles(sparse, z=12, p=8)
    return tiles.select("quadkey", "n_points", "nonzero_px", "max_count", "checksum")


def _rasterize_heatmap_sql() -> str:
    gx, gy = tile_xy_sql("lat", "lon", 20)
    qk = quadkey_digits_sql("tx", "ty", 12)
    return f"""
    WITH pts AS (
      SELECT 40.0 + CAST(event_id % 1000 AS DOUBLE) * 0.0005 AS lat,
             -105.0 - CAST(event_id % 997 AS DOUBLE) * 0.0005 AS lon
      FROM events
    ),
    gpix AS (
      SELECT {gx} AS gx, {gy} AS gy FROM pts
    ),
    pix AS (
      SELECT gx >> 8 AS tx, gy >> 8 AS ty,
             gx & 255 AS px, gy & 255 AS py,
             COUNT(*) AS n
      FROM gpix GROUP BY 1, 2, 3, 4
    )
    SELECT {qk} AS quadkey,
           CAST(SUM(n) AS BIGINT) AS n_points,
           CAST(COUNT(*) AS BIGINT) AS nonzero_px,
           CAST(MAX(n) AS BIGINT) AS max_count,
           CAST(SUM(n * (py * 256 + px + 1)) AS BIGINT) AS checksum
    FROM pix GROUP BY tx, ty
    """


def raster_blur_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heatmap smoothing (raster.box_blur): 3x3 integer box blur over the
    zoom-12 sparse raster on GLOBAL pixel keys — smoothing flows across
    tile boundaries, separable passes keep the explode factor at 2*(2r+1),
    both passes map-side-combined. Per-tile rollup pins lit-pixel count,
    total mass (= 9x point count up to edge clipping) and the pixel
    placement checksum; the oracle replays rasterize + both passes."""
    from activity_files_spark.operators.raster import box_blur, rasterize_points

    pts = _read(spark, sf_dir, "events").select(
        _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    blurred = box_blur(rasterize_points(pts, z=12, p=8), z=12, p=8, r=1)
    return blurred.groupBy("tile_id").agg(
        F.count("*").alias("nonzero_px"),
        F.sum("n").alias("mass"),
        F.max("n").alias("max_count"),
        F.sum(
            F.col("n") * (F.col("py").cast("long") * F.lit(256) + F.col("px") + F.lit(1))
        ).alias("checksum"),
    )


def _raster_blur_sql() -> str:
    from activity_files_spark.operators.raster import box_blur_sql

    gx, gy = tile_xy_sql("lat", "lon", 20)
    body = box_blur_sql("gpix_counts", z=12, p=8, r=1)
    return f"""
    WITH pts AS (
      SELECT {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    gpix AS (
      SELECT {gx} AS gx, {gy} AS gy FROM pts
    ),
    gpix_counts AS (
      SELECT gx, gy, COUNT(*) AS n FROM gpix GROUP BY 1, 2
    ),
    {body}
    SELECT ((gx >> 8) << 12) | (gy >> 8) AS tile_id,
           CAST(COUNT(*) AS BIGINT) AS nonzero_px,
           CAST(SUM(n) AS BIGINT) AS mass,
           CAST(MAX(n) AS BIGINT) AS max_count,
           CAST(SUM(n * ((gy & 255) * 256 + (gx & 255) + 1)) AS BIGINT) AS checksum
    FROM bb_final GROUP BY 1
    """


def contour_heatmap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector, iso-line direction (raster.contour_segments):
    midpoint marching squares over the zoom-9 events heatmap extracts the
    iso-contour of the region "pixel count >= 4" as vector segments in
    DOUBLED global-pixel integers (doubling keeps edge midpoints exact, so
    both engines hash bit-for-bit). Fully relational: a 4-way corner
    explode, ONE map-side-combined groupBy(cell) summing corner bits into
    the marching-squares case index, and a broadcast join against the
    16-case midpoint table — no Python kernel, linear-size shuffle, skew
    spread across distinct cell keys. The gate returns every segment; the
    oracle replays the identical corner-bit vote and case table in SQL.
    Complements raster_components_vectorize (regions) with the other
    classic raster→vector primitive (contours); the reference engine has
    no raster surface at all (it is a per-file track parser)."""
    from activity_files_spark.operators.raster import (
        contour_segments,
        rasterize_points,
    )

    pts = _read(spark, sf_dir, "events").select(
        _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    sparse = rasterize_points(pts, z=9, p=8)
    return contour_segments(sparse, z=9, p=8, threshold=4)


def _contour_heatmap_sql() -> str:
    from activity_files_spark.operators.raster import contour_segments_sql

    gx, gy = tile_xy_sql("lat", "lon", 17)  # zoom 9 + 8-bit pixels
    body = contour_segments_sql("gpix_counts", threshold=4)
    return f"""
    WITH pts AS (
      SELECT {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon FROM events
    ),
    gpix AS (
      SELECT {gx} AS gx, {gy} AS gy FROM pts
    ),
    gpix_counts AS (
      SELECT gx, gy, COUNT(*) AS n FROM gpix GROUP BY 1, 2
    ),
    {body}
    SELECT CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1,
           CAST(x2 AS BIGINT) AS x2, CAST(y2 AS BIGINT) AS y2
    FROM ms_segments
    """


def raster_pyramid_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster pyramid rollup (the tile-service z-ladder build): events are
    rasterized at zoom 14, then pyramid_rollup aggregates the sparse
    raster THREE levels down to zoom 11 in ONE groupBy (a zoom-(z-k)
    pixel is the global pixel shifted right k, so the whole ladder is a
    shift + re-key — not k sequential shuffles), and assemble_tiles
    densifies the coarse tiles. Counts are additive, so the oracle can
    group the points directly by coarse pixel — a hash match proves the
    fine→coarse pixel re-keying sums every 2x2x2 block exactly."""
    from activity_files_spark.operators.raster import (
        assemble_tiles,
        pyramid_rollup,
        rasterize_points,
    )

    pts = _read(spark, sf_dir, "events").select(
        _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    fine = rasterize_points(pts, z=14, p=8)
    coarse = pyramid_rollup(fine, z_from=14, z_to=11, p=8)
    tiles = assemble_tiles(coarse, z=11, p=8)
    return tiles.select("quadkey", "n_points", "nonzero_px", "max_count", "checksum")


def _raster_pyramid_sql() -> str:
    gx, gy = tile_xy_sql("lat", "lon", 22)  # zoom 14 + 8-bit pixels
    qk = quadkey_digits_sql("tx", "ty", 11)
    return f"""
    WITH pts AS (
      SELECT 40.0 + CAST(event_id % 1000 AS DOUBLE) * 0.0005 AS lat,
             -105.0 - CAST(event_id % 997 AS DOUBLE) * 0.0005 AS lon
      FROM events
    ),
    gpix AS (
      SELECT ({gx}) >> 3 AS cgx, ({gy}) >> 3 AS cgy FROM pts
    ),
    pix AS (
      SELECT cgx >> 8 AS tx, cgy >> 8 AS ty,
             cgx & 255 AS px, cgy & 255 AS py,
             COUNT(*) AS n
      FROM gpix GROUP BY 1, 2, 3, 4
    )
    SELECT {qk} AS quadkey,
           CAST(SUM(n) AS BIGINT) AS n_points,
           CAST(COUNT(*) AS BIGINT) AS nonzero_px,
           CAST(MAX(n) AS BIGINT) AS max_count,
           CAST(SUM(n * (py * 256 + px + 1)) AS BIGINT) AS checksum
    FROM pix GROUP BY tx, ty
    """


_ZONAL_RING = [(-105.45, 40.05), (-105.05, 40.1), (-105.25, 40.45)]


def zonal_stats_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the classic raster-vector analytics op: sum the
    event heatmap raster inside a polygon zone. Composes BOTH round-5
    raster directions: polygon_mask_pixels ray-casts a triangle geofence
    into a pixel mask in web-mercator PIXEL space (ring vertices forward-
    transformed once with the proven sin/ln chain; pixel centers are
    exact integer+0.5 floats, so the per-edge crossing tests are pure
    arithmetic — zero transcendentals in the hot loop, fully codegen'd),
    then the mask LEFT-joins the rasterize_points heatmap on (tile, px,
    py) — a broadcast equi-join on the small mask side. Output: per tile
    (quadkey, inside_px, n_points, checksum); the oracle re-derives the
    bbox cover, the vertex transform, the unrolled even-odd crossing sum,
    and the pixel counts entirely in SQL."""
    from activity_files_spark.operators.raster import (
        polygon_mask_pixels,
        rasterize_points,
    )

    z, p = 12, 4
    side = 1 << p
    mask = polygon_mask_pixels(spark, _ZONAL_RING, z=z, p=p)
    pts = _read(spark, sf_dir, "events").select(
        _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    heat = rasterize_points(pts, z=z, p=p)
    joined = mask.join(heat, ["tile_id", "px", "py"], "left")
    return (
        joined.groupBy("tile_id")
        .agg(
            F.count(F.lit(1)).alias("inside_px"),
            F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("n_points"),
            F.sum(F.col("py") * side + F.col("px") + 1).alias("checksum"),
        )
        .select(
            quadkey_from_cell_id_col(F.col("tile_id"), z).alias("quadkey"),
            "inside_px", "n_points", "checksum",
        )
    )


def _zonal_stats_sql() -> str:
    z, p = 12, 4
    side = 1 << p
    zp = z + p
    scale = float(1 << zp)
    mx, my = tile_xy_sql("lat", "lon", zp)
    qk = quadkey_digits_sql("tx", "ty", z)

    def vx(lon: float) -> str:
        return f"((CAST({lon} AS DOUBLE) + 180.0) / 360.0 * {scale})"

    def vy(lat: float) -> str:
        s = f"sin((greatest(least(CAST({lat} AS DOUBLE), 85.05112878), -85.05112878) * pi() / 180.0))"
        return f"((0.5 - ln((1.0 + {s}) / (1.0 - {s})) / (4.0 * pi())) * {scale})"

    verts = [(vx(lon), vy(lat)) for lon, lat in _ZONAL_RING]
    terms = []
    for k in range(len(verts)):
        x1, y1 = verts[k]
        x2, y2 = verts[(k + 1) % len(verts)]
        terms.append(
            f"CASE WHEN (({y1} > cy) != ({y2} > cy)) AND "
            f"(cx < (({x2} - {x1}) * (cy - {y1}) / ({y2} - {y1}) + {x1})) "
            "THEN 1 ELSE 0 END"
        )
    inside = "(" + " + ".join(terms) + ") % 2 = 1"

    lon_w, lat_s = min(v[0] for v in _ZONAL_RING), min(v[1] for v in _ZONAL_RING)
    lon_e, lat_n = max(v[0] for v in _ZONAL_RING), max(v[1] for v in _ZONAL_RING)
    cx0, cy0 = tile_xy_sql(f"CAST({lat_n} AS DOUBLE)", f"CAST({lon_w} AS DOUBLE)", z)
    cx1, cy1 = tile_xy_sql(f"CAST({lat_s} AS DOUBLE)", f"CAST({lon_e} AS DOUBLE)", z)
    return f"""
    WITH corners AS (
      SELECT {cx0} AS x0, {cy0} AS y0, {cx1} AS x1, {cy1} AS y1
    ),
    tiles AS (
      SELECT t_x.tx AS tx, t_y.ty AS ty
      FROM corners,
           unnest(range(least(x0, x1), greatest(x0, x1) + 1)) t_x(tx),
           unnest(range(least(y0, y1), greatest(y0, y1) + 1)) t_y(ty)
    ),
    mask AS (
      SELECT tx, ty, p_x.px AS px, p_y.py AS py
      FROM tiles,
           unnest(range({side})) p_x(px),
           unnest(range({side})) p_y(py),
           LATERAL (SELECT CAST(tx * {side} + p_x.px AS DOUBLE) + 0.5 AS cx,
                           CAST(ty * {side} + p_y.py AS DOUBLE) + 0.5 AS cy) c
      WHERE {inside}
    ),
    pts AS (
      SELECT 40.0 + CAST(event_id % 1000 AS DOUBLE) * 0.0005 AS lat,
             -105.0 - CAST(event_id % 997 AS DOUBLE) * 0.0005 AS lon
      FROM events
    ),
    heat AS (
      SELECT gx >> {p} AS tx, gy >> {p} AS ty,
             gx & {side - 1} AS px, gy & {side - 1} AS py, COUNT(*) AS n
      FROM (SELECT {mx} AS gx, {my} AS gy FROM pts)
      GROUP BY 1, 2, 3, 4
    )
    SELECT {qk} AS quadkey,
           CAST(COUNT(*) AS BIGINT) AS inside_px,
           CAST(SUM(COALESCE(heat.n, 0)) AS BIGINT) AS n_points,
           CAST(SUM(mask.py * {side} + mask.px + 1) AS BIGINT) AS checksum
    FROM mask LEFT JOIN heat USING (tx, ty, px, py)
    GROUP BY mask.tx, mask.ty
    """


def raster_components_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector (the north rule's raster↔vector axis, reverse
    direction): one deterministic 32x24 RGB raster per user containing
    k = 1 + uid % 3 disjoint bright rectangles on a dark background
    (rect j: x0 = 2 + 10j, y0 = 3 + 5j + uid % 4, w = 5 + (uid + j) % 4,
    h = 4 + j % 3; fill luma 200 vs background 30, threshold 128), run
    through the REAL 4-connected component labeler (operators/raster.py:
    two-pass run-based union-find over the thresholded mask) and emitted
    as vector features (area, bbox, exact centroid). The oracle replays
    the rectangle layout analytically — a hash match proves the CCL
    found exactly the planted components with pixel-exact extents."""
    import numpy as np

    from activity_files_spark.operators.raster import raster_components_kernel

    w, h = 32, 24

    def image(i):
        img = np.full((h, w, 3), 30, dtype=np.uint8)
        for j in range(1 + i % 3):
            x0 = 2 + 10 * j
            y0 = 3 + 5 * j + i % 4
            rw = 5 + (i + j) % 4
            rh = 4 + j % 3
            img[y0 : y0 + rh, x0 : x0 + rw] = 200
        return {"image_id": f"u{i}", "bytes": img.tobytes(), "w": w, "h": h}

    comps = _per_user_rows(
        spark, sf_dir, image, "image_id string, bytes binary, w int, h int",
        then=[raster_components_kernel(threshold=128)],
    )
    return comps.select(
        _user_id_of("image_id"),
        "comp", "area", "min_x", "min_y", "max_x", "max_y", "cx", "cy",
    )


def _raster_components_sql() -> str:
    return """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    rects AS (
      SELECT user_id, j.j AS comp,
             2 + 10 * j.j AS min_x,
             3 + 5 * j.j + user_id % 4 AS min_y,
             5 + (user_id + j.j) % 4 AS rw,
             4 + j.j % 3 AS rh
      FROM users, (SELECT unnest(range(3)) AS j) j
      WHERE j.j < 1 + user_id % 3
    )
    SELECT user_id, CAST(comp AS INT) AS comp,
           CAST(rw * rh AS BIGINT) AS area,
           CAST(min_x AS INT) AS min_x, CAST(min_y AS INT) AS min_y,
           CAST(min_x + rw - 1 AS INT) AS max_x,
           CAST(min_y + rh - 1 AS INT) AS max_y,
           CAST(2 * min_x + rw - 1 AS DOUBLE) / 2.0 AS cx,
           CAST(2 * min_y + rh - 1 AS DOUBLE) / 2.0 AS cy
    FROM rects
    """


def stream_downsample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7 CUSTOM STATEFUL streaming operator, driver-gated: events stream
    through applyInPandasWithState keeping one row per user per 10 minutes
    (keep iff >= 600 s since the last KEPT row — the decision depends on
    per-key state, not a window function). The oracle replays the exact
    integer-microsecond keep chain with a recursive CTE (first row per
    user, then repeatedly the first later row with t - t_kept >= 600 s),
    and the kept-set aggregates (count, BIGINT event-id sum, DECIMAL-exact
    value sum) are order-independent, so a hash match proves every keep
    decision matched."""
    from activity_files_spark.streaming.stream_ops import stream_downsample_time

    src = _events_stream(spark, sf_dir)
    pts = src.select("user_id", "event_id", "ts", "value")
    kept = stream_downsample_time(
        pts, step_s=600.0, key="user_id", ts="ts", tiebreak=["event_id"]
    )
    return _drain(spark, kept, "stream_downsample", "append").groupBy("user_id").agg(
        F.count("*").alias("n_kept"),
        F.sum("event_id").cast("long").alias("sum_event_id"),
        _dec_sum(F.col("value")).alias("sum_value"),
    )


def _stream_downsample_sql() -> str:
    return """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS t,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    kept AS (
      SELECT user_id, event_id, value, t, rn FROM ev WHERE rn = 1
      UNION ALL
      SELECT nxt.user_id, nxt.event_id, nxt.value, nxt.t, nxt.rn
      FROM kept k, LATERAL (
        SELECT e.user_id, e.event_id, e.value, e.t, e.rn
        FROM ev e
        WHERE e.user_id = k.user_id AND e.rn > k.rn
          AND e.t - k.t >= 600000000
        ORDER BY e.rn LIMIT 1
      ) nxt
    )
    SELECT user_id, COUNT(*) AS n_kept,
           CAST(SUM(event_id) AS BIGINT) AS sum_event_id,
           CAST(SUM(CAST(value AS DECIMAL(22,6))) AS DOUBLE) AS sum_value
    FROM kept GROUP BY user_id
    """


def tcx_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S8 TCX full-document round-trip, driver-gated (reference contract:
    test/parsers/tcx_lossless_test.dart): per user, build an activity from
    events (points + heart-rate/speed/power channels + one lap spanning the
    track), encode it to REAL TCX XML (tcx_encode_records: per-lap Track
    windows, HeartRateBpm wrapper, TPX Speed/Watts extension), parse it back
    (decode_records), and aggregate what survived. The oracle computes the same
    aggregates arithmetically — a hash match proves the XML encoder/parser
    round-trips points, wrapped/extension channels, and lap metadata exactly.

    All summed values are dyadic (ints or 1/16-multiples), so double
    addition is exact and order-independent across both engines:
      heart_rate = 100 + event_id % 80        (int, HeartRateBpm/Value)
      power      = event_id % 400             (int, TPX <Watts>)
      speed      = floor(epoch(ts)) % 1000/16 (1/16-multiple, TPX <Speed>,
                   <= 6 significant digits so %g prints it exactly)
      lap distance_m = user_id                (int-valued double)
    """
    from activity_files_spark.sources.decode import decode_records_kernel
    from activity_files_spark.sources.records import as_records
    from activity_files_spark.sources.tcx import tcx_encode_records

    ev = _activity_events(spark, sf_dir)
    metric = _roundtrip_metric()
    points = as_records(ev.select("activity_id", "ts", "lat", "lon"), "point")
    chans = ev.select(
        "activity_id", "ts",
        F.explode(F.array(
            F.struct(F.lit("heart_rate").alias("channel"),
                     (F.lit(100) + F.col("event_id") % 80).cast("double").alias("value")),
            F.struct(F.lit("speed").alias("channel"), metric.alias("value")),
            F.struct(F.lit("power").alias("channel"),
                     (F.col("event_id") % 400).cast("double").alias("value")),
        )).alias("cv"),
    ).select("activity_id", "ts", F.col("cv.channel").alias("channel"),
             F.col("cv.value").alias("value"))
    laps = ev.groupBy("activity_id").agg(
        F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"),
        F.max(F.substring("activity_id", 2, 20).cast("double")).alias("distance_m"),
    )
    back = tcx_encode_records(
        points.unionByName(as_records(chans, "channel"))
        .unionByName(as_records(laps, "lap")),
        sport="Running",
        then=[decode_records_kernel("tcx", payload_col="xml")],
    )
    agg = back.groupBy("activity_id").agg(
        F.count(F.when(F.col("kind") == "point", 1)).alias("n_points"),
        F.count(F.when((F.col("kind") == "channel")
                       & (F.col("channel") == "heart_rate"), 1)).alias("n_hr"),
        F.sum(F.when((F.col("kind") == "channel")
                     & (F.col("channel") == "heart_rate"),
                     F.col("value"))).alias("sum_hr"),
        F.sum(F.when((F.col("kind") == "channel")
                     & (F.col("channel") == "speed"),
                     F.col("value"))).alias("sum_speed"),
        F.sum(F.when((F.col("kind") == "channel")
                     & (F.col("channel") == "power"),
                     F.col("value"))).alias("sum_power"),
        F.count(F.when(F.col("kind") == "lap", 1)).alias("n_laps"),
        F.sum(F.when(F.col("kind") == "lap",
                     F.col("distance_m"))).alias("sum_lap_dist"),
    )
    return agg.select(
        _user_id_of("activity_id"),
        "n_points", "n_hr", "sum_hr", "sum_speed", "sum_power",
        "n_laps", "sum_lap_dist",
    )


def _tcx_roundtrip_sql() -> str:
    return """
    SELECT user_id,
           COUNT(*) AS n_points,
           COUNT(*) AS n_hr,
           SUM(CAST(100 + event_id % 80 AS DOUBLE)) AS sum_hr,
           SUM(CAST((epoch_us(ts) // 1000000) % 1000 AS DOUBLE)
               / CAST(16.0 AS DOUBLE)) AS sum_speed,
           SUM(CAST(event_id % 400 AS DOUBLE)) AS sum_power,
           CAST(1 AS BIGINT) AS n_laps,
           CAST(MAX(user_id) AS DOUBLE) AS sum_lap_dist
    FROM events GROUP BY user_id
    """


def csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S10 CSV text round-trip, driver-gated (reference contract:
    test/formats/csv_geojson_roundtrip_test.dart): per user, points + a
    custom channel are pivoted to the wide 11-column layout, serialized to
    one CSV document per activity (csv_encode_text_df — shortest-roundtrip
    float repr), parsed back through the payload parser (decode_records,
    unknown numeric column -> custom channel), and aggregated."""
    from activity_files_spark.sources.csvsrc import csv_encode_text_df
    from activity_files_spark.sources.decode import decode_records_kernel

    ev = _activity_events(spark, sf_dir)
    metric = _roundtrip_metric()
    points = ev.select("activity_id", "ts", "lat", "lon",
                       F.lit(None).cast("double").alias("ele"))
    chans = ev.select("activity_id", "ts",
                      F.lit("custom_metric").alias("channel"),
                      metric.alias("value"))
    back = csv_encode_text_df(
        points, chans, then=[decode_records_kernel("csv", payload_col="text")])
    agg = back.groupBy("activity_id").agg(
        *_metric_aggs(),
        F.count(F.when(F.col("kind") == "diag", 1)).alias("n_diags"),
    )
    return agg.select(
        _user_id_of("activity_id"),
        "n_points", "n_channels", "sum_metric", "n_diags",
    )


def _csv_roundtrip_sql() -> str:
    return """
    SELECT user_id,
           COUNT(*) AS n_points,
           COUNT(*) AS n_channels,
           SUM(CAST((epoch_us(ts) // 1000000) % 1000 AS DOUBLE)
               / CAST(16.0 AS DOUBLE)) AS sum_metric,
           CAST(0 AS BIGINT) AS n_diags
    FROM events GROUP BY user_id
    """


def geojson_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S11 GeoJSON round-trip, driver-gated: even users encode as the
    Points variant (one Point feature per trackpoint, channel values as
    numeric properties), odd users as the LineString variant
    (coordinateProperties.times); both parse back through decode_records.
    A hash match proves both document shapes round-trip: Points recover
    per-point channels, LineStrings recover the track and emit one lap
    (times present on first/last coordinate)."""
    from activity_files_spark.sources.decode import decode_records_kernel
    from activity_files_spark.sources.geojson import (
        geojson_encode_points_records,
        geojson_encode_records,
    )
    from activity_files_spark.sources.records import as_records

    ev = _activity_events(spark, sf_dir, F.col("user_id"))
    metric = _roundtrip_metric()
    even = ev.filter(F.col("user_id") % 2 == 0)
    odd = ev.filter(F.col("user_id") % 2 == 1)
    pts_cols = ["activity_id", "ts", "lat", "lon"]
    decode = [decode_records_kernel("geojson", payload_col="text")]
    even_back = geojson_encode_points_records(
        as_records(even.select(*pts_cols), "point").unionByName(as_records(
            even.select("activity_id", "ts",
                        F.lit("custom_metric").alias("channel"),
                        metric.alias("value")),
            "channel",
        )),
        then=decode,
    )
    odd_back = geojson_encode_records(
        as_records(odd.select(*pts_cols), "point"), then=decode)
    back = even_back.unionByName(odd_back)
    agg = back.groupBy("activity_id").agg(
        *_metric_aggs(),
        F.count(F.when(F.col("kind") == "lap", 1)).alias("n_laps"),
    )
    return agg.select(
        _user_id_of("activity_id"),
        "n_points", "n_channels", "sum_metric", "n_laps",
    )


def _geojson_roundtrip_sql() -> str:
    return """
    SELECT user_id,
           COUNT(*) AS n_points,
           COUNT(*) FILTER (user_id % 2 = 0) AS n_channels,
           SUM(CAST((epoch_us(ts) // 1000000) % 1000 AS DOUBLE)
               / CAST(16.0 AS DOUBLE)) FILTER (user_id % 2 = 0) AS sum_metric,
           CAST(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_laps
    FROM events GROUP BY user_id
    """


# ------------------------------------------------------------------ contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: cell-encode the derived trackpoints at sf0.001, PIP-join the
    broadcast geofence set through the shared cover join
    (operators/spatial.rect_pip_join), roll up per (geofence, cell) — the
    core tiling + spatial-join pipeline in one plan."""
    from activity_files_spark.operators.spatial import rect_pip_join

    sf_dir = "/root/testdata/sf0.001"
    ev = _read(spark, sf_dir, "events").select(
        "event_id", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    enc = ev.withColumn("cell", quadkey_col(F.col("lat"), F.col("lon"), 12))
    j = rect_pip_join(enc, GEOFENCES, z=12)
    return j.groupBy("geofence_id", "cell").agg(F.count("*").alias("n_points"))


def dbscan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based clustering (operators/dbscan.py — the
    ST_ClusterDBSCAN-shaped operator): signup points on the derived grid,
    eps=150m / min_pts=4, per-point (role, cluster) rows. The Spark path
    finds ε-neighbors with the 3x3 grid-cell equi-join and closes
    core-core edges with min-label connected components; the oracle
    replays the ε-graph BRUTE FORCE plus the same closure as a WITH
    RECURSIVE min-label reach, so every core/border/noise decision and
    every cluster label is hash-gated. Border points attach to the MIN
    cluster among their core neighbors (the deterministic variant both
    engines share — see the module doc for why textbook DBSCAN isn't
    engine-portable)."""
    from activity_files_spark.operators.dbscan import dbscan

    ev = _read(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    pts = ev.select(
        F.col("event_id").alias("point_id"),
        _lat_col().alias("lat"),
        _lon_col().alias("lon"),
    )
    return dbscan(pts, eps_m=150.0, min_pts=4, max_abs_lat_deg=41.0)


def _dbscan_sql() -> str:
    from activity_files_spark.operators.dbscan import dbscan_sql

    body = dbscan_sql("pts", eps_m=150.0, min_pts=4)
    return f"""
    WITH RECURSIVE pts AS (
      SELECT event_id AS point_id, {LAT_EXPR_SQL} AS lat, {LON_EXPR_SQL} AS lon
      FROM events WHERE event_type = 'signup'
    ),
    {body}
    SELECT point_id, role, cluster FROM db_out
    """


def stay_points_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (trajectory.stay_points — Li et al. 2008 visit
    mining with the faithful anchor creep): each user walks a deterministic
    station circuit derived from their event sequence (12 points per
    station ~5m-jittered, 1.1km hops between stations, synthetic 30s
    cadence), and the detector recovers the dwell at every station whose
    visit spans >= 240s within a 120m anchor radius. The Spark side is the
    sequential applyInPandas anchor chain on the scalar-libm haversine
    twin; the oracle replays the SAME chain as a WITH RECURSIVE anchor
    walk (LATERAL first-radius-break seek per step) — emit decisions,
    creep steps, and interval bounds are all hash-gated. Centroids are
    decimal-exact coordinate sums computed RELATIONALLY (one equi-join on
    user + seq-range filter, decimal aggregation in both engines) so no
    float leaves the kernel."""
    from activity_files_spark.operators.trajectory import stay_points

    pts = _stay_walk_points(spark, sf_dir)
    stays = stay_points(
        pts, d_max_m=120.0, t_min_s=240.0, key="user_id", seq="seq",
        id_col="event_id", tss="tss", lat="lat", lon="lon",
    )
    cent = (
        stays.join(pts, "user_id")
        .where(F.col("seq").between(F.col("start_seq"), F.col("end_seq")))
        .groupBy("user_id", "start_seq", "end_seq", "start_id", "end_id",
                 "n_points", "dwell_s")
        .agg(
            F.sum(F.col("lat").cast("decimal(28,9)")).cast("double").alias("sum_lat"),
            F.sum(F.col("lon").cast("decimal(28,9)")).cast("double").alias("sum_lon"),
        )
    )
    return cent.select(
        "user_id", "start_id", "end_id", "n_points", "dwell_s",
        "sum_lat", "sum_lon",
    )


def _stay_points_sql() -> str:
    from activity_files_spark.operators.trajectory import stay_points_sql

    body = stay_points_sql("walk", 120.0, 240.0, key="user_id", id_col="event_id")
    return f"""
    WITH RECURSIVE walk AS (
      SELECT user_id, event_id, seq,
             CAST(seq AS DOUBLE) * 30.0 AS tss,
             47.0 + CAST(FLOOR((seq - 1) / 12) AS DOUBLE) * 0.01
                  + CAST((seq * 7) % 11 AS DOUBLE) * 0.000045 AS lat,
             11.0 + CAST(FLOOR((seq - 1) / 12) AS DOUBLE) * 0.01
                  + CAST((seq * 13) % 7 AS DOUBLE) * 0.00005 AS lon
      FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events WHERE event_type = 'view'
      )
    ),
    {body}
    SELECT o.user_id, o.start_id, o.end_id, o.n_points, o.dwell_s,
           CAST(SUM(CAST(p.lat AS DECIMAL(28,9))) AS DOUBLE) AS sum_lat,
           CAST(SUM(CAST(p.lon AS DECIMAL(28,9))) AS DOUBLE) AS sum_lon
    FROM sp_out o JOIN walk p
      ON p.user_id = o.user_id AND p.seq BETWEEN o.start_seq AND o.end_seq
    GROUP BY 1, 2, 3, 4, 5
    """


def convex_hull_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex hull per route (operators/hull.py — the ST_ConvexHull
    shape): each user's click events trace a deterministic spiral
    (general position — no collinear triples, see the module doc for why
    the strict-left gate requires it), the Spark side runs Andrew's
    monotone chain in an applyInPandas kernel, and the oracle replays the
    hull DEFINITION — (a,b) is an edge iff every other point is strictly
    left — as a pairs x points join + zero-violations aggregate, then
    orders vertices by centroid angle anchored at the lexicographic
    minimum. Two independent algorithms; every vertex AND its
    counterclockwise position is hash-gated."""
    from activity_files_spark.operators.hull import convex_hull

    pts = _hull_spiral_pts(spark, sf_dir)
    return convex_hull(pts, key="user_id", seq="seq", x="lon", y="lat")


def _hull_spiral_pts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic general-position spiral per user over click events —
    shared input of convex_hull_routes and hull_metrics_routes."""
    ev = _read(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", F.row_number().over(w).cast("long").alias("seq")
    ).select(
        "user_id",
        "seq",
        (
            F.lit(11.0)
            + F.lit(0.001) * F.col("seq").cast("double")
            * F.cos(F.col("seq").cast("double") * F.lit(0.7))
        ).alias("lon"),
        (
            F.lit(47.0)
            + F.lit(0.001) * F.col("seq").cast("double")
            * F.sin(F.col("seq").cast("double") * F.lit(0.7))
        ).alias("lat"),
    )


_HULL_SPIRAL_CTE = """spiral AS (
      SELECT user_id, seq,
             11.0 + 0.001 * CAST(seq AS DOUBLE) * COS(CAST(seq AS DOUBLE) * 0.7) AS lon,
             47.0 + 0.001 * CAST(seq AS DOUBLE) * SIN(CAST(seq AS DOUBLE) * 0.7) AS lat
      FROM (
        SELECT user_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events WHERE event_type = 'click'
      )
    )"""


def _convex_hull_sql() -> str:
    from activity_files_spark.operators.hull import convex_hull_sql

    body = convex_hull_sql("spiral")
    return f"""
    WITH {_HULL_SPIRAL_CTE},
    {body}
    SELECT key AS user_id, seq, hull_order FROM ch_verts
    """


def hull_metrics_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon measurements over the per-route convex hull (the ST_Area /
    ST_Perimeter / ST_Centroid trio): the hull ring from
    operators/hull.py joins back to its coordinates, one LEAD-with-wrap
    window walks the counterclockwise edges, and per route the query pins
    vertex count, the shoelace signed-area sum (2A, positive for CCW —
    also certifies orientation), the haversine perimeter, and the
    polygon-centroid numerator sums. All edge terms are plain IEEE
    multiplies (plus the bit-identical haversine twin), summed through the
    decimal-exact discipline, so the oracle replays every edge."""
    from activity_files_spark.operators.hull import convex_hull

    pts = _hull_spiral_pts(spark, sf_dir)
    hull = convex_hull(pts, key="user_id", seq="seq", x="lon", y="lat")
    verts = hull.join(pts, ["user_id", "seq"]).select(
        "user_id", "hull_order", "lon", "lat"
    )
    wv = Window.partitionBy("user_id").orderBy("hull_order")
    wall = wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    nxt_lon = F.coalesce(F.lead("lon").over(wv), F.first("lon").over(wall))
    nxt_lat = F.coalesce(F.lead("lat").over(wv), F.first("lat").over(wall))
    e = verts.select(
        "user_id",
        "lon",
        "lat",
        nxt_lon.alias("nlon"),
        nxt_lat.alias("nlat"),
    )
    cross = F.col("lon") * F.col("nlat") - F.col("nlon") * F.col("lat")
    seg_m = haversine_m(F.col("lat"), F.col("lon"), F.col("nlat"), F.col("nlon"))
    return (
        e.select(
            "user_id",
            cross.alias("_cross"),
            seg_m.alias("_seg"),
            ((F.col("lon") + F.col("nlon")) * cross).alias("_cxn"),
            ((F.col("lat") + F.col("nlat")) * cross).alias("_cyn"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_vertices"),
            F.sum(F.round("_cross", 9).cast("decimal(22,9)"))
            .cast("double")
            .alias("area2_deg2"),
            F.sum(F.round("_seg", 6).cast("decimal(22,6)"))
            .cast("double")
            .alias("perimeter_m"),
            F.sum(F.round("_cxn", 9).cast("decimal(22,9)"))
            .cast("double")
            .alias("centroid_x_num"),
            F.sum(F.round("_cyn", 9).cast("decimal(22,9)"))
            .cast("double")
            .alias("centroid_y_num"),
        )
    )


def _hull_metrics_sql() -> str:
    from activity_files_spark.operators.hull import convex_hull_sql

    body = convex_hull_sql("spiral")
    seg = haversine_sql("lat", "lon", "nlat", "nlon")
    return f"""
    WITH {_HULL_SPIRAL_CTE},
    {body},
    hv AS (
      SELECT v.key AS user_id, v.hull_order, p.lon, p.lat
      FROM ch_verts v JOIN spiral p
        ON p.user_id = v.key AND p.seq = v.seq
    ), hedges AS (
      SELECT user_id, lon, lat,
             COALESCE(LEAD(lon) OVER wv, FIRST_VALUE(lon) OVER wall) AS nlon,
             COALESCE(LEAD(lat) OVER wv, FIRST_VALUE(lat) OVER wall) AS nlat
      FROM hv
      WINDOW wv AS (PARTITION BY user_id ORDER BY hull_order),
             wall AS (PARTITION BY user_id ORDER BY hull_order
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ), hterms AS (
      SELECT user_id,
             lon * nlat - nlon * lat AS _cross,
             {seg} AS _seg,
             (lon + nlon) * (lon * nlat - nlon * lat) AS _cxn,
             (lat + nlat) * (lon * nlat - nlon * lat) AS _cyn
      FROM hedges
    )
    SELECT user_id, COUNT(*) AS n_vertices,
           CAST(SUM(CAST(ROUND(_cross, 9) AS DECIMAL(22,9))) AS DOUBLE) AS area2_deg2,
           CAST(SUM(CAST(ROUND(_seg, 6) AS DECIMAL(22,6))) AS DOUBLE) AS perimeter_m,
           CAST(SUM(CAST(ROUND(_cxn, 9) AS DECIMAL(22,9))) AS DOUBLE) AS centroid_x_num,
           CAST(SUM(CAST(ROUND(_cyn, 9) AS DECIMAL(22,9))) AS DOUBLE) AS centroid_y_num
    FROM hterms GROUP BY user_id
    """


def polyline_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google Encoded Polyline (functions/polyline.py — the Maps/OSRM/
    Valhalla wire format) as a RELATIONAL codec: rounding, delta, zigzag,
    5-bit continuation chunks, and chr() are one unrolled Column tree in
    Spark and the identical SQL expression in DuckDB — no kernel, no UDF,
    the whole encoder inside whole-stage codegen. Each user's derived
    track becomes one polyline string; the emitted STRING (validated
    against Google's published spec vector in tests/test_polyline.py)
    plus its length and point count are hash-gated."""
    from activity_files_spark.functions.polyline import (
        chunks_col,
        e5_col,
        zigzag_col,
    )

    ev = _read(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", _lat_col().alias("lat"), _lon_col().alias("lon")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id",
        F.row_number().over(w).alias("seq"),
        e5_col(F.col("lat")).alias("la"),
        e5_col(F.col("lon")).alias("lo"),
    )
    d = e.select(
        "user_id",
        "seq",
        (F.col("la") - F.coalesce(F.lag("la").over(
            Window.partitionBy("user_id").orderBy("seq")), F.lit(0))).alias("dla"),
        (F.col("lo") - F.coalesce(F.lag("lo").over(
            Window.partitionBy("user_id").orderBy("seq")), F.lit(0))).alias("dlo"),
    )
    g = d.select(
        "user_id",
        "seq",
        F.concat(
            chunks_col(zigzag_col(F.col("dla"))),
            chunks_col(zigzag_col(F.col("dlo"))),
        ).alias("grp"),
    )
    return g.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq", "grp"))),
                lambda s: s["grp"],
            ),
        ).alias("polyline"),
        F.count("*").alias("n_points"),
    ).select(
        "user_id", "polyline", F.length("polyline").alias("len_chars"), "n_points"
    )


def _polyline_sql() -> str:
    from activity_files_spark.functions.polyline import (
        chunks_sql,
        e5_sql,
        zigzag_sql,
    )

    return f"""
    WITH pts AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
             {e5_sql(LAT_EXPR_SQL)} AS la,
             {e5_sql(LON_EXPR_SQL)} AS lo
      FROM events
    ), d AS (
      SELECT user_id, seq,
             la - COALESCE(LAG(la) OVER w, 0) AS dla,
             lo - COALESCE(LAG(lo) OVER w, 0) AS dlo
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY seq)
    ), g AS (
      SELECT user_id, seq,
             {chunks_sql(zigzag_sql('dla'))} || {chunks_sql(zigzag_sql('dlo'))} AS grp
      FROM d
    )
    SELECT user_id,
           STRING_AGG(grp, '' ORDER BY seq) AS polyline,
           LENGTH(STRING_AGG(grp, '' ORDER BY seq)) AS len_chars,
           COUNT(*) AS n_points
    FROM g GROUP BY user_id
    """


def od_matrix_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination matrix — the trip-level rollup transit agencies
    build from visit mining: consecutive stay points per user (the
    stay_points_events walk) become trips, keyed by the z14 quadkey cell
    of each stay's ANCHOR point (exact lattice coordinates -> exact cell,
    no centroid division), and the matrix counts trips plus decimal-exact
    total transfer time per (origin, dest) cell pair. Pure composition:
    stay detection -> LEAD window -> coordinate joins -> quadkey -> one
    map-side-combined groupBy; the oracle replays the stay walk and the
    same windows/joins in SQL."""
    from activity_files_spark.operators.trajectory import stay_points

    pts = _stay_walk_points(spark, sf_dir)
    stays = stay_points(
        pts, d_max_m=120.0, t_min_s=240.0, key="user_id", seq="seq",
        id_col="event_id", tss="tss", lat="lat", lon="lon",
    )
    w = Window.partitionBy("user_id").orderBy("start_seq")
    trips = stays.select(
        "user_id", "start_seq", "end_seq", "dwell_s",
        F.lead("start_seq").over(w).alias("next_start_seq"),
    ).where(F.col("next_start_seq").isNotNull())
    po = pts.select(
        F.col("user_id").alias("o_uid"), F.col("seq").alias("o_s"),
        F.col("lat").alias("o_lat"), F.col("lon").alias("o_lon"),
        F.col("tss").alias("o_tss"),
    )
    pd_ = pts.select(
        F.col("user_id").alias("d_uid"), F.col("seq").alias("d_s"),
        F.col("lat").alias("d_lat"), F.col("lon").alias("d_lon"),
        F.col("tss").alias("d_tss"),
    )
    d = (
        trips.join(
            po,
            (trips["user_id"] == po["o_uid"]) & (trips["start_seq"] == po["o_s"]),
        )
        .join(
            pd_,
            (trips["user_id"] == pd_["d_uid"])
            & (trips["next_start_seq"] == pd_["d_s"]),
        )
        .select(
            quadkey_col(F.col("o_lat"), F.col("o_lon"), 14).alias("o_cell"),
            quadkey_col(F.col("d_lat"), F.col("d_lon"), 14).alias("d_cell"),
            (F.col("d_tss") - F.col("o_tss")).alias("gap_s"),
        )
    )
    return d.groupBy("o_cell", "d_cell").agg(
        F.count("*").alias("n_trips"),
        F.sum(F.col("gap_s").cast("decimal(22,6)")).cast("double").alias("sum_gap_s"),
    )


def _stay_walk_points(spark: SparkSession, sf_dir: str):
    """The deterministic station walk shared by stay_points_events and
    od_matrix_trips (see stay_points_events docstring)."""
    ev = _read(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).alias("seq"),
    ).select(
        "user_id",
        "event_id",
        "seq",
        (F.col("seq").cast("double") * F.lit(30.0)).alias("tss"),
        (
            F.lit(47.0)
            + F.floor((F.col("seq") - 1) / 12).cast("double") * F.lit(0.01)
            + ((F.col("seq") * 7) % 11).cast("double") * F.lit(0.000045)
        ).alias("lat"),
        (
            F.lit(11.0)
            + F.floor((F.col("seq") - 1) / 12).cast("double") * F.lit(0.01)
            + ((F.col("seq") * 13) % 7).cast("double") * F.lit(0.00005)
        ).alias("lon"),
    )


def _od_matrix_sql() -> str:
    from activity_files_spark.functions.quadkey import quadkey_sql
    from activity_files_spark.operators.trajectory import stay_points_sql

    body = stay_points_sql("walk", 120.0, 240.0, key="user_id", id_col="event_id")
    okey = quadkey_sql("po.lat", "po.lon", 14)
    dkey = quadkey_sql("pd.lat", "pd.lon", 14)
    return f"""
    WITH RECURSIVE walk AS (
      SELECT user_id, event_id, seq,
             CAST(seq AS DOUBLE) * 30.0 AS tss,
             47.0 + CAST(FLOOR((seq - 1) / 12) AS DOUBLE) * 0.01
                  + CAST((seq * 7) % 11 AS DOUBLE) * 0.000045 AS lat,
             11.0 + CAST(FLOOR((seq - 1) / 12) AS DOUBLE) * 0.01
                  + CAST((seq * 13) % 7 AS DOUBLE) * 0.00005 AS lon
      FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
        FROM events WHERE event_type = 'view'
      )
    ),
    {body},
    trips AS (
      SELECT user_id, start_seq, dwell_s,
             LEAD(start_seq) OVER (PARTITION BY user_id ORDER BY start_seq)
               AS next_start_seq
      FROM sp_out
    )
    SELECT {okey} AS o_cell, {dkey} AS d_cell,
           COUNT(*) AS n_trips,
           CAST(SUM(CAST(pd.tss - po.tss AS DECIMAL(22,6))) AS DOUBLE) AS sum_gap_s
    FROM trips t
    JOIN walk po ON po.user_id = t.user_id AND po.seq = t.start_seq
    JOIN walk pd ON pd.user_id = t.user_id AND pd.seq = t.next_start_seq
    WHERE t.next_start_seq IS NOT NULL
    GROUP BY 1, 2
    """


# query name -> oracle SQL builder, in the driver's order; the query
# function itself is resolved by name in queries() (module docstring)
_REGISTRY: tuple[tuple[str, Callable[[], str] | None], ...] = (
    ("q1_pricing_summary", _q1_sql),
    ("q3_shipping_priority", _q3_sql),
    ("q5_region_revenue", _q5_sql),
    ("sort_dedup_last_wins", _sort_dedup_sql),
    ("sessionize_users", _sessionize_sql),
    ("smooth_values", _smooth_sql),
    ("cumdist_track", _cumdist_sql),
    ("quadkey_cells", _quadkey_sql),
    ("pip_rect_join", _pip_sql),
    ("asof_click_purchase", _asof_sql),
    ("knn_events", _knn_sql),
    ("dedup_exact_documents", _dedup_exact_sql),
    ("token_stats_documents", _token_stats_sql),
    ("cosine_topk_embeddings", _cosine_sql),
    ("gap_events", _gap_sql),
    ("tile_assign_images", _tile_assign_sql),
    ("s2_tile_images", _s2_tile_images_sql),
    ("image_pip_join", _image_pip_sql),
    ("image_knn", _image_knn_sql),
    # no oracle: pixel/codec decode is not SQL-expressible, so the driver
    # runs a rows-only check and pytest pins it; its SQL-replayable half
    # (caption/dims/phash presence) is hash-gated via
    # image_invariants_summary
    ("validate_images_summary", None),
    ("minhash_near_dups", _minhash_sql),
    ("simhash_docs", _simhash_sql),
    ("lang_quality_docs", _lang_quality_sql),
    ("embedding_dup_pairs", _embedding_dup_sql),
    ("lsh_ann_embeddings", _lsh_ann_sql),
    ("ivf_ann_embeddings", _ivf_ann_sql),
    ("trim_invalid_points", _trim_invalid_sql),
    ("lap_splits_track", _lap_splits_sql),
    ("contiguous_group_events", _contiguous_sql),
    ("validation_diagnostics", _validation_sql),
    ("session_summary_users", _session_summary_sql),
    ("pip_raycast_join", _pip_raycast_sql),
    ("resample_track", _resample_sql),
    ("hex_cells", _hex_cells_sql),
    ("geohash_cells", _geohash_cells_sql),
    ("s2_cells_events", _s2_cells_sql),
    ("route_cell_cover_events", _route_cell_cover_sql),
    ("route_crossings_pairs", _route_crossings_sql),
    ("region_cover_cells", _region_cover_sql),
    ("densify_track_points", _densify_sql),
    ("morans_i_cells", _morans_i_sql),
    ("gi_star_hotspots", _gi_star_sql),
    ("route_simplicity_users", _route_simplicity_sql),
    ("route_fraction_points", _route_fraction_sql),
    ("emerging_hotspots_cells", _emerging_hotspots_sql),
    ("region_cover_lookup_events", _region_cover_lookup_sql),
    ("contact_pairs_events", _contact_pairs_sql),
    ("elevation_gain_users", _elevation_gain_sql),
    ("geofence_union_area", _geofence_union_sql),
    ("geofence_overlap_pairs", _geofence_overlap_sql),
    ("hll_distinct_users_cells", _hll_distinct_sql),
    ("theil_sen_cells", _theil_sen_sql),
    ("route_buffer_cells", _route_buffer_sql),
    ("sample_events_per_user", _sample_events_sql),
    ("bloom_semijoin_customers", _bloom_semijoin_sql),
    ("cms_cell_counts", _cms_cell_sql),
    ("crossing_points_users", _crossing_points_sql),
    ("project_points_track", _project_points_sql),
    ("dataset_split_documents", _dataset_split_sql),
    ("stream_cell_cover_events", _route_cell_cover_sql),
    ("shortest_path_cells", _shortest_path_cells_sql),
    ("map_match_events", _map_match_sql),
    ("route_near_dups", _route_near_dups_sql),
    ("spike_filter_events", _spike_filter_sql),
    ("within_radius_events", _within_radius_sql),
    ("speed_percentiles_users", _speed_percentiles_sql),
    ("dwell_sessions_events", _dwell_sessions_sql),
    ("bearing_turns_track", _bearing_turns_sql),
    ("zone_length_events", _zone_length_sql),
    ("resample_distance_track", _resample_distance_sql),
    ("kmeans_embeddings", _kmeans_sql),
    ("simplify_track_events", _simplify_track_sql),
    ("stream_map_match_events", _stream_map_match_sql),
    ("fit_roundtrip_stats", _fit_roundtrip_sql),
    ("gpx_roundtrip_stats", _gpx_roundtrip_sql),
    ("merge_upsert_events", _merge_upsert_sql),
    ("stream_sessionize_users", _stream_sessionize_sql),
    ("tcx_roundtrip_stats", _tcx_roundtrip_sql),
    ("csv_roundtrip_stats", _csv_roundtrip_sql),
    ("geojson_roundtrip_stats", _geojson_roundtrip_sql),
    ("stream_downsample_events", _stream_downsample_sql),
    ("audio_wav_features", _audio_wav_sql),
    ("audio_flac_features", _audio_flac_sql),
    ("audio_ogg_flac_features", _audio_ogg_flac_sql),
    ("downsample_distance_events", _downsample_distance_sql),
    ("edit_pipeline_events", _edit_pipeline_sql),
    ("point_edit_events", _point_edit_sql),
    ("video_frame_stats", _video_frame_sql),
    ("video_y4m_stats", _video_y4m_sql),
    ("video_mp4_stats", _video_mp4_sql),
    ("video_mkv_stats", _video_mkv_sql),
    ("audio_mp3_stats", _audio_mp3_sql),
    ("image_jpeg_stats", _image_jpeg_sql),
    ("frechet_route_refine", partial(_route_refine_sql, "frechet")),
    ("dtw_route_refine", partial(_route_refine_sql, "dtw")),
    ("dbscan_events", _dbscan_sql),
    ("stay_points_events", _stay_points_sql),
    ("convex_hull_routes", _convex_hull_sql),
    ("hull_metrics_routes", _hull_metrics_sql),
    ("polyline_routes", _polyline_sql),
    ("od_matrix_trips", _od_matrix_sql),
    ("image_invariants_summary", _image_invariants_sql),
    ("image_histogram_stats", _image_histogram_sql),
    ("image_gif_stats", _image_gif_sql),
    ("stream_tile_rollup_cells", _stream_tile_rollup_sql),
    ("hamming_near_dups_docs", _hamming_near_dups_sql),
    ("dedup_clusters_docs", _dedup_clusters_sql),
    ("simhash_near_dups_docs", _simhash_near_dups_sql),
    ("rasterize_heatmap_tiles", _rasterize_heatmap_sql),
    ("raster_blur_tiles", _raster_blur_sql),
    ("contour_heatmap_events", _contour_heatmap_sql),
    ("raster_components_vectorize", _raster_components_sql),
    ("raster_pyramid_tiles", _raster_pyramid_sql),
    ("zonal_stats_polygon", _zonal_stats_sql),
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    g = globals()
    return {name: g[name] for name, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql() for name, sql in _REGISTRY if sql is not None}
