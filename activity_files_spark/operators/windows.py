"""Window-function operators: smoothing, speed/distance recompute, gap
detection, distance-split sessionization.

All pure window expressions (whole-stage codegen, one shuffle on the
partition key), matching the reference's edge semantics exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.time import ts_seconds

from activity_files_spark.functions.geo import haversine_m


def smooth(
    df: DataFrame,
    value: str = "value",
    window: int = 5,
    key: str = "activity_id",
    ts: str = "ts",
    out: str | None = None,
) -> DataFrame:
    """Centered moving average, edge-clamped.

    Reference smoothHR (raw_editor.dart:616-643): left = (w-1)//2,
    right = w-left-1; frames clamp at the edges (Spark's bounded ROWS frame
    has identical clamping semantics). O(n) per partition.
    """
    left = (window - 1) // 2
    right = window - left - 1
    w = Window.partitionBy(key).orderBy(ts).rowsBetween(-left, right)
    return df.withColumn(out or value, F.avg(value).over(w))


def step_distance_m(
    df: DataFrame, key: str = "activity_id", ts: str = "ts"
) -> DataFrame:
    """Per-point haversine distance from previous point (0 for first)."""
    w = Window.partitionBy(key).orderBy(ts)
    return df.withColumn(
        "step_m",
        F.coalesce(
            haversine_m(
                F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
            ),
            F.lit(0.0),
        ),
    )


def cumulative_distance(
    df: DataFrame, key: str = "activity_id", ts: str = "ts", out: str = "distance_m"
) -> DataFrame:
    """Running haversine sum (raw_transforms.dart:59-91 / models.dart:1440-1456)."""
    w = Window.partitionBy(key).orderBy(ts).rowsBetween(Window.unboundedPreceding, 0)
    return step_distance_m(df, key, ts).withColumn(out, F.sum("step_m").over(w)).drop("step_m")


def recompute_speed(
    df: DataFrame, key: str = "activity_id", ts: str = "ts", out: str = "speed_mps"
) -> DataFrame:
    """Instantaneous speed Δd/Δt; 0 when Δt <= 0 (raw_editor.dart:646-680)."""
    w = Window.partitionBy(key).orderBy(ts)
    dt = ts_seconds(F.col(ts)) - F.lag(ts_seconds(F.col(ts))).over(w)
    d = haversine_m(F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon"))
    return df.withColumn(
        out,
        F.when(dt.isNull(), 0.0).when(dt <= 0, 0.0).otherwise(d / dt),
    )


def detect_gaps(
    df: DataFrame,
    threshold_s: float = 300.0,
    key: str = "activity_id",
    ts: str = "ts",
) -> DataFrame:
    """Rows whose gap from the previous point exceeds threshold (validation.dart:373-384)."""
    w = Window.partitionBy(key).orderBy(ts)
    gap = ts_seconds(F.col(ts)) - F.lag(ts_seconds(F.col(ts))).over(w)
    return (
        df.withColumn("gap_s", gap)
        .filter(F.col("gap_s") > threshold_s)
    )


def mark_laps_by_distance(
    points: DataFrame,
    split_m,
    key: str = "activity_id",
    ts: str = "ts",
) -> DataFrame:
    """Sessionize by distance splits (raw_editor.dart:683-750).

    Normalized monotonic accumulator: negative deltas contribute 0
    (sum(greatest(delta, 0)) over the ordered window); lap id =
    floor(cum / split). ``split_m`` may be a scalar or a Column (constant
    per activity — e.g. the auto-fix pipeline's sport-specific split).
    Returns per-lap rows: (key, lap_id, start_ts, end_ts, distance_m,
    n_points).
    """
    from pyspark.sql import Column

    split_col = split_m if isinstance(split_m, Column) else F.lit(float(split_m))
    w = Window.partitionBy(key).orderBy(ts)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    clamped = F.greatest(F.col("step_m"), F.lit(0.0))
    stepped = step_distance_m(points, key, ts).withColumn(
        "_split", split_col
    ).withColumn(
        "_cum", F.sum(clamped).over(wcum)
    )
    # the reference emits the lap AT the boundary sample: a point whose step
    # crosses a split multiple CLOSES its lap, so lap id = floor of the
    # accumulator BEFORE this point's step
    lapped = stepped.withColumn(
        "lap_id", F.floor((F.col("_cum") - clamped) / F.col("_split")).cast("int")
    )
    total = F.max("_cum").over(Window.partitionBy(key))
    lapped = lapped.withColumn("_total", total)
    # full laps cover exactly `split_m`; the open last lap covers the
    # leftover (reference subtracts `meters` from the accumulator per lap)
    return lapped.groupBy(key, "lap_id").agg(
        F.min(ts).alias("start_ts"),
        F.max(ts).alias("end_ts"),
        F.round(
            F.least(
                (F.col("lap_id").cast("double") + 1.0) * F.first("_split"),
                F.first("_total"),
            )
            - F.col("lap_id").cast("double") * F.first("_split"),
            6,
        ).alias("distance_m"),
        F.count("*").alias("n_points"),
    )


def sessionize_gap(
    df: DataFrame,
    gap_s: float,
    key: str = "user_id",
    ts: str = "ts",
    session_col: str = "session_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Generic gap sessionization (the batch analogue of session_window):
    a new session starts when the gap from the previous row > gap_s.

    ``tiebreak``: extra deterministic order column for tied timestamps.
    The running sum uses an explicit ROWS frame — the default RANGE frame
    would collapse tied-ts peers to one session id and make lag(ts)
    nondeterministic over ties.
    """
    order = [ts, tiebreak] if tiebreak else [ts]
    w = Window.partitionBy(key).orderBy(*order)
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = ts_seconds(F.col(ts)) - F.lag(ts_seconds(F.col(ts))).over(w)
    return (
        df.withColumn("_new", F.when(gap.isNull() | (gap <= gap_s), 0).otherwise(1))
        .withColumn(session_col, F.sum("_new").over(wrows).cast("long"))
        .drop("_new")
    )


def dwell_sessions(
    points: DataFrame,
    lon_w: float,
    lon_e: float,
    lat_s: float,
    lat_n: float,
    key: str = "activity_id",
    ts: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """Geofence dwell sessions ("time in zone"): contiguous runs of points
    inside an inclusive rectangle become one row each with entry/exit
    timestamps and dwell seconds.

    Not in the reference (it has geofence polygons from GeoJSON but no
    residency analytics); extension in the PIP family. Pure window
    composition — inside flag, run id via lag-change + running sum (explicit
    ROWS frame: the default RANGE frame merges tied-ts peers), per-run
    min/max — one shuffle, exact integer dwell values (epoch-second diffs),
    so the SQL twin matches bit-for-bit.
    """
    order = [ts, tiebreak] if tiebreak else [ts]
    w = Window.partitionBy(key).orderBy(*order)
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inside = (
        (F.col(lon) >= F.lit(lon_w)) & (F.col(lon) <= F.lit(lon_e))
        & (F.col(lat) >= F.lit(lat_s)) & (F.col(lat) <= F.lit(lat_n))
    )
    df = points.withColumn("_in", inside.cast("int"))
    changed = (
        F.lag("_in").over(w).isNull() | (F.col("_in") != F.lag("_in").over(w))
    ).cast("int")
    df = df.withColumn("_run", F.sum(changed).over(wrows))
    return (
        df.filter(F.col("_in") == 1)
        .groupBy(key, "_run")
        .agg(
            F.min(ts).alias("enter_ts"),
            F.max(ts).alias("exit_ts"),
            F.count("*").alias("n_points"),
            (
                F.max(ts_seconds(F.col(ts))) - F.min(ts_seconds(F.col(ts)))
            ).alias("dwell_s"),
        )
        .drop("_run")
    )


def exact_percentiles(
    df: DataFrame,
    key: str,
    value: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """EXACT per-key percentiles as order statistics (percentile_disc
    semantics: the value at rank ceil(q*n), 1-based) — not an approximate
    sketch. One window sort per key (the shuffle any exact order statistic
    costs) + a map-side-combined rollup; ties need no tiebreak because the
    rank picks a VALUE from the sorted multiset, which is invariant to tie
    order. Returns (key, n, p50, p90, ... named p{100q:g}).

    Approximate sketches (percentile_approx/t-digest) are the right call
    when 0.1% error is fine; this is the exact twin for gates and SLA-style
    queries, and the definition is trivially replayable in any engine
    (ROW_NUMBER + COUNT + rank pick), unlike interpolating percentile_cont
    whose arithmetic varies by implementation.
    """
    w = Window.partitionBy(key).orderBy(value)
    wall = Window.partitionBy(key)
    r = df.select(
        key,
        F.col(value).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(wall).alias("_n"),
    )
    aggs = [F.max("_n").alias("n")]
    for q in qs:
        rank = F.ceil(F.lit(q) * F.col("_n")).cast("long")
        aggs.append(
            F.max(F.when(F.col("_rn") == rank, F.col("_v"))).alias(
                f"p{100 * q:g}".replace(".", "_")
            )
        )
    return r.groupBy(key).agg(*aggs)


def exact_percentiles_sql(
    src_cte: str,
    key: str,
    value: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    prefix: str = "ep",
) -> tuple[str, str]:
    """DuckDB twin of :func:`exact_percentiles` — same rank definition.
    Returns (cte_sql, final_name); final exposes (key, n, p...)."""
    p = prefix
    ranked = (
        f"{p}_r AS (SELECT {key}, {value} AS _v, "
        f"ROW_NUMBER() OVER (PARTITION BY {key} ORDER BY {value}) AS _rn, "
        f"COUNT(*) OVER (PARTITION BY {key}) AS _n FROM {src_cte})"
    )
    cols = []
    for q in qs:
        name = f"p{100 * q:g}".replace(".", "_")
        cols.append(
            f"MAX(CASE WHEN _rn = CAST(CEIL({q!r} * _n) AS BIGINT) "
            f"THEN _v END) AS {name}"
        )
    final = f"{p}_out"
    out = (
        f"{final} AS (SELECT {key}, MAX(_n) AS n, {', '.join(cols)} "
        f"FROM {p}_r GROUP BY {key})"
    )
    return ",\n    ".join([ranked, out]), final
