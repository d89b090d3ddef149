"""Normalization operators — the reference's RawEditor semantics as lazy
DataFrame stages (reference: lib/src/transforms/raw_editor.dart).

Every function takes and returns a DataFrame; nothing materializes until the
sink. All of these are pure Column expressions + window functions — no Python
UDFs — so they stay inside whole-stage codegen and scale linearly with
partition count.

Trackpoint schema convention (FIXTURES.md §2):
    activity_id string, seq long, ts timestamp, lat double, lon double,
    ele double (nullable), ... extra columns pass through.
Channel long format (FIXTURES.md §3):
    activity_id string, channel string, ts timestamp, value double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.geo import haversine_m
from activity_files_spark.functions.time import ts_seconds

# Reference constants (raw_editor.dart:82-195)
NULL_ISLAND_EPS = 1e-6
ELE_SENTINEL_M = -499.0  # elevation <= -499 m is cleared (not dropped)


def sort_dedup(
    df: DataFrame,
    key: str = "activity_id",
    ts: str = "ts",
    order: str = "seq",
) -> DataFrame:
    """Stable sort by ts with duplicate-ts resolution: LAST occurrence wins.

    Reference: raw_editor.dart:21-67 — duplicate timestamps keep the last
    occurrence in input order; output sorted ascending by ts. The reference's
    already-sorted short-circuit is unnecessary under Spark (the shuffle is
    avoided by partitioning on ``key`` upstream, not by skipping the sort).
    """
    w = Window.partitionBy(key, ts).orderBy(F.col(order).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def trim_invalid(points: DataFrame) -> DataFrame:
    """Drop invalid coordinates, clear sentinel elevations.

    Reference semantics (raw_editor.dart:82-195):
    - drop rows with non-finite or out-of-range lat∉[-90,90] / lon∉[-180,180]
    - drop Null-Island sentinel rows (|lat| AND |lon| < 1e-6)
    - CLEAR (null out, don't drop) elevation <= -499 m
    """
    finite = (
        F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
        & ~F.isnan("lat")
        & ~F.isnan("lon")
    )
    in_range = (
        (F.col("lat") >= -90.0) & (F.col("lat") <= 90.0)
        & (F.col("lon") >= -180.0) & (F.col("lon") <= 180.0)
    )
    not_null_island = ~(
        (F.abs(F.col("lat")) < NULL_ISLAND_EPS) & (F.abs(F.col("lon")) < NULL_ISLAND_EPS)
    )
    out = points.filter(finite & in_range & not_null_island)
    if "ele" in points.columns:
        out = out.withColumn(
            "ele",
            F.when(F.col("ele").isNotNull() & (F.col("ele") <= ELE_SENTINEL_M), None)
            .otherwise(F.col("ele")),
        )
    return out


def trim_channels_to_envelope(
    channels: DataFrame, points: DataFrame, key: str = "activity_id"
) -> DataFrame:
    """Drop channel samples outside [first, last] point time per activity.

    Reference: raw_editor.dart:155-168. Envelope is tiny (one row per
    activity) → broadcast-joined back.
    """
    env = points.groupBy(key).agg(
        F.min("ts").alias("_t0"), F.max("ts").alias("_t1")
    )
    return (
        channels.join(F.broadcast(env), key)
        .filter((F.col("ts") >= F.col("_t0")) & (F.col("ts") <= F.col("_t1")))
        .drop("_t0", "_t1")
    )


def crop(df: DataFrame, start, end, ts: str = "ts") -> DataFrame:
    """Inclusive time-range filter (raw_editor.dart:201-241)."""
    return df.filter((F.col(ts) >= F.lit(start)) & (F.col(ts) <= F.lit(end)))


def delete_range(df: DataFrame, start, end, ts: str = "ts") -> DataFrame:
    """Remove inclusive range, keep timeline gap (raw_editor.dart:367-405)."""
    return df.filter((F.col(ts) < F.lit(start)) | (F.col(ts) > F.lit(end)))


def largest_contiguous_group(
    points: DataFrame,
    key: str = "activity_id",
    max_gap_hours: float = 24.0,
    tiebreak: str | None = None,
) -> DataFrame:
    """FIT contiguous-group outlier filter (fit_parser.dart:1252-1332):
    sessionize on time gaps > ``max_gap_hours``; keep the largest group.

    Pure window composition: lag-gap flag → running sum = group id →
    count per group → keep max-count group (earliest wins ties).
    ``tiebreak`` adds a deterministic order column for tied timestamps;
    the running sum uses an explicit ROWS frame (the default RANGE frame
    merges tied-ts peers into one frame and mis-groups them).
    """
    order = ["ts", tiebreak] if tiebreak else ["ts"]
    w = Window.partitionBy(key).orderBy(*order)
    wrows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_s = ts_seconds(F.col("ts")) - F.lag(ts_seconds(F.col("ts"))).over(w)
    df = points.withColumn(
        "_new_grp",
        F.when(gap_s.isNull() | (gap_s <= max_gap_hours * 3600.0), 0).otherwise(1),
    ).withColumn("_grp", F.sum("_new_grp").over(wrows))
    counts = df.groupBy(key, "_grp").agg(F.count("*").alias("_cnt"), F.min("ts").alias("_gts"))
    best = (
        counts.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.col("_cnt").desc(), F.col("_gts").asc())
            ),
        )
        .filter(F.col("_rk") == 1)
        .select(key, "_grp")
    )
    return df.join(best, [key, "_grp"], "left_semi").drop("_new_grp", "_grp")


def _interval_us(seconds: float):
    """Signed sub-second-capable interval literal (µs resolution, matching
    the reference's Duration granularity)."""
    return F.expr(f"INTERVAL {int(round(seconds * 1_000_000))} MICROSECOND")


def insert_pause(df: DataFrame, at, duration_s: float, ts: str = "ts") -> DataFrame:
    """Shift every row STRICTLY after ``at`` later by ``duration_s`` — the
    reference's pause-insert time edit (raw_editor.dart:407-449: the remap
    is ``t.isAfter(atUtc)``, so a sample exactly at ``at`` does NOT move).
    Pure expression; channel rows shift with the same call. Negative
    durations raise, matching the reference's ArgumentError."""
    if duration_s < 0:
        raise ValueError("insert_pause duration must not be negative")
    at_lit = F.lit(at).cast("timestamp")
    return df.withColumn(
        ts,
        F.when(F.col(ts) > at_lit, F.col(ts) + _interval_us(duration_s))
        .otherwise(F.col(ts)),
    )


def remove_pause(df: DataFrame, start, end, ts: str = "ts") -> DataFrame:
    """Close a time gap (raw_editor.dart:451-503): drop rows STRICTLY inside
    ``(start, end)`` (both boundaries kept), then shift rows at/after ``end``
    earlier by the gap length — a row exactly at ``start`` stays put and a
    row exactly at ``end`` lands on ``start``."""
    s_lit = F.lit(start).cast("timestamp")
    e_lit = F.lit(end).cast("timestamp")
    import pandas as pd

    dur = (pd.Timestamp(end) - pd.Timestamp(start)).total_seconds()
    if dur < 0:
        raise ValueError("remove_pause end must not be before start")
    return df.filter((F.col(ts) <= s_lit) | (F.col(ts) >= e_lit)).withColumn(
        ts,
        F.when(F.col(ts) >= e_lit, F.col(ts) - _interval_us(dur))
        .otherwise(F.col(ts)),
    )


def insert_pause_intervals(
    laps: DataFrame, at, duration_s: float,
    start: str = "start_ts", end: str = "end_ts",
) -> DataFrame:
    """Pause-insert on interval rows (laps/sets), mirroring the reference's
    ``_shiftRangesAfter`` (raw_editor.dart:425-447 via the helper): an
    interval starting strictly after ``at`` shifts wholly; one that merely
    *ends* after ``at`` (straddles the pause) has only its end extended."""
    if duration_s < 0:
        raise ValueError("insert_pause duration must not be negative")
    at_lit = F.lit(at).cast("timestamp")
    d = _interval_us(duration_s)
    return laps.withColumn(
        end, F.when(F.col(end) > at_lit, F.col(end) + d).otherwise(F.col(end))
    ).withColumn(
        start, F.when(F.col(start) > at_lit, F.col(start) + d).otherwise(F.col(start))
    )


def remove_pause_intervals(
    laps: DataFrame, from_, to,
    start: str = "start_ts", end: str = "end_ts",
) -> DataFrame:
    """Close-gap on interval rows, mirroring ``_closeGapInRanges``
    (raw_editor.dart:477-495 via the helper): keep-before, shift-after,
    drop-inside, clip straddle-start to ``from``, snap straddle-end's start
    to ``from`` and shift its end back, spanning intervals lose the gap
    length; zero-length results are dropped."""
    import pandas as pd

    gap_s = (pd.Timestamp(to) - pd.Timestamp(from_)).total_seconds()
    if gap_s < 0:
        raise ValueError("remove_pause end must not be before start")
    f_lit = F.lit(from_).cast("timestamp")
    t_lit = F.lit(to).cast("timestamp")
    g = _interval_us(gap_s)
    s, e = F.col(start), F.col(end)
    before = e <= f_lit
    after = s >= t_lit
    inside = (s > f_lit) & (e < t_lit)
    straddle_start = (s <= f_lit) & (e > f_lit) & (e < t_lit)
    straddle_end = (s > f_lit) & (s < t_lit) & (e >= t_lit)
    new_start = (
        F.when(before, s)
        .when(after, s - g)
        .when(straddle_start, s)
        .when(straddle_end, f_lit)
        .otherwise(s)  # spans the whole gap: start keeps
    )
    new_end = (
        F.when(before, e)
        .when(after, e - g)
        .when(straddle_start, f_lit)
        .otherwise(e - g)  # straddle-end and spanning: shift end back
    )
    # single projection so every condition sees the ORIGINAL boundaries;
    # before/after branches keep zero-length intervals (no addIfPositive)
    out = laps.filter(~inside).select(
        *[
            new_start.alias(c) if c == start
            else new_end.alias(c) if c == end
            else c
            for c in laps.columns
        ],
        (before | after).alias("_keep_zero"),
    )
    # addIfPositive: clipped/snapped intervals that collapsed are dropped
    return out.filter(
        (F.col(end) > F.col(start)) | F.col("_keep_zero")
    ).drop("_keep_zero")


def shift_time(df: DataFrame, delta_s: float, ts_cols=("ts",)) -> DataFrame:
    """Offset every timestamp column by ``delta_s`` seconds — the reference's
    ``shiftTime`` (raw_editor.dart:244-291), which moves points, channel
    samples, laps, sets, events, and lengths together. Callers pass the
    interval frames' columns via ``ts_cols=("start_ts", "end_ts")``; negative
    deltas shift backwards."""
    d = _interval_us(delta_s)
    for c in ts_cols:
        df = df.withColumn(c, F.col(c) + d)
    return df


def insert_point(
    points: DataFrame,
    values: dict,
    key: str = "activity_id",
    seq: str = "seq",
    ts: str = "ts",
    keys: DataFrame | None = None,
) -> DataFrame:
    """Insert one point into every activity's point list, maintaining
    chronological order the way the reference does (raw_editor.dart:296-307):
    the new point lands at the FIRST list position whose time is strictly
    after the new time, or is appended. The list is NOT re-sorted, so
    ordering bugs in the input stay observable, and no channel/lap rows are
    touched (the op takes only the points frame).

    ``values`` maps column name -> literal for the new point and must
    include ``ts``; columns not named are null. ``seq`` must be the
    contiguous 0-based list position (the repo's trackpoint convention);
    positions at/after the insertion index shift up by one and the new row
    takes the insertion index, exactly like ``List.insert``.

    A DataFrame group with zero rows doesn't exist, so the reference's
    insert-into-an-empty-activity case needs the activity universe passed
    explicitly: with ``keys`` (a one-column ``key`` frame), activities
    present in ``keys`` but absent from ``points`` get the new point at
    position 0 (``RawEditor.insertPoint`` on an empty list).
    """
    if ts not in values:
        raise ValueError("insert_point values must include the ts column")
    new_ts = F.lit(values[ts]).cast("timestamp")
    w = Window.partitionBy(key)
    with_idx = points.withColumn(
        "_ins_at",
        F.coalesce(
            F.min(F.when(F.col(ts) > new_ts, F.col(seq))).over(w),
            F.max(F.col(seq)).over(w) + F.lit(1),
        ),
    )
    shifted = with_idx.withColumn(
        seq,
        F.col(seq) + F.when(F.col(seq) >= F.col("_ins_at"), F.lit(1)).otherwise(F.lit(0)),
    )
    cols = points.columns
    at_idx = with_idx.groupBy(key).agg(F.min("_ins_at").alias(seq))
    if keys is not None:
        empty = keys.select(key).join(points.select(key), key, "left_anti")
        at_idx = at_idx.unionByName(
            empty.withColumn(seq, F.lit(0).cast("long"))
        )
    new_rows = at_idx.select(
        *[
            F.col(c) if c in (key, seq)
            else F.lit(values.get(c)).cast(points.schema[c].dataType).alias(c)
            for c in cols
        ]
    )
    return shifted.drop("_ins_at").unionByName(new_rows)


def _check_index_in_range(points: DataFrame, index: int, key: str) -> None:
    """Eager RangeError twin: raise IndexError unless every activity has a
    point at ``index`` (reference RangeError.checkValidIndex). Costs one tiny
    agg job — the distributed query path passes strict=False instead.

    A frame with ZERO rows also raises: it is the DataFrame image of the
    reference's empty points list, whose ``deletePointAt(0)`` throws
    RangeError (raw_editor_edit_test.dart 'throws RangeError on empty
    activity'). Pipelines that may legitimately be empty use strict=False."""
    if index < 0:
        raise IndexError(f"point index {index} is negative")
    row = points.groupBy(key).count().agg(F.min("count").alias("n")).first()
    n = row["n"] if row is not None else None
    if n is None or n <= index:
        raise IndexError(f"point index {index} out of range (min group size {n or 0})")


def delete_point_at(
    points: DataFrame,
    index: int,
    key: str = "activity_id",
    seq: str = "seq",
    strict: bool = True,
) -> DataFrame:
    """Remove the point at list position ``index`` from every activity and
    close the seq gap (raw_editor.dart:309-319). ``strict=True`` replays the
    reference's RangeError as IndexError (one small eager agg); strict=False
    is the lazy plan-only form used inside composed driver queries, where an
    out-of-range index is a per-activity no-op. No channel/lap changes."""
    if strict:
        _check_index_in_range(points, index, key)
    elif index < 0:
        raise IndexError(f"point index {index} is negative")
    return points.filter(F.col(seq) != F.lit(index)).withColumn(
        seq,
        F.col(seq) - F.when(F.col(seq) > F.lit(index), F.lit(1)).otherwise(F.lit(0)),
    )


def update_point(
    points: DataFrame,
    index: int,
    *,
    lat: float | None = None,
    lon: float | None = None,
    ele: float | None = None,
    ts=None,
    key: str = "activity_id",
    seq: str = "seq",
    strict: bool = True,
) -> DataFrame:
    """Update the point at list position ``index`` in place, preserving every
    field not named (raw_editor.dart:321-346). When ``ts`` is given the list
    is re-sorted by time afterwards (list positions renumbered); otherwise
    order is untouched. Ties on the new time keep their prior relative order
    (a stable sort — the reference's comparator leaves tie order
    unspecified, so the deterministic choice is ours). ``strict`` as in
    :func:`delete_point_at`."""
    if strict:
        _check_index_in_range(points, index, key)
    elif index < 0:
        raise IndexError(f"point index {index} is negative")
    at_idx = F.col(seq) == F.lit(index)
    out = points
    for col_name, val in (("lat", lat), ("lon", lon), ("ele", ele)):
        if val is not None and col_name in points.columns:
            out = out.withColumn(
                col_name, F.when(at_idx, F.lit(float(val))).otherwise(F.col(col_name))
            )
    if ts is not None:
        # cast to the column's own dtype (parquet timestamps are NTZ in
        # Spark 4) so the when/otherwise branches don't coerce
        out = out.withColumn(
            "ts",
            F.when(at_idx, F.lit(ts).cast(points.schema["ts"].dataType))
            .otherwise(F.col("ts")),
        )
        out = out.withColumn(
            seq,
            F.row_number().over(
                Window.partitionBy(key).orderBy(F.col("ts").asc(), F.col(seq).asc())
            ).cast("long") - F.lit(1),
        )
    return out


def filter_speed_spikes(
    points: DataFrame,
    vmax_mps: float,
    key: str = "activity_id",
    ts: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """GPS teleport-spike filter: drop a point iff the implied speed to BOTH
    its neighbors exceeds ``vmax_mps`` — a single displaced fix shows an
    implausible jump out AND back, while genuine fast movement shows a high
    speed on one side only, so honest points survive.

    Not in the reference (its trimInvalid, raw_editor.dart:82-195, handles
    coordinate sentinels but not kinematic outliers); this extends the same
    data-quality family for corpus-scale track cleaning. One window pass:
    lag/lead haversine over Δt (speed NULL when Δt <= 0 — a non-advancing
    clock is never spike evidence, duplicate-ts resolution belongs to
    sortAndDedup). Endpoints have one neighbor and are always kept.
    Consecutive multi-point spikes need iterated passes or the stateful
    keep-chain kernel (downsample.py) — single isolated fixes are the
    overwhelming real-world case and the one-pass form stays a pure
    window expression (no shuffle beyond the per-activity sort).
    """
    order = [ts, tiebreak] if tiebreak else [ts]
    w = Window.partitionBy(key).orderBy(*order)
    t_s = ts_seconds(F.col(ts))
    dt_prev = t_s - F.lag(t_s).over(w)
    dt_next = F.lead(t_s).over(w) - t_s
    d_prev = haversine_m(
        F.lag(lat).over(w), F.lag(lon).over(w), F.col(lat), F.col(lon)
    )
    d_next = haversine_m(
        F.col(lat), F.col(lon), F.lead(lat).over(w), F.lead(lon).over(w)
    )
    v_prev = F.when(dt_prev > 0, d_prev / dt_prev)
    v_next = F.when(dt_next > 0, d_next / dt_next)
    spike = (
        v_prev.isNotNull() & (v_prev > F.lit(vmax_mps))
        & v_next.isNotNull() & (v_next > F.lit(vmax_mps))
    )
    return points.withColumn("_spike", spike).filter(~F.col("_spike")).drop("_spike")
