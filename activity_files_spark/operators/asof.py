"""Tolerance as-of joins and resampling.

Reference semantics (lib/src/channel_mapper.dart:97-230):
- for each probe timestamp, the nearest sample within ``tolerance`` wins
- smallest |Δt| wins; on a tie the EARLIER sample wins (strict ``<`` for the
  later candidate — channel_mapper.dart:203)
- per-channel tolerance overrides (encoder_options.dart:22-26)

The machinery is written once per execution style:
- native: :func:`_bracket` (union of target and source rows + running
  last/first over one window order). :func:`asof_join` picks the nearest
  bracket end within tolerance; :func:`resample_linear` and
  :func:`resample_by_distance` lerp between the bracket ends (:func:`_lerp_pick`).
  Zero Python; whole-stage codegen. The production path at scale.
- Arrow: :func:`_channel_kernel`, one per-activity kernel that runs the
  numpy :func:`_nearest_within` once per channel. :func:`asof_channels_wide`
  runs it per cogroup group (:func:`asof_join_pandas` is its one-channel
  call); :func:`snap_channels_to_points` runs it per partition.

Resampling (lib/src/transforms/transform_utils.dart:3-199): fixed-step grid
from min→max ts (end-inclusive), linear interpolation for continuous values,
nearest-within-tolerance for discrete ones.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.time import ts_seconds

from activity_files_spark.functions.geo import haversine_m, lerp

DEFAULT_TOLERANCE_S = 5.0  # encoder_options.dart:22
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.materialize import materialize


def _bracket(
    targets: DataFrame,
    sources: DataFrame,
    key: str,
    axis: str,
    cols: list[str],
    pick: Callable[[Column, Column, Column, Column, Column], Column],
    tiebreak: str | None = None,
) -> DataFrame:
    """The running bracket every native tolerance join and resampler uses.

    ``targets`` (probes or grid points) and ``sources`` are unioned and
    ordered within ``key`` by (``axis``, side, ``tiebreak`` NULLS FIRST),
    sources before targets at an equal axis value — so an equal-axis source
    is a target's "previous" candidate. Per column ``c`` of ``cols``, the
    running previous and next (axis, value) are taken only from source rows
    whose ``c`` is non-null (gating the axis AND the value on it, so the two
    can never desync: a null-valued sample must not lend its time to an
    older value), and ``c`` becomes ``pick(prev_axis, prev_value,
    next_axis, next_value, axis)``. Returns the target rows.

    Plan shape: target columns ride THROUGH the union (source rows carry
    nulls), so the whole join is one shuffle on ``key`` and one sort; each
    column adds four running windows to the one Window node over that sort
    — no join-back.
    """
    u = targets.withColumn("_side", F.lit(1)).unionByName(
        sources.withColumn("_side", F.lit(0)), allowMissingColumns=True
    )
    # NULLS FIRST explicitly: Spark and DuckDB default opposite
    order = [F.col(axis).asc(), F.col("_side").asc()] + (
        [F.col(tiebreak).asc_nulls_first()] if tiebreak else []
    )
    wb = Window.partitionBy(key).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(key).orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    # gate each column's axis and value in one projection, take every
    # running window in the next one and pick in a third: a projection per
    # column between windows would keep CollapseWindow from merging them,
    # and windows inside ``pick`` would be computed once per use
    gated, runs = [], []
    for c in cols:
        has_v = (F.col("_side") == 0) & F.col(c).isNotNull()
        gated += [F.when(has_v, F.col(axis)).alias(f"_a_{c}"),
                  F.when(has_v, F.col(c)).alias(f"_v_{c}")]
        runs += [F.last(f"_a_{c}", ignorenulls=True).over(wb).alias(f"_pa_{c}"),
                 F.last(f"_v_{c}", ignorenulls=True).over(wb).alias(f"_pv_{c}"),
                 F.first(f"_a_{c}", ignorenulls=True).over(wf).alias(f"_na_{c}"),
                 F.first(f"_v_{c}", ignorenulls=True).over(wf).alias(f"_nv_{c}")]
    picked = {
        c: pick(*(F.col(f"_{w}_{c}") for w in ("pa", "pv", "na", "nv")), F.col(axis)).alias(c)
        for c in cols
    }
    return u.select("*", *gated).select("*", *runs).select(
        *(picked.get(n, F.col(n)) for n in u.columns)
    ).filter(F.col("_side") == 1)


def _lerp_pick(pa: Column, pv: Column, na: Column, nv: Column, a: Column) -> Column:
    """Resampling pick (transform_utils.dart:35-72): the lerp between the
    bracket ends, or the one end that exists."""
    return F.when(pa.isNull(), nv).when(na.isNull(), pv).otherwise(lerp(pa, na, pv, nv, a))


def asof_join(
    probes: DataFrame,
    samples: DataFrame,
    key: str = "activity_id",
    ts: str = "ts",
    value: str = "value",
    tolerance_s: float = DEFAULT_TOLERANCE_S,
    out: str = "value",
) -> DataFrame:
    """Nearest-within-tolerance as-of join, native Catalyst plan.

    Returns ``probes`` columns + ``out`` (matched sample value or null).
    A sample at the exact probe ts is the "previous" candidate — Δ=0,
    always wins; earlier wins ties (channel_mapper.dart:203).
    """

    def nearest(pt, pv, nt, nv, t):
        d_prev = t - pt
        d_next = nt - t
        pick_prev = pt.isNotNull() & (nt.isNull() | (d_prev <= d_next))  # earlier wins ties
        return F.when(pick_prev & (d_prev <= tolerance_s), pv).when(
            ~pick_prev & nt.isNotNull() & (d_next <= tolerance_s), nv
        )

    p = probes.withColumn("_t", ts_seconds(F.col(ts)))
    s = samples.select(
        F.col(key), ts_seconds(F.col(ts)).alias("_t"), F.col(value).cast("double").alias("_sv")
    )
    matched = _bracket(p, s, key, "_t", ["_sv"], nearest)
    return matched.select(*probes.columns, F.col("_sv").alias(out))


def _nearest_within(pt, st, sv, tol: float):
    """Per probe time in ``pt``: the value in ``sv`` of the nearest sample
    time in sorted ``st`` within ``tol`` seconds, else NaN; smallest |dt|
    wins and the earlier sample wins a tie (channel_mapper.dart:203)."""
    import numpy as np

    if len(st) == 0 or len(pt) == 0:
        return np.full(len(pt), np.nan)
    sv = np.asarray(sv, dtype="float64")
    idx = np.searchsorted(st, pt, side="right")
    prev_i = np.clip(idx - 1, 0, len(st) - 1)
    next_i = np.clip(idx, 0, len(st) - 1)
    d_prev = np.where(idx - 1 >= 0, pt - st[prev_i], np.inf)
    d_next = np.where(idx < len(st), st[next_i] - pt, np.inf)
    take_prev = d_prev <= d_next  # earlier wins ties
    best_d = np.where(take_prev, d_prev, d_next)
    best_v = np.where(take_prev, sv[prev_i], sv[next_i])
    return np.where(best_d <= tol, best_v, np.nan)


def _epoch_s(times):
    """datetime64 array -> float epoch seconds (microsecond grain)."""
    return times.astype("datetime64[us]").astype("int64") / 1e6


def asof_join_pandas(
    probes: DataFrame,
    samples: DataFrame,
    key: str = "activity_id",
    ts: str = "ts",
    value: str = "value",
    tolerance_s: float = DEFAULT_TOLERANCE_S,
    out: str = "value",
) -> DataFrame:
    """Arrow twin of :func:`asof_join`: the one-channel call of
    :func:`asof_channels_wide` (same semantics; used for cross-checks)."""
    chans = samples.select(key, ts, F.lit(out).alias("channel"), F.col(value).alias("value"))
    return asof_channels_wide(probes, chans, {out: tolerance_s}, key=key, ts=ts)


def _channel_kernel(
    probes: DataFrame,
    channels: DataFrame,
    tolerances: dict[str, float],
    key: str,
    ts: str,
):
    """The one per-activity channel kernel both shapes run: returns the
    channel side (channels outside ``tolerances`` dropped, so before any
    shuffle), ``kernel(probe_rows, channel_rows)`` for one activity, and
    its output DDL schema. The kernel reads its inputs column by column,
    so they may be pandas frames or dicts of numpy columns; it works on
    numpy arrays throughout, because pandas' per-call overhead, not the
    search, dominates an activity of a few dozen points."""
    import numpy as np
    import pandas as pd

    p_cols = probes.columns
    # channel names are data-derived (CSV headers): backtick-escape them so a
    # metacharacter in a header can't break the DDL schema string
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in probes.schema.fields
    ) + "".join(", `{}` double".format(ch.replace("`", "``")) for ch in tolerances)
    # fresh attributes for the columns the channel side shares with the
    # probes: when both derive from one record stream (the CLI), a shared key
    # attribute makes the cogroup an ambiguous self-join, and a later
    # self-join's rewrite can give both sides one `ts` attribute, so the
    # channel frame arrives without its times
    chans = channels.filter(F.col("channel").isin(list(tolerances))).select(
        F.col(key).alias(key), F.col(ts).alias("_st"), "channel",
        F.col("value").cast("double").alias("value"),
    )

    def kernel(pr, ch) -> pd.DataFrame:
        p_ts = np.asarray(pr[ts])
        order = np.argsort(p_ts, kind="stable")  # NaT last, as sort_values
        res = {c: np.asarray(pr[c])[order] for c in p_cols}
        pt = _epoch_s(p_ts[order])
        names = np.asarray(ch["channel"])
        vals = np.asarray(ch["value"], dtype="float64")
        st = np.asarray(ch["_st"])
        for name, tol in tolerances.items():
            m = (names == name) & ~np.isnan(vals)
            so = np.argsort(st[m], kind="stable")
            res[name] = _nearest_within(pt, _epoch_s(st[m][so]), vals[m][so], tol)
        return pd.DataFrame(res)

    return chans, kernel, out_schema


def asof_channels_wide(
    probes: DataFrame,
    channels: DataFrame,
    tolerances: dict[str, float],
    key: str = "activity_id",
    ts: str = "ts",
) -> DataFrame:
    """Wide multi-channel as-of join: each channel of the resolved
    ``tolerances`` map (``{channel: seconds}``, the reference's
    maxDeltaPerChannel after defaults, encoder_options.dart:22-42) becomes
    one double column of the probe rows, its samples matched
    nearest-within-its-own-tolerance (earlier wins ties,
    channel_mapper.dart:203). ``channels`` is long format
    (key, ts, channel, value).

    Plan: a cogroup on ``key`` that exchanges both sides (neither on inputs
    bucketed on ``key``); :func:`_channel_kernel` holds one activity at a
    time and runs one :func:`_nearest_within` pass per channel. Each group
    is one Arrow round trip, so on many short activities
    :func:`_asof_channels_per_partition` is the cheaper shape.
    """
    chans, kernel, out_schema = _channel_kernel(probes, channels, tolerances, key, ts)
    return probes.groupBy(key).cogroup(chans.groupBy(key)).applyInPandas(kernel, out_schema)


def _asof_channels_per_partition(
    probes: DataFrame,
    channels: DataFrame,
    tolerances: dict[str, float],
    key: str,
    ts: str,
) -> DataFrame:
    """:func:`asof_channels_wide` in the :func:`grouped_apply` shape: the
    probe and channel rows are unioned and run through the same
    :func:`_channel_kernel` one partition at a time — one Arrow round trip
    per partition, not per activity. On a directory of many short
    activities the cogroup pays a round trip per activity, and AQE
    coalesces the small groups into a few serial partitions: `cli convert`
    of 2,001 files of 50 points took a median 35.3 s of wall time through
    the cogroup and 31.7 s through this shape (6 runs each, 4 cores).
    Probe columns are null on the channel rows of the union, so an integer
    probe column other than the key crosses into pandas as float64 and
    back by an unchecked cast: exact only below 2**53."""
    chans, kernel, out_schema = _channel_kernel(probes, channels, tolerances, key, ts)
    merged = probes.withColumn("_side", F.lit(1)).unionByName(
        chans.withColumn("_side", F.lit(0)), allowMissingColumns=True
    )
    p_cols = probes.columns

    def per_activity(pdf):
        is_probe = pdf["_side"].values == 1
        # column arrays, not frame copies: the kernel only reads columns
        return kernel(
            {c: pdf[c].values[is_probe] for c in p_cols},
            {c: pdf[c].values[~is_probe] for c in ("_st", "channel", "value")},
        )

    return grouped_apply(merged, key, per_activity, out_schema)


def exact_ts_join(
    probes: DataFrame,
    samples: DataFrame,
    key: str = "activity_id",
    ts: str = "ts",
    value: str = "value",
    out: str = "value",
) -> DataFrame:
    """Exact-timestamp join; last sample wins per (key, ts)
    (encoder_utils.dart:9-19)."""
    w = Window.partitionBy(key, ts).orderBy(F.monotonically_increasing_id().desc())
    dedup = (
        samples.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(key, ts, F.col(value).alias(out))
    )
    return probes.join(dedup, [key, ts], "left")


def resample_grid(
    points: DataFrame, step_s: int, key: str = "activity_id", ts: str = "ts"
) -> DataFrame:
    """Fixed-step end-inclusive timestamp grid per activity
    (raw_transforms.dart:19-41): sequence(min_ts, max_ts, step) + explode."""
    env = points.groupBy(key).agg(F.min(ts).alias("_t0"), F.max(ts).alias("_t1"))
    return env.select(
        key,
        F.explode(
            F.sequence(
                F.col("_t0"), F.col("_t1"), F.expr(f"interval {step_s} seconds")
            )
        ).alias(ts),
    )


def resample_linear(
    points: DataFrame,
    step_s: int,
    cols: list[str],
    key: str = "activity_id",
    ts: str = "ts",
) -> DataFrame:
    """Resample continuous columns onto a fixed grid with linear interpolation
    (transform_utils.dart:35-72): bracket [lower, upper] → time-factor lerp.

    Native plan: :func:`_bracket` of the grid over the points on the epoch
    seconds axis, then :func:`_lerp_pick`.
    """
    grid = resample_grid(points, step_s, key, ts).withColumn("_t", ts_seconds(F.col(ts)))
    pts = points.select(key, ts, *cols).withColumn("_t", ts_seconds(F.col(ts)))
    return _bracket(grid, pts, key, "_t", cols, _lerp_pick).select(key, ts, *cols)


# per-channel tolerance overrides (encoder_options.dart:22-26, 41-42)
DEFAULT_CHANNEL_TOLERANCES = {
    "heart_rate": 5.0,
    "cadence": 5.0,
    "power": 5.0,
    "temperature": 30.0,
    "distance": 5.0,
    "speed": 5.0,
}


def map_channels_wide(
    probes: DataFrame,
    channels: DataFrame,
    channel_names: list[str],
    tolerances: dict[str, float] | None = None,
    key: str = "activity_id",
    ts: str = "ts",
) -> DataFrame:
    """Map several long-format channels onto probe rows as wide columns,
    each with its own nearest-tolerance as-of join (the as-of join's channel
    mapping, channel_mapper.dart:97-230, with the J1 per-channel defaults
    :data:`DEFAULT_CHANNEL_TOLERANCES` under ``tolerances`` overrides).

    The native reference: one union+window pass per channel (N shuffles for
    N channels). :func:`asof_channels_wide` maps them all in one shuffle."""
    tol = {**DEFAULT_CHANNEL_TOLERANCES, **(tolerances or {})}
    out = probes
    for ch in channel_names:
        stream = channels.filter(F.col("channel") == ch).select(key, ts, "value")
        out = asof_join(
            out, stream, key=key, ts=ts, value="value",
            tolerance_s=tol.get(ch, DEFAULT_TOLERANCE_S), out=ch,
        )
    return out


def snap_channels_to_points(
    points: DataFrame,
    channels: DataFrame,
    tolerances: dict[str, float] | None = None,
    default_tol_s: float = 5.0,
    key: str = "activity_id",
    ts: str = "ts",
    channel_names: list[str] | None = None,
) -> DataFrame:
    """Encoder-side channel association (channel_mapper.dart ChannelCursor +
    EncoderOptions.maxDeltaFor): every point resolves each channel's NEAREST
    sample within that channel's tolerance, and the result is re-emitted as
    the long (key, ts, channel, value) stream keyed by POINT timestamps —
    so the exact-ts encode kernels' association just works, including
    clock-skewed sensor streams. On already-aligned data (deltas 0) this is
    the identity mapping.

    The uniform ``default_tol_s`` (5 s) deliberately mirrors the reference
    ENCODER contract (EncoderOptions: defaultMaxDelta 5 s, per-channel map
    EMPTY by default), so the as-of JOIN operator's own
    DEFAULT_CHANNEL_TOLERANCES (J1) do not apply here.

    ``channel_names``: pass the (cheaply known) distinct channel set to
    avoid an extra distinct+collect pass over the channel pipeline.

    One shuffle (the channel kernel, run per partition: the CLI's inputs
    may be many short activities) + an explode melt; no per-row Python and
    no SQL-string interpolation of data-derived channel names."""
    names = channel_names if channel_names is not None else sorted(
        r["channel"] for r in channels.select("channel").distinct().collect()
    )
    names = sorted(names)
    if not names:
        return channels
    tol = {n: (tolerances or {}).get(n, default_tol_s) for n in names}
    wide = _asof_channels_per_partition(points.select(key, ts), channels, tol, key, ts)
    pairs = F.array(*[
        F.struct(F.lit(n).alias("channel"), wide[n].alias("value")) for n in names
    ])
    return (
        wide.select(key, ts, F.explode(pairs).alias("_cv"))
        .select(key, ts, F.col("_cv.channel").alias("channel"),
                F.col("_cv.value").alias("value"))
        .filter(F.col("value").isNotNull())
    )


def resample_by_distance(
    points: DataFrame,
    step_m: float,
    cols: list[str],
    key: str = "activity_id",
    ts: str = "ts",
    lat: str = "lat",
    lon: str = "lon",
    tiebreak: str | None = None,
) -> DataFrame:
    """Resample ``cols`` onto an equal-DISTANCE grid: d = 0, step, 2·step,
    ... <= total cumulative haversine distance, with linear interpolation
    between the bracketing points on the distance axis.

    The distance twin of :func:`resample_linear` (the reference only
    resamples on time, transform_utils.dart:35-72) — the normalization a
    route-shape comparison needs: two traversals of the same path at
    different speeds resample to the same point sequence.

    Plan: one window pass builds the running haversine cumdist (sequential
    ROWS sum — deterministic doubles in any engine), the per-activity grid
    is sequence(0, floor(total/step)) exploded map-side, and
    :func:`_bracket` + :func:`_lerp_pick` interpolate it as in
    resample_linear, on the ``_d`` axis. Output: key, grid index ``k``,
    ``d_m``, interpolated ``cols``.
    """
    order0 = [ts, tiebreak] if tiebreak else [ts]
    w = Window.partitionBy(key).orderBy(*order0)
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    step = F.coalesce(
        haversine_m(
            F.lag(lat).over(w), F.lag(lon).over(w), F.col(lat), F.col(lon)
        ),
        F.lit(0.0),
    )
    # the cumdist window feeds both the grid envelope and the union side —
    # lazy, so the window pass runs once (r06)
    pts = materialize(
        points.withColumn("_d", F.sum(step).over(wc))
        .withColumn("_seq", F.row_number().over(w).cast("long")),
        eager=False,
    )
    env = pts.groupBy(key).agg(F.max("_d").alias("_total"))
    grid = env.select(
        key,
        F.explode(
            F.sequence(F.lit(0), F.floor(F.col("_total") / F.lit(step_m)).cast("int"))
        ).alias("k"),
    ).withColumn("_d", F.col("k").cast("double") * F.lit(step_m))
    pts = pts.select(key, "_d", "_seq", *cols)
    # _seq breaks ties among points sharing one cumdist (zero-length steps)
    out = _bracket(grid, pts, key, "_d", cols, _lerp_pick, tiebreak="_seq")
    return out.select(key, "k", F.col("_d").alias("d_m"), *cols)
