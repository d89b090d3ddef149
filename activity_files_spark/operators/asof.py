"""Tolerance as-of joins and resampling.

Reference semantics (lib/src/channel_mapper.dart:97-230):
- for each probe timestamp, the nearest sample within ``tolerance`` wins
- smallest |Δt| wins; on a tie the EARLIER sample wins (strict ``<`` for the
  later candidate — channel_mapper.dart:203)
- per-channel tolerance overrides (encoder_options.dart:22-26)

Two implementations:
- :func:`asof_join` — native Catalyst plan (union + running last/first over a
  window). Zero Python; one shuffle on (key, channel); whole-stage codegen.
  This is the production path at scale.
- :func:`asof_join_pandas` — Arrow/pandas kernel (numpy searchsorted per
  activity×channel group) used to cross-check semantics in tests.

Resampling (lib/src/transforms/transform_utils.dart:3-199): fixed-step grid
from min→max ts (end-inclusive), linear interpolation for continuous values,
nearest-within-tolerance for discrete ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.time import ts_seconds

from activity_files_spark.functions.geo import haversine_m, lerp

DEFAULT_TOLERANCE_S = 5.0  # encoder_options.dart:22
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.materialize import materialize


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
    Plan shape: probe columns ride THROUGH the union (sample rows carry
    nulls), so the whole join is one shuffle on ``key`` + one window pass —
    no join-back. Samples at the exact probe ts sort before the probe row
    (``_is_probe`` ascending) so an equal-ts sample is seen as the
    "previous" candidate — Δ=0, always wins; earlier wins ties
    (channel_mapper.dart:203).
    """
    p_cols = probes.columns
    p = (
        probes.withColumn("_t", ts_seconds(F.col(ts)))
        .withColumn("_sv", F.lit(None).cast("double"))
        .withColumn("_is_probe", F.lit(1))
    )
    s = samples.select(
        F.col(key),
        ts_seconds(F.col(ts)).alias("_t"),
        F.col(value).cast("double").alias("_sv"),
        F.lit(0).alias("_is_probe"),
    )
    u = p.unionByName(s, allowMissingColumns=True)
    order = [F.col("_t").asc(), F.col("_is_probe").asc()]
    wb = Window.partitionBy(key).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(key).orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    # a null-valued sample row is NOT a usable sample: gate BOTH the time and
    # the value on value-non-null so _pt/_pv can never desync (a desync would
    # pass the tolerance gate with a time from one sample and a value from an
    # older one)
    is_sample = (F.col("_is_probe") == 0) & F.col("_sv").isNotNull()
    sample_t = F.when(is_sample, F.col("_t"))
    sample_v = F.when(is_sample, F.col("_sv"))
    enriched = (
        u.withColumn("_pt", F.last(sample_t, ignorenulls=True).over(wb))
        .withColumn("_pv", F.last(sample_v, ignorenulls=True).over(wb))
        .withColumn("_nt", F.first(sample_t, ignorenulls=True).over(wf))
        .withColumn("_nv", F.first(sample_v, ignorenulls=True).over(wf))
        .filter(F.col("_is_probe") == 1)
    )
    d_prev = F.col("_t") - F.col("_pt")
    d_next = F.col("_nt") - F.col("_t")
    pick_prev = F.col("_pt").isNotNull() & (
        F.col("_nt").isNull() | (d_prev <= d_next)  # earlier wins ties
    )
    matched = enriched.withColumn(
        out,
        F.when(pick_prev & (d_prev <= tolerance_s), F.col("_pv")).when(
            ~pick_prev & F.col("_nt").isNotNull() & (d_next <= tolerance_s), F.col("_nv")
        ),
    )
    return matched.select(*p_cols, out)


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


def _epoch_s(series):
    """datetime64 Series -> float epoch seconds (microsecond grain)."""
    return series.values.astype("datetime64[us]").astype("int64") / 1e6


def asof_join_pandas(
    probes: DataFrame,
    samples: DataFrame,
    key: str = "activity_id",
    ts: str = "ts",
    value: str = "value",
    tolerance_s: float = DEFAULT_TOLERANCE_S,
    out: str = "value",
) -> DataFrame:
    """Arrow-kernel as-of join: numpy searchsorted per activity group.

    Exact same semantics as :func:`asof_join`; used for cross-checks and as
    the building block where many channels map to wide columns at once
    (state never crosses an activity boundary — natural partition key).
    """
    import pandas as pd

    p_cols = probes.columns
    probes_t = probes.withColumn("_side", F.lit(1))
    samples_t = samples.select(
        F.col(key), F.col(ts), F.col(value).cast("double").alias("_sval")
    ).withColumn("_side", F.lit(0))
    merged = probes_t.unionByName(samples_t, allowMissingColumns=True)

    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in probes.schema.fields
    ) + f", `{out}` double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pr = pdf[pdf["_side"] == 1].sort_values(ts, kind="stable")
        sm = pdf[(pdf["_side"] == 0) & pdf["_sval"].notna()].sort_values(ts, kind="stable")
        res = pr[[c for c in p_cols]].copy()
        res[out] = _nearest_within(
            _epoch_s(pr[ts]), _epoch_s(sm[ts]), sm["_sval"].values, tolerance_s
        )
        return res

    return grouped_apply(merged, key, kernel, out_schema)


def asof_channels_wide(
    probes: DataFrame,
    channels: DataFrame,
    channel_names: list[str],
    tolerances: dict[str, float] | None = None,
    default_tolerance_s: float = DEFAULT_TOLERANCE_S,
    key: str = "activity_id",
    ts: str = "ts",
    channel_col: str = "channel",
    value: str = "value",
) -> DataFrame:
    """Wide multi-channel as-of join with PER-CHANNEL tolerance overrides —
    the reference's maxDeltaPerChannel / maxDeltaFor option
    (encoder_options.dart:22-42): each channel maps to one output column,
    its samples matched nearest-within-its-own-tolerance (earlier wins
    ties, channel_mapper.dart:203).

    Plan: ONE cogroup shuffle on ``key`` (not one join per channel); the
    kernel runs a searchsorted pass per channel inside the activity group.
    """
    import pandas as pd

    tolerances = tolerances or {}
    tol = {c: float(tolerances.get(c, default_tolerance_s)) for c in channel_names}
    p_cols = probes.columns
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in probes.schema.fields
    ) + "".join(f", `{c}` double" for c in channel_names)

    def kernel(pr: pd.DataFrame, ch: pd.DataFrame) -> pd.DataFrame:
        pr = pr.sort_values(ts, kind="stable")
        res = pr[[c for c in p_cols]].copy()
        pt = _epoch_s(pr[ts])
        for cname in channel_names:
            sm = ch[(ch[channel_col] == cname) & ch[value].notna()].sort_values(
                ts, kind="stable"
            )
            res[cname] = _nearest_within(
                pt, _epoch_s(sm[ts]), sm[value].values, tol[cname]
            )
        return res

    return probes.groupBy(key).cogroup(
        channels.select(key, ts, channel_col, value).groupBy(key)
    ).applyInPandas(lambda p, c: kernel(p, c), out_schema)


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

    Native plan: union grid+points, running last/first per column, lerp.
    """
    grid = resample_grid(points, step_s, key, ts)
    g = grid.withColumn("_is_grid", F.lit(1))
    p = points.select(key, ts, *cols).withColumn("_is_grid", F.lit(0))
    u = g.unionByName(p, allowMissingColumns=True).withColumn(
        "_t", ts_seconds(F.col(ts))
    )
    order = [F.col("_t").asc(), F.col("_is_grid").asc()]
    wb = Window.partitionBy(key).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(key).orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    out = u
    for c in cols:
        # bracket times are tracked PER COLUMN gated on that column being
        # non-null, so a point with a null value in one column cannot desync
        # that column's lerp bracket
        has_v = (F.col("_is_grid") == 0) & F.col(c).isNotNull()
        src_t = F.when(has_v, F.col("_t"))
        src_v = F.when(has_v, F.col(c))
        out = (
            out.withColumn("_pt", F.last(src_t, ignorenulls=True).over(wb))
            .withColumn("_nt", F.first(src_t, ignorenulls=True).over(wf))
            .withColumn("_pv", F.last(src_v, ignorenulls=True).over(wb))
            .withColumn("_nv", F.first(src_v, ignorenulls=True).over(wf))
            .withColumn(
                c,
                F.when(F.col("_pt").isNull(), F.col("_nv"))
                .when(F.col("_nt").isNull(), F.col("_pv"))
                .otherwise(
                    lerp(F.col("_pt"), F.col("_nt"), F.col("_pv"), F.col("_nv"), F.col("_t"))
                ),
            )
            .drop("_pt", "_nt", "_pv", "_nv")
        )
    return out.filter(F.col("_is_grid") == 1).select(key, ts, *cols)


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
    each with its own nearest-tolerance as-of join (the encoder-side channel
    mapping, channel_mapper.dart:97-230 with per-channel overrides).

    NOTE: this runs one union+window pass per channel (N shuffles for N
    channels); when mapping many channels at 100 TB, prefer a single
    applyInPandas pass per activity (asof_join_pandas's kernel generalizes
    to all channels in one groupBy) — acceptable here because encoder-side
    channel sets are small (<10)."""
    tol = dict(DEFAULT_CHANNEL_TOLERANCES)
    tol.update(tolerances or {})
    out = probes
    for ch in channel_names:
        stream = channels.filter(F.col("channel") == ch).select(key, ts, "value")
        out = asof_join(
            out, stream, key=key, ts=ts, value="value",
            tolerance_s=tol.get(ch, DEFAULT_TOLERANCE_S), out=ch,
        )
    return out


def map_channels_wide_kernel(
    probes: DataFrame,
    channels: DataFrame,
    channel_names: list[str],
    tolerances: dict[str, float] | None = None,
    key: str = "activity_id",
    ts: str = "ts",
) -> DataFrame:
    """Single-pass wide channel mapping: ONE shuffle on ``key`` and one
    Arrow kernel maps every channel onto the probe rows (numpy searchsorted
    per channel inside the group). The scale path for wide encoder-side
    mappings; semantics identical to :func:`map_channels_wide`
    (nearest-within-tolerance, earlier wins ties, per-channel overrides)."""
    import pandas as pd

    tol = dict(DEFAULT_CHANNEL_TOLERANCES)
    tol.update(tolerances or {})
    p_cols = probes.columns
    p = probes.withColumn("_side", F.lit(1))
    c = channels.filter(F.col("channel").isin(channel_names)).select(
        F.col(key), F.col(ts), F.col("channel").alias("_ch"),
        F.col("value").cast("double").alias("_cv"),
    ).withColumn("_side", F.lit(0))
    merged = p.unionByName(c, allowMissingColumns=True)

    # channel names are data-derived (CSV headers): backtick-escape them so a
    # metacharacter in a header can't break the DDL schema string
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in probes.schema.fields
    ) + "".join(", `{}` double".format(ch.replace("`", "``")) for ch in channel_names)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pr = pdf[pdf["_side"] == 1].sort_values(ts, kind="stable")
        res = pr[[col for col in p_cols]].copy()
        pt = _epoch_s(pr[ts])
        for ch in channel_names:
            sm = pdf[(pdf["_side"] == 0) & (pdf["_ch"] == ch) & pdf["_cv"].notna()]
            sm = sm.sort_values(ts, kind="stable")
            res[ch] = _nearest_within(
                pt, _epoch_s(sm[ts]), sm["_cv"].values,
                tol.get(ch, DEFAULT_TOLERANCE_S),
            )
        return res

    return grouped_apply(merged, key, kernel, out_schema)


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
    EMPTY by default) and therefore overrides the as-of JOIN operator's own
    DEFAULT_CHANNEL_TOLERANCES — those belong to J1, not the encoders.

    ``channel_names``: pass the (cheaply known) distinct channel set to
    avoid an extra distinct+collect pass over the channel pipeline.

    One shuffle (the wide kernel) + an explode melt; no per-row Python and
    no SQL-string interpolation of data-derived channel names."""
    names = channel_names if channel_names is not None else sorted(
        r["channel"] for r in channels.select("channel").distinct().collect()
    )
    names = sorted(names)
    if not names:
        return channels
    tol = {n: default_tol_s for n in names}
    tol.update(tolerances or {})
    wide = map_channels_wide_kernel(
        points.select(key, ts), channels, names, tolerances=tol, key=key, ts=ts
    )
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
    is sequence(0, floor(total/step)) exploded map-side, and the
    union + running last/first + lerp machinery mirrors resample_linear on
    the ``_d`` axis. Output: key, grid index ``k``, ``d_m``, interpolated
    ``cols``.
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
    g = grid.withColumn("_is_grid", F.lit(1))
    p = pts.select(key, "_d", "_seq", *cols).withColumn("_is_grid", F.lit(0))
    u = g.unionByName(p, allowMissingColumns=True)
    # _seq breaks ties among points sharing one cumdist (zero-length
    # steps); NULLS FIRST explicitly — Spark and DuckDB default opposite
    order = [
        F.col("_d").asc(), F.col("_is_grid").asc(),
        F.col("_seq").asc_nulls_first(),
    ]
    wb = Window.partitionBy(key).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.partitionBy(key).orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
    out = u
    for c in cols:
        has_v = (F.col("_is_grid") == 0) & F.col(c).isNotNull()
        src_d = F.when(has_v, F.col("_d"))
        src_v = F.when(has_v, F.col(c))
        out = (
            out.withColumn("_pd", F.last(src_d, ignorenulls=True).over(wb))
            .withColumn("_nd", F.first(src_d, ignorenulls=True).over(wf))
            .withColumn("_pv", F.last(src_v, ignorenulls=True).over(wb))
            .withColumn("_nv", F.first(src_v, ignorenulls=True).over(wf))
            .withColumn(
                c,
                F.when(F.col("_pd").isNull(), F.col("_nv"))
                .when(F.col("_nd").isNull(), F.col("_pv"))
                .otherwise(
                    lerp(F.col("_pd"), F.col("_nd"), F.col("_pv"), F.col("_nv"), F.col("_d"))
                ),
            )
            .drop("_pd", "_nd", "_pv", "_nv")
        )
    return out.filter(F.col("_is_grid") == 1).select(
        key, "k", F.col("_d").alias("d_m"), *cols
    )
