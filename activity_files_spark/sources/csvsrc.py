"""CSV source + sink — fully native Spark (no Python kernels).

Parser semantics from the reference (lib/src/parse/csv_parser.dart:13-190):
- fixed columns: timestamp, latitude, longitude, elevation + known channels
  (heart_rate, cadence, power, temperature, distance, speed) + sport
- any OTHER numeric column becomes a custom channel keyed by its
  normalized (trim+lowercase) header name (csv_parser.dart:141-153)
- malformed rows -> diagnostics, never exceptions

Spark: spark.read.csv(header=True) + a stack() melt for channel columns —
predicate pushdown and column pruning work end-to-end.

Encoder (lib/src/encode/csv_encoder.dart:23-93): fixed 11-column header +
sorted extra channel columns, exact-timestamp pivot (encoder_utils.dart:9-19).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXED_COLS = ["timestamp", "latitude", "longitude", "elevation"]
KNOWN_CHANNELS = ["heart_rate", "cadence", "power", "temperature", "distance", "speed"]
CSV_HEADER = FIXED_COLS + KNOWN_CHANNELS + ["sport"]
from activity_files_spark.operators.grouped import grouped_apply


def read_csv_activities(
    spark: SparkSession, path_or_df, activity_id: str = "csv"
) -> dict[str, DataFrame]:
    """Parse CSV activity data -> {"points": DF, "channels": DF}.

    Accepts a path (native spark.read.csv) or an already-loaded DataFrame
    with string columns (e.g. from a decoded text payload).
    """
    if isinstance(path_or_df, str):
        df = spark.read.csv(path_or_df, header=True, mode="PERMISSIVE")
    else:
        df = path_or_df
    cols = {c.strip().lower(): c for c in df.columns}
    if "activity_id" in cols:
        aid = F.col(cols["activity_id"])
    else:
        aid = F.lit(activity_id)

    ts = F.to_timestamp(F.col(cols["timestamp"])) if "timestamp" in cols else F.lit(None)
    points = df.select(
        aid.alias("activity_id"),
        F.monotonically_increasing_id().alias("seq"),
        ts.alias("ts"),
        F.col(cols["latitude"]).cast("double").alias("lat") if "latitude" in cols else F.lit(None).cast("double").alias("lat"),
        F.col(cols["longitude"]).cast("double").alias("lon") if "longitude" in cols else F.lit(None).cast("double").alias("lon"),
        (F.col(cols["elevation"]).cast("double") if "elevation" in cols else F.lit(None).cast("double")).alias("ele"),
    )

    # channel columns = known channels present + unknown numeric extras
    reserved = set(FIXED_COLS) | {"sport", "activity_id"}
    chan_cols = [c for c in cols if c not in reserved]
    if chan_cols:
        stack_expr = ", ".join(
            f"'{c}', CAST(`{cols[c]}` AS DOUBLE)" for c in sorted(chan_cols)
        )
        channels = df.select(
            aid.alias("activity_id"),
            ts.alias("ts"),
            F.expr(f"stack({len(chan_cols)}, {stack_expr}) AS (channel, value)"),
        ).filter(F.col("value").isNotNull())
    else:
        channels = spark.createDataFrame(
            [], "activity_id string, ts timestamp, channel string, value double"
        )
    return {"points": points, "channels": channels}


def _csv_wide(points: DataFrame, channels: DataFrame) -> DataFrame:
    """Unordered wide CSV layout (points + exact-ts channel pivot; extra
    channels get sorted trailing columns, csv_encoder.dart:50-54)."""
    extra = sorted(
        r["channel"]
        for r in channels.select("channel").distinct().collect()
        if r["channel"] not in KNOWN_CHANNELS
    )
    pivoted = (
        channels.groupBy("activity_id", "ts")
        .pivot("channel", KNOWN_CHANNELS + extra)
        .agg(F.last("value"))
    )
    out = points.join(pivoted, ["activity_id", "ts"], "left")
    sel = [
        F.col("activity_id"),
        F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
        F.col("lat").alias("latitude"),
        F.col("lon").alias("longitude"),
        F.col("ele").alias("elevation"),
    ]
    for c in KNOWN_CHANNELS + extra:
        sel.append(F.col(c) if c in pivoted.columns else F.lit(None).cast("double").alias(c))
    return out.select(*sel)


def csv_encode_df(points: DataFrame, channels: DataFrame) -> DataFrame:
    """Wide CSV layout ordered by (activity, timestamp) — ready for
    df.write.csv(header=True)."""
    return _csv_wide(points, channels).orderBy("activity_id", "timestamp")


def csv_records(
    files, id_col: str = "activity_id", text_col: str = "text"
):
    """(activity_id, csv text) rows -> the shared record stream (same kernel
    shape as the XML sources; used by the CLI where each file is a payload
    rather than a path). Unknown numeric columns -> custom channels;
    malformed rows -> diag records, never exceptions."""
    import io

    import pandas as pd

    from activity_files_spark.sources.records import RECORD_SCHEMA, records_frame

    import numpy as np

    from activity_files_spark.sources.records import normalize_records

    def parse_one(aid: str, text: str):
        """Returns (list of column-built frames, list of small dict rows) —
        fully vectorized over the file's rows (no iterrows)."""
        small: list[dict] = []
        try:
            pdf = pd.read_csv(io.StringIO(text))
        except Exception as e:  # noqa: BLE001 - diagnostics-only contract
            small.append({"activity_id": aid, "kind": "diag",
                          "attrs": {"code": "parse.csv.malformed",
                                    "severity": "error", "message": str(e)}})
            return [], small
        cols = {c.strip().lower(): c for c in pdf.columns}
        reserved = set(FIXED_COLS) | {"sport", "activity_id"}
        has_ts = "timestamp" in cols
        if has_ts:
            raw = pdf[cols["timestamp"]]
            # fast path (r06): when every non-null cell is ISO-8601, the
            # vectorized ISO8601 parser gives the identical instants to the
            # per-cell "mixed" parse at a fraction of the cost (mixed
            # re-infers the format for every cell); anything else — or any
            # cell ISO8601 rejects — falls back to the exact old behavior
            ts = None
            try:
                ts = pd.to_datetime(
                    raw, utc=True, errors="raise", format="ISO8601"
                ).dt.tz_localize(None)
            except (ValueError, TypeError):
                ts = None
            if ts is None:
                # format="mixed" parses each cell independently (matching the
                # old per-row parser): a file mixing ISO and locale formats
                # keeps all rows instead of coercing non-first-format rows
                # to NaT
                ts = pd.to_datetime(
                    raw, utc=True, errors="coerce", format="mixed"
                ).dt.tz_localize(None)
            # unparseable (non-empty) timestamp -> row dropped with a diag;
            # an empty cell stays a point with null ts
            bad = (raw.notna() & ts.isna()).to_numpy()
        else:
            ts = pd.Series(pd.NaT, index=pdf.index)
            bad = np.zeros(len(pdf), dtype=bool)
        keep = ~bad
        if bad.any():
            # diag seq = number of kept rows before the bad one (matches the
            # row-at-a-time counter semantics)
            before = np.cumsum(keep) - keep
            for b in before[bad]:
                small.append({"activity_id": aid, "kind": "diag",
                              "attrs": {"code": "parse.csv.bad_row",
                                        "severity": "warning",
                                        "message": f"row {int(b)} bad timestamp"}})
        kept = pdf[keep]
        tsk = ts[keep]

        def num(name):
            if name not in cols:
                return np.full(len(kept), np.nan)
            return pd.to_numeric(kept[cols[name]], errors="coerce").to_numpy(dtype=float)

        frames = [pd.DataFrame({
            "activity_id": aid, "kind": "point",
            "seq": np.arange(len(kept), dtype=np.int64),
            "ts": tsk.to_numpy(), "lat": num("latitude"),
            "lon": num("longitude"), "ele": num("elevation"),
        })]
        if has_ts:
            for c in cols:
                if c in reserved:
                    continue
                v = pd.to_numeric(kept[cols[c]], errors="coerce")
                m = v.notna().to_numpy()
                if m.any():
                    frames.append(pd.DataFrame({
                        "activity_id": aid, "kind": "channel", "channel": c,
                        "ts": tsk.to_numpy()[m],
                        "value": v.to_numpy(dtype=float)[m],
                    }))
        small.append({"activity_id": aid, "kind": "meta",
                      "attrs": {"format": "csv"}})
        return frames, small

    def kernel(batches):
        for pdf in batches:
            frames: list[pd.DataFrame] = []
            rows: list[dict] = []
            for aid, text in zip(pdf[id_col], pdf[text_col]):
                f, s = parse_one(aid, text)
                frames.extend(f)
                rows.extend(s)
            frames.append(records_frame(rows))
            nonempty = [f for f in frames if len(f)]
            if nonempty:
                import warnings

                with warnings.catch_warnings():
                    # frames carry different column subsets; the all-NA-column
                    # dtype deprecation is moot because normalize_records
                    # coerces every dtype afterward
                    warnings.simplefilter("ignore", FutureWarning)
                    yield normalize_records(pd.concat(nonempty, ignore_index=True))
            else:
                yield records_frame([])

    return files.mapInPandas(kernel, RECORD_SCHEMA)


def csv_encode_text_df(points: DataFrame, channels: DataFrame) -> DataFrame:
    """One CSV document per activity (the reference's per-file text
    contract, csv_encoder.dart:23-93): the wide exact-ts pivot from
    :func:`csv_encode_df` serialized with its header row. Floats print
    shortest-roundtrip (repr), so every value reparses bit-exactly."""
    import io as _io

    import pandas as pd

    # unordered wide frame: the kernel sorts within each activity, so the
    # global orderBy (a full extra shuffle+sort) would be wasted work
    wide = _csv_wide(points, channels)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        buf = _io.StringIO()
        pdf.sort_values("timestamp", kind="stable").to_csv(buf, index=False)
        return pd.DataFrame([{"activity_id": pdf["activity_id"].iloc[0],
                              "text": buf.getvalue()}])

    return grouped_apply(wide, "activity_id", kernel, "activity_id string, text string")
