"""CSV source + sink.

Parser semantics from the reference (lib/src/parse/csv_parser.dart:13-190):
- fixed columns: timestamp, latitude, longitude, elevation + known channels
  (heart_rate, cadence, power, temperature, distance, speed) + sport
- any OTHER numeric column becomes a custom channel keyed by its
  normalized (trim+lowercase) header name (csv_parser.dart:141-153)
- malformed rows -> diagnostics, never exceptions

Spark: :func:`parse_csv` is the per-file kernel that
``decode.decode_records`` runs over whole-file payloads, pandas
``read_csv`` + vectorized column melts, no per-row Python.

Encoder (lib/src/encode/csv_encoder.dart:23-93): fixed 11-column header +
sorted extra channel columns, exact-timestamp pivot (encoder_utils.dart:9-19).
"""

from __future__ import annotations

import io
import warnings
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FIXED_COLS = ["timestamp", "latitude", "longitude", "elevation"]
KNOWN_CHANNELS = ["heart_rate", "cadence", "power", "temperature", "distance", "speed"]
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.kernels import Kernel


def parse_csv(activity_id: str, text: str) -> pd.DataFrame:
    """One CSV document -> a frame of partial records (columns built whole,
    no iterrows; ``records.normalize_records`` completes them). Unknown
    numeric columns -> custom channels; malformed rows -> diag records,
    never exceptions."""
    small: list[dict] = []
    try:
        pdf = pd.read_csv(io.StringIO(text))
    except Exception as e:  # noqa: BLE001 - diagnostics-only contract
        return pd.DataFrame([{"activity_id": activity_id, "kind": "diag",
                              "attrs": {"code": "parse.csv.malformed",
                                        "severity": "error", "message": str(e)}}])
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
            small.append({"activity_id": activity_id, "kind": "diag",
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
        "activity_id": activity_id, "kind": "point",
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
                    "activity_id": activity_id, "kind": "channel", "channel": c,
                    "ts": tsk.to_numpy()[m],
                    "value": v.to_numpy(dtype=float)[m],
                }))
    small.append({"activity_id": activity_id, "kind": "meta",
                  "attrs": {"format": "csv"}})
    with warnings.catch_warnings():
        # the frames carry different column subsets; the all-NA-column
        # dtype deprecation is moot because normalize_records coerces
        # every dtype afterward
        warnings.simplefilter("ignore", FutureWarning)
        return pd.concat([*frames, pd.DataFrame(small)], ignore_index=True)


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


def csv_encode_text_df(
    points: DataFrame, channels: DataFrame, then: Sequence[Kernel] = (),
) -> DataFrame:
    """One CSV document per activity (the reference's per-file text
    contract, csv_encoder.dart:23-93): the wide exact-ts pivot from
    :func:`csv_encode_df` serialized with its header row. Floats print
    shortest-roundtrip (repr), so every value reparses bit-exactly."""
    # unordered wide frame: the kernel sorts within each activity, so the
    # global orderBy (a full extra shuffle+sort) would be wasted work
    wide = _csv_wide(points, channels)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        buf = io.StringIO()
        pdf.sort_values("timestamp", kind="stable").to_csv(buf, index=False)
        return pd.DataFrame([{"activity_id": pdf["activity_id"].iloc[0],
                              "text": buf.getvalue()}])

    return grouped_apply(wide, "activity_id", kernel, "activity_id string, text string", then)
