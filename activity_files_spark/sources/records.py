"""Common record-stream schema shared by all format parsers.

Each parser turns one file into a flat stream of typed records (a
discriminated union over `kind`), exploded inside a mapInPandas Arrow
kernel — one file per iteration, whole-batch output, no per-row Python at
the Spark boundary. Splitting the stream into points/channels/laps tables
is then a plain filter (cache the records DF when extracting several).

kinds:
  point       -> seq, ts, lat, lon, ele, attrs (attrs may carry a preserved
                 extensions_json tree for lossless GPX round-trips)
  channel     -> channel, ts, value
  lap         -> lap_id, start_ts, end_ts, distance_m, sport, stats(json attrs)
  waypoint    -> seq, ts, lat, lon, ele, attrs(name/desc/sym)
  route       -> lap_id (route index), attrs(name/desc/extensions_json) —
                 GPX <rte> planned geometry (gpx_parser.dart:364-403)
  route_point -> lap_id (route index), seq, ts, lat, lon, ele, attrs
  length      -> start_ts, end_ts, attrs (swim lengths, FIT msg 101)
  set         -> start_ts, end_ts, attrs (strength sets, FIT msg 225)
  meta        -> attrs (string key/value metadata, incl. sport/device/creator)
  diag        -> attrs{code, severity, message} (parsers never throw on
                 malformed data — reference parse_result.dart:69-100)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RECORD_SCHEMA = (
    "activity_id string, kind string, seq long, ts timestamp, "
    "lat double, lon double, ele double, channel string, value double, "
    "lap_id int, start_ts timestamp, end_ts timestamp, distance_m double, "
    "sport string, attrs map<string,string>"
)

RECORD_FIELDS = [
    "activity_id", "kind", "seq", "ts", "lat", "lon", "ele", "channel",
    "value", "lap_id", "start_ts", "end_ts", "distance_m", "sport", "attrs",
]


def records_frame(rows: list[dict]) -> pd.DataFrame:
    """Normalize a list of partial record dicts to the full schema."""
    return normalize_records(pd.DataFrame(rows, columns=RECORD_FIELDS))


def normalize_records(df: pd.DataFrame) -> pd.DataFrame:
    """Normalize a partial-column pandas frame to the full record schema
    (missing columns added as nulls, dtypes coerced). Lets vectorized
    parsers build whole column frames instead of per-row dicts."""
    for c in RECORD_FIELDS:
        if c not in df.columns:
            df[c] = None
    df = df[RECORD_FIELDS]
    for c in ("ts", "start_ts", "end_ts"):
        df[c] = pd.to_datetime(df[c], utc=True).dt.tz_localize(None)
    for c in ("lat", "lon", "ele", "value", "distance_m"):
        df[c] = pd.to_numeric(df[c], errors="coerce")
    df["seq"] = df["seq"].astype("Int64")
    df["lap_id"] = df["lap_id"].astype("Int32")
    # object columns: pandas fills missing cells with NaN floats, which Arrow
    # rejects for map/string types — normalize to None
    df["attrs"] = df["attrs"].apply(lambda v: v if isinstance(v, dict) else None)
    for c in ("activity_id", "kind", "channel", "sport"):
        df[c] = df[c].apply(lambda v: v if isinstance(v, str) else None)
    return df


def fast_records(pdf: pd.DataFrame, cols: list[str]) -> list[dict]:
    """list-of-dicts over selected columns via vectorized Series.tolist() —
    ~10x pandas to_dict('records')/itertuples on small mixed-dtype frames
    (those materialize every cell through per-row indexing). datetime64
    cells come back as pd.Timestamp/NaT, numeric NaN as float('nan') —
    the same cell values to_dict('records') produces."""
    data = [pdf[c].tolist() for c in cols]
    return [dict(zip(cols, vals)) for vals in zip(*data)]


# --- numpy-first group-kernel helpers -----------------------------------
#
# The per-activity encode kernels run once per GROUP, and real corpora are
# many small activities (the sf0.1 stream is 1500 groups of ~130 rows) —
# at that shape each DataFrame .loc slice + sort_values costs ~1 ms of
# fixed pandas machinery, an order of magnitude over the actual codec
# work. These helpers do the same selection/sort/record-build with numpy
# index arrays + Series.take, cutting the fixed cost ~5x while returning
# the exact same cell types (Timestamps/NaT/NaN) as the frame path.

_I64_MIN = -(2**63)
_I64_MAX = 2**63 - 1


def sorted_kind_idx(pdf: pd.DataFrame, kind_arr, kind: str, keys: list[str]):
    """Positional indices of ``kind`` rows ordered by ``keys`` — stable,
    NaT/NaN last, matching DataFrame.sort_values."""
    import numpy as np

    idx = np.nonzero(kind_arr == kind)[0]
    if len(idx) <= 1 or not keys:
        return idx
    arrs = []
    for k in reversed(keys):
        s = pdf[k]
        if s.dtype.kind == "M":
            a = s.to_numpy().astype("datetime64[us]").astype("int64")[idx]
            a = np.where(a == _I64_MIN, _I64_MAX, a)  # NaT sorts last
        else:
            a = s.to_numpy(dtype="float64")[idx]  # NaN sorts last in lexsort
        arrs.append(a)
    return idx[np.lexsort(arrs)]


def take_records(pdf: pd.DataFrame, idx, cols: list[str]) -> list[dict]:
    """:func:`fast_records` over a positional row subset, without the
    intermediate sliced frame."""
    if len(idx) == 0:
        return []
    data = [pdf[c].take(idx).tolist() for c in cols]
    return [dict(zip(cols, vals)) for vals in zip(*data)]


def channel_map(pdf: pd.DataFrame, kind_arr, ts_key_fn, event_channel=None):
    """(chmap, events) from the channel rows: chmap maps ts_key_fn(ts) ->
    {channel: value} with last-encounter-wins on duplicates; rows whose
    channel equals ``event_channel`` are split into the events list."""
    import numpy as np

    idx = np.nonzero(kind_arr == "channel")[0]
    chmap: dict = {}
    events: list[dict] = []
    if len(idx) == 0:
        return chmap, events
    ts_l = pdf["ts"].take(idx).tolist()
    cn_l = pdf["channel"].take(idx).tolist()
    v_l = pdf["value"].take(idx).tolist()
    for t, c, v in zip(ts_l, cn_l, v_l):
        if event_channel is not None and c == event_channel:
            events.append({"ts": t, "value": v})
        else:
            chmap.setdefault(ts_key_fn(t), {})[c] = v
    return chmap, events


def meta_attrs(pdf: pd.DataFrame, kind_arr) -> dict:
    """Merged meta attrs map over the stream's meta rows."""
    import numpy as np

    meta: dict = {}
    idx = np.nonzero(kind_arr == "meta")[0]
    if len(idx):
        for attrs in pdf["attrs"].take(idx).tolist():
            if isinstance(attrs, dict):
                meta.update(attrs)
    return meta


def points_of(records: DataFrame) -> DataFrame:
    return records.filter(F.col("kind") == "point").select(
        "activity_id", "seq", "ts", "lat", "lon", "ele", "attrs"
    )


def channels_of(records: DataFrame) -> DataFrame:
    return records.filter(F.col("kind") == "channel").select(
        "activity_id", "channel", "ts", "value"
    )


def laps_of(records: DataFrame) -> DataFrame:
    return records.filter(F.col("kind") == "lap").select(
        "activity_id", "lap_id", "start_ts", "end_ts", "distance_m", "sport", "attrs"
    )


def waypoints_of(records: DataFrame) -> DataFrame:
    return records.filter(F.col("kind") == "waypoint").select(
        "activity_id", "seq", "ts", "lat", "lon", "ele", "attrs"
    )


def meta_of(records: DataFrame) -> DataFrame:
    return records.filter(F.col("kind") == "meta").select("activity_id", "attrs")


def diagnostics_of(records: DataFrame) -> DataFrame:
    return records.filter(F.col("kind") == "diag").select("activity_id", "attrs")
