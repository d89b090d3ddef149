"""Out-of-range and null FIT encodes clamp through the profile table.

Every written field goes through its base type's clamp (below the invalid
sentinel) in both encoders, so a value outside a field's range neither
raises nor wraps, and the scalar ``encode_fit`` and vectorized
``_encode_activity_pdf`` write the same bytes.
"""

import pandas as pd

from activity_files_spark.sources.fit import _encode_activity_pdf, encode_fit, parse_fit
from activity_files_spark.sources.gpx import _ts_key
from activity_files_spark.sources.records import records_frame

T0 = pd.Timestamp("2024-03-01T10:00:00")
PTS = [{"seq": 0, "ts": T0, "lat": 40.0, "lon": -105.0, "ele": 1600.0}]


def _rows(blob: bytes, kind: str) -> list[dict]:
    return [r for r in parse_fit("a", blob) if r["kind"] == kind]


def _meta(blob: bytes) -> dict:
    return _rows(blob, "meta")[0]["attrs"]


def test_negative_lap_distance_clamps_to_zero():
    lap = {"lap_id": 0, "start_ts": T0, "end_ts": T0 + pd.Timedelta(seconds=60),
           "distance_m": -5.0, "sport": "running", "attrs": {}}
    blob = encode_fit(PTS, {}, [lap])
    assert _rows(blob, "lap")[0]["distance_m"] == 0.0


def test_negative_length_strokes_clamp_to_zero():
    length = {"start_ts": T0, "end_ts": T0 + pd.Timedelta(seconds=30),
              "attrs": {"total_strokes": "-3"}}
    blob = encode_fit(PTS, {}, [], lengths=[length])
    assert _rows(blob, "length")[0]["attrs"]["total_strokes"] == "0"


def test_heavy_set_weight_clamps_below_sentinel():
    st = {"start_ts": T0, "end_ts": T0 + pd.Timedelta(seconds=30),
          "attrs": {"weight_kg": "5000"}}
    blob = encode_fit(PTS, {}, [], sets=[st])
    assert _rows(blob, "set")[0]["attrs"]["weight_kg"] == repr(0xFFFE / 16)


def test_session_count_clamps_below_sentinel():
    blob = encode_fit(PTS, {}, [], meta={"activity.num_sessions": "70000"})
    assert _meta(blob)["activity.num_sessions"] == str(0xFFFE)


def test_null_and_nan_channel_values_write_sentinels():
    ch = {_ts_key(T0): {"speed": None, "distance": float("nan"),
                        "heart_rate": float("nan")}}
    blob = encode_fit(PTS, ch, [])
    assert not _rows(blob, "channel")
    frame = records_frame([
        dict(PTS[0], activity_id="a", kind="point"),
        *({"activity_id": "a", "kind": "channel", "ts": T0, "channel": c,
           "value": float("nan")} for c in ("speed", "distance", "heart_rate")),
    ])
    assert _encode_activity_pdf("a", frame) == blob


def test_pre_epoch_point_clamps_in_both_encoders():
    """A point before the FIT epoch (1989-12-31) clamps to FIT second 0 in
    both encoders. A wrapped uint32 would decode as a point in 2121."""
    pts = [{"seq": 0, "ts": pd.Timestamp("1985-06-01T12:00:00"), "lat": 40.0,
            "lon": -105.0, "ele": 1600.0},
           {"seq": 1, "ts": T0, "lat": 40.001, "lon": -105.0, "ele": 1601.0}]
    blob = encode_fit(pts, {}, [])
    frame = records_frame([dict(p, activity_id="a", kind="point") for p in pts])
    assert _encode_activity_pdf("a", frame) == blob
    years = [r["ts"].year for r in parse_fit("a", blob) if r.get("ts") is not None]
    assert years and max(years) < 2100
    assert sorted(years) == [1989, 2024]
