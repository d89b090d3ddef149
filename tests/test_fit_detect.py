"""FIT codec: scale/sentinel constants pinned (fit_parser.dart:1213-1365),
CRC-16, round-trip through the encoder; format auto-detection."""

import struct
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from activity_files_spark.sources.decode import decode_records
from activity_files_spark.sources.detect import detect_format_py
from activity_files_spark.sources.fit import (
    FIT_EPOCH_UNIX,
    encode_fit,
    fit_crc16,
    fit_encode_records,
    parse_fit,
    _sanitize_dev_name,
)
from activity_files_spark.sources.records import (
    as_records,
    channels_of,
    diagnostics_of,
    laps_of,
    points_of,
)

TS0 = datetime(2024, 3, 1, 10, 0, 0)
PTS = [
    {"ts": TS0, "lat": 40.0, "lon": -105.0, "ele": 1600.0},
    {"ts": datetime(2024, 3, 1, 10, 0, 10), "lat": 40.0005, "lon": -105.0005, "ele": 1601.0},
    {"ts": datetime(2024, 3, 1, 10, 0, 20), "lat": 40.001, "lon": -105.001, "ele": 1602.0},
]


def mk_channels():
    from activity_files_spark.sources.gpx import _ts_key

    hr = [140, 142, 145]
    cad = [82, 84, 86]
    return {
        _ts_key(p["ts"]): {"heart_rate": float(h), "cadence": float(c)}
        for p, h, c in zip(PTS, hr, cad)
    }


def test_crc16_known_properties():
    assert fit_crc16(b"") == 0
    # self-check: appending the CRC little-endian yields a stream whose
    # total CRC is 0 (standard FIT check)
    data = b"hello fit world"
    crc = fit_crc16(data)
    assert fit_crc16(data + struct.pack("<H", crc)) == 0


def test_fit_roundtrip_canonical():
    laps = [{"start_ts": PTS[0]["ts"], "end_ts": PTS[-1]["ts"], "distance_m": 140.0}]
    payload = encode_fit(PTS, mk_channels(), laps)
    recs = parse_fit("act_000", payload)
    diags = [r for r in recs if r["kind"] == "diag"]
    assert diags == []
    pts = [r for r in recs if r["kind"] == "point"]
    assert len(pts) == 3
    # semicircle quantization: ~1e-7 deg resolution
    for got, want in zip(pts, PTS):
        assert abs(got["lat"] - want["lat"]) < 1e-6
        assert abs(got["lon"] - want["lon"]) < 1e-6
        assert abs(got["ele"] - want["ele"]) < 0.2  # alt raw = 1/5 m steps
        assert got["ts"] == want["ts"]
    hr = [r["value"] for r in recs if r["kind"] == "channel" and r["channel"] == "heart_rate"]
    assert hr == [140.0, 142.0, 145.0]
    lap = [r for r in recs if r["kind"] == "lap"][0]
    assert lap["start_ts"] == PTS[0]["ts"] and lap["end_ts"] == PTS[-1]["ts"]
    assert lap["distance_m"] == 140.0
    assert dict(lap["attrs"])["total_elapsed_s"] == "20.0"


def test_fit_sentinels_decode_to_null():
    # point with invalid altitude + missing channels: sentinel bytes
    pts = [{"ts": TS0, "lat": 40.0, "lon": -105.0, "ele": None}]
    payload = encode_fit(pts, {}, [])
    recs = parse_fit("a", payload)
    p = [r for r in recs if r["kind"] == "point"][0]
    assert p["ele"] is None  # 0xFFFF altitude sentinel -> null
    chans = [r for r in recs if r["kind"] == "channel"]
    assert chans == []  # all channel sentinels suppressed


def test_fit_corrupt_inputs_are_diags():
    assert parse_fit("a", b"")[0]["attrs"]["code"] == "fit.header.too_short"
    bad_magic = bytes([14, 0x20]) + b"\x00" * 12
    assert parse_fit("a", bad_magic)[0]["attrs"]["code"] == "fit.header.bad_magic"
    # corrupt the file CRC of a valid payload
    payload = bytearray(encode_fit(PTS, {}, []))
    payload[-1] ^= 0xFF
    codes = [r["attrs"]["code"] for r in parse_fit("a", bytes(payload)) if r["kind"] == "diag"]
    assert "fit.trailer.crc_mismatch" in codes
    # truncated mid-record still yields prior points + diagnostic
    valid = encode_fit(PTS, {}, [])
    recs = parse_fit("a", valid[: len(valid) // 2])
    codes = [r["attrs"]["code"] for r in recs if r["kind"] == "diag"]
    assert codes  # some truncation diagnostic
    assert not any(r["kind"] == "point" and r["ts"] is None for r in recs)


def test_fit_epoch_constant():
    # 1989-12-31T00:00:00Z
    assert FIT_EPOCH_UNIX == 631065600
    payload = encode_fit([{"ts": datetime(1990, 1, 1), "lat": 0.5, "lon": 0.5, "ele": 0.0}], {}, [])
    p = [r for r in parse_fit("a", payload) if r["kind"] == "point"][0]
    assert p["ts"] == datetime(1990, 1, 1)


def test_dev_name_sanitization():
    assert _sanitize_dev_name("Stryd Power", 0, 1) == "stryd_power"
    assert _sanitize_dev_name("3dpower", 0, 2) == "fit_dev_0_2"
    assert _sanitize_dev_name("__Weird--Name__", 1, 3) == "weird_name"
    assert _sanitize_dev_name("", 2, 4) == "fit_dev_2_4"


def test_fit_spark_roundtrip(spark):
    pts_df = spark.createDataFrame(
        [("act_000", p["ts"], p["lat"], p["lon"], p["ele"]) for p in PTS],
        "activity_id string, ts timestamp, lat double, lon double, ele double",
    )
    ch_df = spark.createDataFrame(
        [("act_000", p["ts"], "heart_rate", float(h)) for p, h in zip(PTS, [140, 142, 145])],
        "activity_id string, ts timestamp, channel string, value double",
    )
    enc = fit_encode_records(
        as_records(pts_df, "point").unionByName(as_records(ch_df, "channel"))
    ).collect()
    assert len(enc) == 1
    files = spark.createDataFrame(
        [("act_000", bytes(enc[0]["payload"]))], "activity_id string, payload binary"
    )
    rec = decode_records(files, fmt="fit").cache()
    assert points_of(rec).count() == 3
    hr = sorted(r["value"] for r in channels_of(rec).filter(F.col("channel") == "heart_rate").collect())
    assert hr == [140.0, 142.0, 145.0]
    assert diagnostics_of(rec).count() == 0


def test_detect_format():
    assert detect_format_py(b"", "ride.GPX") == "gpx"
    assert detect_format_py(b"<?xml?><gpx></gpx>") == "gpx"
    assert detect_format_py(b"<TrainingCenterDatabase/>") == "tcx"
    assert detect_format_py(b'{"type":"FeatureCollection","features":[]}') == "geojson"
    assert detect_format_py(b"timestamp,latitude,longitude\n2024,40,-105\n") == "csv"
    fit = encode_fit(PTS, {}, [])
    assert detect_format_py(fit) == "fit"
    import base64

    assert detect_format_py(base64.b64encode(fit)) == "fit"
    # BOM-prefixed utf-16 GPX
    xml16 = '<?xml version="1.0"?><gpx/>'.encode("utf-16")  # includes BOM
    assert detect_format_py(xml16) == "gpx"
    assert detect_format_py(b"random noise 1234") is None


def test_decode_records_detects_format(spark):
    """fmt=None: each row is parsed as the format detected from its payload
    and path; an undetectable payload becomes a diag record."""
    fit = encode_fit(PTS, {}, [])
    rows = [
        ("a.bin", b"<gpx/>"),
        ("b.bin", fit),
        ("c.csv", b"x"),  # extension wins
        ("d.bin", b"random noise 1234"),
    ]
    df = spark.createDataFrame(rows, "activity_id string, payload binary")
    rec = decode_records(df)
    got = {r["activity_id"]: r["attrs"]["format"]
           for r in rec.filter(F.col("kind") == "meta").collect()}
    assert got == {"a.bin": "gpx", "b.bin": "fit", "c.csv": "csv"}
    diags = [(r["activity_id"], r["attrs"]["code"]) for r in diagnostics_of(rec).collect()]
    assert diags == [("d.bin", "detect.unknown_format")]


def test_fit_array_valued_fields_never_throw():
    """Regression: a definition declaring array fields (n>1) must produce
    diagnostics/partial data, never a TypeError that kills the task."""
    # record def with ARRAY timestamp (2x uint32) and array hr (2x uint8)
    body = bytearray()
    body += _def_record_local(0, 20, [(253, 8, 0x86), (3, 2, 0x02), (0, 4, 0x85), (1, 4, 0x85)])
    t0 = 1_000_000_000
    body += bytes([0x00]) + struct.pack("<IIBBii", t0, t0 + 1, 140, 141,
                                        477625322, -1253632716)
    recs = parse_fit("a", _payload_of(bytes(body)))
    # array ts -> first element used; array hr -> first element
    pts = [r for r in recs if r["kind"] == "point"]
    assert len(pts) == 1
    hr = [r for r in recs if r["kind"] == "channel" and r["channel"] == "heart_rate"]
    assert hr and hr[0]["value"] == 140.0


def _def_record_local(local, global_num, fields):
    from activity_files_spark.sources.fit import _def_record

    return _def_record(local, global_num, fields)


def _payload_of(body: bytes) -> bytes:
    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + body
    return blob + struct.pack("<H", fit_crc16(blob))


# --------------------------------------------------------- full-profile encode

def _strip(recs, kinds):
    """Comparable projection of decoded records for the given kinds."""
    out = []
    for r in recs:
        if r["kind"] not in kinds:
            continue
        d = {k: v for k, v in r.items() if k != "activity_id"}
        out.append(d)
    return out


def test_fit_swim_roundtrip_lengths():
    """Swim fixture: length messages (101) decode -> encode -> decode equal
    (fit_encoder.dart:675-699 / writeLength)."""
    lengths = [
        {"start_ts": TS0, "end_ts": datetime(2024, 3, 1, 10, 0, 30),
         "attrs": {"total_elapsed_s": "30.0", "total_strokes": "22",
                   "avg_speed_mps": "0.833", "swim_stroke": "0",
                   "swim_stroke_name": "freestyle", "length_type": "1"}},
        {"start_ts": datetime(2024, 3, 1, 10, 0, 35),
         "end_ts": datetime(2024, 3, 1, 10, 1, 5),
         "attrs": {"total_elapsed_s": "30.0", "total_strokes": "18",
                   "avg_speed_mps": "0.9", "swim_stroke": "3",
                   "swim_stroke_name": "butterfly", "length_type": "1"}},
    ]
    meta = {"sport": "swimming", "session.total_distance_m": "50.0",
            "session.total_elapsed_s": "65.0"}
    p1 = encode_fit(PTS, {}, [], lengths=lengths, meta=meta)
    r1 = parse_fit("a", p1)
    assert [r for r in r1 if r["kind"] == "diag"] == []
    got1 = _strip(r1, {"length"})
    assert len(got1) == 2
    assert got1[0]["attrs"]["swim_stroke_name"] == "freestyle"
    assert got1[1]["attrs"]["swim_stroke"] == "3"
    assert got1[0]["attrs"]["length_type"] == "1"
    meta1 = [r for r in r1 if r["kind"] == "meta"][0]
    assert meta1["sport"] == "swimming"
    assert meta1["attrs"]["session.total_distance_m"] == "50.0"
    # second round trip is a fixed point
    p2 = encode_fit(
        [r for r in r1 if r["kind"] == "point"],
        {}, [], lengths=[r for r in r1 if r["kind"] == "length"],
        meta=meta1["attrs"],
    )
    r2 = parse_fit("a", p2)
    assert _strip(r2, {"length"}) == got1
    assert _strip(r2, {"point"}) == _strip(r1, {"point"})


def test_fit_strength_roundtrip_sets():
    """Strength fixture: set messages (225) with set_type/category
    round-trip (fit_encoder.dart:700-729 / writeSet)."""
    sets = [
        {"start_ts": TS0, "end_ts": datetime(2024, 3, 1, 10, 0, 45),
         "attrs": {"duration_s": "45.0", "repetitions": "12",
                   "weight_kg": "52.5", "set_type": "1", "category": "7"}},
        {"start_ts": datetime(2024, 3, 1, 10, 1, 0),
         "end_ts": datetime(2024, 3, 1, 10, 1, 30),
         "attrs": {"duration_s": "30.0", "set_type": "0"}},  # rest set
    ]
    p1 = encode_fit(PTS, {}, [], sets=sets, meta={"sport": "generic"})
    r1 = parse_fit("a", p1)
    assert [r for r in r1 if r["kind"] == "diag"] == []
    got = _strip(r1, {"set"})
    assert len(got) == 2
    assert got[0]["attrs"]["repetitions"] == "12"
    assert got[0]["attrs"]["weight_kg"] == "52.5"  # scale-16 exact
    assert got[0]["attrs"]["set_type"] == "1"
    assert got[0]["attrs"]["category"] == "7"
    assert got[1]["attrs"]["set_type"] == "0"
    assert "repetitions" not in (got[1]["attrs"] or {})
    p2 = encode_fit([r for r in r1 if r["kind"] == "point"], {}, [],
                    sets=[r for r in r1 if r["kind"] == "set"])
    assert _strip(parse_fit("a", p2), {"set"}) == got


def test_fit_developer_field_writeback():
    """Channels without a native record field re-emit as float64 developer
    fields (206/207 descriptions precede the record definition), and decode
    back bit-exact (fit_encoder.dart:473-516)."""
    from activity_files_spark.sources.gpx import _ts_key

    ch = {
        _ts_key(PTS[0]["ts"]): {"water_temperature": 18.25, "heart_rate": 120.0},
        _ts_key(PTS[1]["ts"]): {"water_temperature": 18.5},
        # PTS[2]: absent -> NaN sentinel -> no channel row
    }
    p = encode_fit(PTS, ch, [])
    recs = parse_fit("a", p)
    assert [r for r in recs if r["kind"] == "diag"] == []
    wt = [(r["ts"], r["value"]) for r in recs
          if r["kind"] == "channel" and r["channel"] == "water_temperature"]
    assert wt == [(pd_ts(PTS[0]["ts"]), 18.25), (pd_ts(PTS[1]["ts"]), 18.5)]
    hr = [r["value"] for r in recs
          if r["kind"] == "channel" and r["channel"] == "heart_rate"]
    assert hr == [120.0]


def pd_ts(dt):
    import pandas as pd
    return pd.Timestamp(dt)


def test_fit_event_roundtrip():
    """Event messages (21) re-emit from event channel rows."""
    events = [{"ts": PTS[0]["ts"], "value": 0.0}, {"ts": PTS[2]["ts"], "value": 4.0}]
    p = encode_fit(PTS, {}, [], events=events)
    recs = parse_fit("a", p)
    got = [(r["ts"], r["value"]) for r in recs
           if r["kind"] == "channel" and r["channel"] == "event"]
    assert got == [(pd_ts(PTS[0]["ts"]), 0.0), (pd_ts(PTS[2]["ts"]), 4.0)]


def test_fit_encode_records_full_stream(spark):
    """fit_encode_records: unified record stream -> FIT -> identical
    points/channels/lengths/sets/laps through the Spark kernels."""
    from activity_files_spark.sources.fit import fit_encode_records
    from activity_files_spark.sources.records import records_frame, RECORD_SCHEMA

    rows = parse_fit("act_x", encode_fit(
        PTS, mk_channels(),
        [{"start_ts": PTS[0]["ts"], "end_ts": PTS[-1]["ts"],
          "distance_m": 140.0, "sport": "running"}],
        lengths=[{"start_ts": TS0, "end_ts": datetime(2024, 3, 1, 10, 0, 30),
                  "attrs": {"total_elapsed_s": "30.0", "total_strokes": "22",
                            "swim_stroke": "1", "length_type": "1"}}],
        sets=[{"start_ts": TS0, "end_ts": datetime(2024, 3, 1, 10, 0, 45),
               "attrs": {"duration_s": "45.0", "repetitions": "10",
                         "weight_kg": "20.0", "set_type": "1", "category": "3"}}],
        events=[{"ts": PTS[1]["ts"], "value": 4.0}],
        meta={"sport": "running"},
    ))
    rec_df = spark.createDataFrame(records_frame(rows), RECORD_SCHEMA)
    payloads = fit_encode_records(rec_df)
    back = decode_records(payloads, fmt="fit")
    b = [r.asDict(recursive=True) for r in back.collect()]
    for kind, n in [("point", 3), ("lap", 1), ("length", 1), ("set", 1)]:
        assert sum(1 for r in b if r["kind"] == kind) == n, kind
    evs = [r for r in b if r["kind"] == "channel" and r["channel"] == "event"]
    assert len(evs) == 1 and evs[0]["value"] == 4.0
    hr = sorted(r["value"] for r in b if r["kind"] == "channel" and r["channel"] == "heart_rate")
    assert hr == [140.0, 142.0, 145.0]
    ln = [r for r in b if r["kind"] == "length"][0]
    assert ln["attrs"]["swim_stroke_name"] == "backstroke"
    st = [r for r in b if r["kind"] == "set"][0]
    assert st["attrs"]["weight_kg"] == "20.0" and st["attrs"]["category"] == "3"
    meta = [r for r in b if r["kind"] == "meta"][0]
    assert meta["sport"] == "running"
    assert [r for r in b if r["kind"] == "diag"] == []


def test_fit_integrity_modes(spark):
    """integrity_mode.dart:7-55: strict raises on a corrupted trailer CRC,
    report emits diagnostics (+ integrity.* stats in meta), silent
    suppresses integrity diags but still returns best-effort data."""
    good = bytearray(encode_fit(PTS, {}, []))
    good[-1] ^= 0xFF  # corrupt the trailing CRC

    with pytest.raises(ValueError, match="fit.trailer.crc_mismatch"):
        parse_fit("a", bytes(good), integrity="strict")

    rep = parse_fit("a", bytes(good), integrity="report")
    codes = [r["attrs"]["code"] for r in rep if r["kind"] == "diag"]
    assert "fit.trailer.crc_mismatch" in codes
    meta = [r for r in rep if r["kind"] == "meta"][0]
    assert meta["attrs"]["integrity.crc_mismatches"] == "1"
    assert sum(1 for r in rep if r["kind"] == "point") == 3  # best-effort data

    sil = parse_fit("a", bytes(good), integrity="silent")
    assert [r for r in sil if r["kind"] == "diag"] == []
    assert sum(1 for r in sil if r["kind"] == "point") == 3
    assert "integrity.crc_mismatches" not in ([r for r in sil if r["kind"] == "meta"][0]["attrs"] or {})

    with pytest.raises(ValueError, match="integrity must be"):
        parse_fit("a", bytes(good), integrity="nope")

    # the Spark decode runs report mode: the same file decodes, never throws
    files = spark.createDataFrame(
        [("a", bytes(good))], "activity_id string, payload binary"
    )
    assert decode_records(files, fmt="fit").count() > 0


def test_fit_string_truncation_char_boundary():
    """G18: 63-byte string cap truncates at a UTF-8 character boundary —
    never emits a split multibyte sequence (fit string encode rule)."""
    from activity_files_spark.sources.fit import utf8_truncate

    assert utf8_truncate("abc") == b"abc"
    # 63 ascii chars exactly
    assert utf8_truncate("x" * 100) == b"x" * 63
    # 2-byte chars: 63//2 = 31 whole chars (62 bytes), never a half char
    s = "é" * 40
    out = utf8_truncate(s)
    assert len(out) == 62
    out.decode("utf-8")  # must not raise
    # boundary case: 62 ascii + one 2-byte char -> the 2-byte char is cut whole
    s2 = "a" * 62 + "é"
    out2 = utf8_truncate(s2)
    assert out2 == b"a" * 62
    out2.decode("utf-8")
    # 4-byte char straddling the cap
    s3 = "a" * 61 + "\U0001F600"
    out3 = utf8_truncate(s3)
    assert out3 == b"a" * 61
    out3.decode("utf-8")


def test_fit_encode_null_timestamps_and_event_values(spark):
    """Review regressions: NaT timestamps on lengths/sets/laps and null/
    out-of-range event values must encode as invalid sentinels, not crash
    the kernel (pandas nulls arrive as NaT/NaN through to_dict)."""
    from activity_files_spark.sources.fit import fit_encode_records
    from activity_files_spark.sources.records import records_frame, RECORD_SCHEMA

    rows = [
        {"activity_id": "a", "kind": "point", "seq": 0, "ts": TS0,
         "lat": 40.0, "lon": -105.0},
        {"activity_id": "a", "kind": "point", "seq": 1, "ts": None,  # dropped
         "lat": 40.1, "lon": -105.0},
        {"activity_id": "a", "kind": "length", "start_ts": TS0, "end_ts": None,
         "attrs": {"total_elapsed_s": "30.0"}},
        {"activity_id": "a", "kind": "set", "start_ts": None, "end_ts": None,
         "attrs": {"repetitions": "5"}},
        {"activity_id": "a", "kind": "lap", "lap_id": 0, "start_ts": None,
         "end_ts": None},
        {"activity_id": "a", "kind": "channel", "channel": "event", "ts": TS0,
         "value": None},
        {"activity_id": "a", "kind": "channel", "channel": "event",
         "ts": datetime(2024, 3, 1, 10, 0, 10), "value": 300.0},
    ]
    rec_df = spark.createDataFrame(records_frame(rows), RECORD_SCHEMA)
    back = decode_records(fit_encode_records(rec_df), fmt="fit")
    back = [r.asDict() for r in back.collect()]
    assert sum(1 for r in back if r["kind"] == "point") == 1  # null-ts dropped
    # length survives: end falls back to start+elapsed on decode
    lens = [r for r in back if r["kind"] == "length"]
    assert len(lens) == 1 and lens[0]["start_ts"] is not None
    # events with null / >254 values encode the invalid sentinel, which the
    # decoder reports as event id 0 (its null -> 0 contract for msg 21)
    evs = [r["value"] for r in back if r["kind"] == "channel" and r["channel"] == "event"]
    assert evs == [0.0, 0.0]
    assert not any(r["kind"] == "diag" for r in back)
