"""Deep-cut reference parity: FIT compressed speed/distance (G7), pause
edits, per-channel tolerance mapping, device validation, GPX 1.0 / TCX v1
dialects."""

import struct
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from activity_files_spark.operators.asof import map_channels_wide
from activity_files_spark.operators.normalize import insert_pause, remove_pause
from activity_files_spark.operators.validation import validate_devices
from activity_files_spark.sources.fit import _def_record, fit_crc16, parse_fit


def ts(s):
    return datetime.fromisoformat(s)


def _fit_payload(body: bytes) -> bytes:
    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + body
    return blob + struct.pack("<H", fit_crc16(blob))


def test_fit_compressed_speed_distance_g7():
    """Record field 8 (3 bytes): 12-bit speed /100, 12-bit wrapping distance
    accumulator /16 (fit_parser.dart:448-472); explicit fields win."""
    t0 = 1_000_000_000
    body = bytearray()
    body += _def_record(0, 20, [(253, 4, 0x86), (8, 3, 0x0D)])

    def csd(speed_raw, dist_raw):
        b0 = speed_raw & 0xFF
        b1 = ((speed_raw >> 8) & 0x0F) | ((dist_raw & 0x0F) << 4)
        b2 = (dist_raw >> 4) & 0xFF
        return bytes([b0, b1, b2])

    # speed 2.50 m/s (250), distance accumulator 100 (6.25 m), then a WRAP:
    # 4000 -> 200 means +296 units mod 4096
    body += bytes([0x00]) + struct.pack("<I", t0) + csd(250, 100)
    body += bytes([0x00]) + struct.pack("<I", t0 + 10) + csd(300, 4000)
    body += bytes([0x00]) + struct.pack("<I", t0 + 20) + csd(310, 200)
    recs = parse_fit("a", _fit_payload(bytes(body)))
    speed = [r["value"] for r in recs if r["kind"] == "channel" and r["channel"] == "speed"]
    dist = [r["value"] for r in recs if r["kind"] == "channel" and r["channel"] == "distance"]
    assert speed == [2.5, 3.0, 3.1]
    # the accumulator starts at ZERO and advances by wrapped deltas on every
    # CSD record (fit_parser.dart:459-470): distance-since-start semantics
    assert dist[0] == 0.0
    assert dist[1] == (4000 - 100) / 16.0
    # wrap: (200 - 4000) & 0xFFF = 296 -> total 4196 units
    assert dist[2] == 4196 / 16.0


def test_insert_and_remove_pause(spark):
    df = spark.createDataFrame(
        [("a", i, ts(f"2024-03-01T10:00:{i * 10:02d}")) for i in range(4)],
        "activity_id string, seq long, ts timestamp",
    )
    shifted = {r["seq"]: str(r["ts"]) for r in insert_pause(df, "2024-03-01T10:00:20", 60.0).collect()}
    assert shifted[0] == "2024-03-01 10:00:00"
    assert shifted[1] == "2024-03-01 10:00:10"
    # raw_editor.dart:407-449: shift STRICTLY after `at` — boundary stays
    assert shifted[2] == "2024-03-01 10:00:20"
    assert shifted[3] == "2024-03-01 10:01:30"
    # remove a 20s pause: rows STRICTLY inside (from,to) dropped, both
    # boundaries kept, rows >= to pulled earlier (raw_editor.dart:451-503)
    removed = {r["seq"]: str(r["ts"]) for r in
               remove_pause(df, "2024-03-01T10:00:10", "2024-03-01T10:00:30").collect()}
    assert sorted(removed) == [0, 1, 3]
    assert removed[1] == "2024-03-01 10:00:10"  # at `from`: kept in place
    assert removed[3] == "2024-03-01 10:00:10"  # 10:00:30 - 20s closes the gap


def test_map_channels_wide_with_overrides(spark):
    probes = spark.createDataFrame(
        [("a", ts("2024-03-01T10:00:00")), ("a", ts("2024-03-01T10:00:10"))],
        "activity_id string, ts timestamp",
    )
    channels = spark.createDataFrame(
        [
            ("a", "heart_rate", ts("2024-03-01T10:00:02"), 140.0),
            ("a", "temperature", ts("2024-03-01T10:00:25"), 21.0),  # 15s from probe1
        ],
        "activity_id string, channel string, ts timestamp, value double",
    )
    wide = {str(r["ts"]): r for r in
            map_channels_wide(probes, channels, ["heart_rate", "temperature"]).collect()}
    p0 = wide["2024-03-01 10:00:00"]
    p1 = wide["2024-03-01 10:00:10"]
    assert p0["heart_rate"] == 140.0
    # temperature tolerance is 30s (encoder_options) -> both probes match
    assert p0["temperature"] == 21.0
    assert p1["temperature"] == 21.0
    assert p1["heart_rate"] is None  # 8s > 5s hr tolerance


def test_validate_devices(spark):
    meta = spark.createDataFrame(
        [
            ("a", {"device.manufacturer": "1"}),       # garmin: known
            ("b", {"device.manufacturer": "54321"}),   # in range, unknown
            ("c", {"device.manufacturer": "0"}),       # out of range
            ("d", {"format": "gpx"}),                  # no device info
        ],
        "activity_id string, attrs map<string,string>",
    )
    diags = {(r["activity_id"], r["code"]) for r in validate_devices(meta).collect()}
    assert ("c", "validation.device_id_range") in diags
    assert ("b", "validation.device_id_unknown") in diags
    assert not any(a == "a" for a, _ in diags)
    assert not any(a == "d" for a, _ in diags)


GPX10 = """<?xml version="1.0"?>
<gpx version="1.0" creator="old" xmlns="http://www.topografix.com/GPX/1/0">
  <trk><trkseg>
    <trkpt lat="40.0" lon="-105.0"><ele>1600.0</ele><time>2024-03-01T10:00:00Z</time></trkpt>
    <trkpt lat="40.0005" lon="-105.0005"><ele>1601.0</ele><time>2024-03-01T10:00:10Z</time></trkpt>
  </trkseg></trk>
</gpx>"""


def test_gpx_10_dialect(spark):
    from activity_files_spark.sources.decode import decode_records
    from activity_files_spark.sources.records import meta_of, points_of

    rec = decode_records(
        spark.createDataFrame([("v10", GPX10)], "activity_id string, xml string"),
        fmt="gpx", payload_col="xml",
    ).cache()
    pts = points_of(rec).orderBy("seq").collect()
    assert len(pts) == 2 and pts[0]["ele"] == 1600.0
    meta = dict(meta_of(rec).collect()[0]["attrs"])
    assert meta["version"] == "1.0"


TCX_V1 = """<?xml version="1.0"?>
<TrainingCenterDatabase xmlns="http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v1">
  <Activities><Activity Sport="Biking"><Id>x</Id>
    <Lap StartTime="2024-03-01T10:00:00Z"><TotalTimeSeconds>10</TotalTimeSeconds>
      <Track><Trackpoint><Time>2024-03-01T10:00:00Z</Time>
        <Position><LatitudeDegrees>40.0</LatitudeDegrees><LongitudeDegrees>-105.0</LongitudeDegrees></Position>
      </Trackpoint></Track>
    </Lap>
  </Activity></Activities>
</TrainingCenterDatabase>"""


def test_tcx_v1_dialect(spark):
    from activity_files_spark.sources.decode import decode_records
    from activity_files_spark.sources.records import laps_of, points_of

    rec = decode_records(
        spark.createDataFrame([("v1", TCX_V1)], "activity_id string, xml string"),
        fmt="tcx", payload_col="xml",
    ).cache()
    assert points_of(rec).count() == 1
    lap = laps_of(rec).collect()[0]
    assert lap["sport"] == "biking"
    assert str(lap["end_ts"]) == "2024-03-01 10:00:10"


def test_map_channels_wide_kernel_matches_native(spark):
    """The one channel kernel, given map_channels_wide's resolved J1
    tolerances, maps the same values as the native per-channel plan."""
    from activity_files_spark.operators.asof import (
        DEFAULT_CHANNEL_TOLERANCES,
        asof_channels_wide,
    )

    probes = spark.createDataFrame(
        [("a", ts(f"2024-03-01T10:00:{i:02d}")) for i in range(0, 30, 10)],
        "activity_id string, ts timestamp",
    )
    channels = spark.createDataFrame(
        [
            ("a", "heart_rate", ts("2024-03-01T10:00:02"), 140.0),
            ("a", "heart_rate", ts("2024-03-01T10:00:08"), 142.0),
            ("a", "temperature", ts("2024-03-01T10:00:25"), 21.0),
            ("a", "power", ts("2024-03-01T10:00:19"), 250.0),
        ],
        "activity_id string, channel string, ts timestamp, value double",
    )
    names = ["heart_rate", "temperature", "power"]
    native = {str(r["ts"]): r for r in map_channels_wide(probes, channels, names).collect()}
    tol = {n: DEFAULT_CHANNEL_TOLERANCES[n] for n in names}
    kern = {str(r["ts"]): r for r in asof_channels_wide(probes, channels, tol).collect()}
    for k in native:
        for ch in names:
            nv, kv = native[k][ch], kern[k][ch]
            nv = None if nv != nv else nv if nv is not None else None
            kv = None if (kv is None or kv != kv) else kv
            nv = None if nv is None else nv
            assert nv == kv, (k, ch, native[k][ch], kern[k][ch])


def test_fit_device_info_and_creator():
    t0 = 1_000_000_000
    body = bytearray()
    # device_info: manufacturer(2 u16), product(4 u16), software_version(5 u16)
    body += _def_record_local2(0, 23, [(2, 2, 0x84), (4, 2, 0x84), (5, 2, 0x84)])
    body += bytes([0x00]) + struct.pack("<HHH", 1, 2337, 950)
    # file_creator: software(0 u16), hardware(1 u8)
    body += _def_record_local2(1, 49, [(0, 2, 0x84), (1, 1, 0x02)])
    body += bytes([0x01]) + struct.pack("<HB", 123, 4)
    recs = parse_fit("a", _fit_payload(bytes(body)))
    meta = [r for r in recs if r["kind"] == "meta"][0]["attrs"]
    assert meta["device.manufacturer"] == "1"
    assert meta["device.product"] == "2337"
    assert meta["device.software_version"] == "9.5"
    assert meta["creator.software_version"] == "123"
    assert meta["creator.hardware_version"] == "4"


def _def_record_local2(local, global_num, fields):
    return _def_record(local, global_num, fields)


# --------------------------------------------------------- G8 sport inference

def test_resolve_sport_token_not_substring():
    """facade:1060-1093: keyword match is on delimiter-split tokens, so
    'runway' must not match running; priority order running > cycling."""
    from activity_files_spark.operators.summary import resolve_sport

    assert resolve_sport("Morning Run") == "running"
    assert resolve_sport("runway inspection") is None
    assert resolve_sport("bike-ride to work") == "cycling"
    assert resolve_sport("run then bike") == "running"  # priority order
    assert resolve_sport("OTHER") == "other"
    assert resolve_sport("") is None


def test_resolve_sport_numeric_id():
    """facade _sportByNumericId: 0..5 positional lookup; out-of-range and
    non-integral floats resolve to nothing."""
    from activity_files_spark.operators.summary import resolve_sport

    assert resolve_sport(1) == "running"
    assert resolve_sport(5) == "hiking"
    assert resolve_sport(0) == "other"
    assert resolve_sport(6) is None
    assert resolve_sport(-1) is None
    assert resolve_sport(2.0) == "cycling"
    assert resolve_sport(2.5) is None
    assert resolve_sport(True) is None


def test_resolve_sport_recursive_descent():
    """facade:1020-1035: maps descend into values, iterables into elements,
    first hit wins."""
    from activity_files_spark.operators.summary import resolve_sport

    assert resolve_sport({"meta": {"label": "evening swim"}}) == "swimming"
    assert resolve_sport(["garbage", {"x": 4}]) == "walking"
    assert resolve_sport({"a": None, "b": []}) is None


def test_sport_mapper_registry_lifo():
    """facade:386-398: registered mappers run before built-ins, LIFO."""
    from activity_files_spark.operators.summary import (
        clear_sport_mappers,
        register_sport_mapper,
        resolve_sport,
        unregister_sport_mapper,
    )

    def m1(src):
        return "cycling" if src == "zwift" else None

    def m2(src):
        return "other" if src == "zwift" else None

    try:
        register_sport_mapper(m1)
        assert resolve_sport("zwift") == "cycling"
        register_sport_mapper(m2)  # later registration wins (LIFO)
        assert resolve_sport("zwift") == "other"
        # mappers can override built-in keyword hits
        register_sport_mapper(lambda s: "hiking" if s == "trail run" else None)
        assert resolve_sport("trail run") == "hiking"
        assert unregister_sport_mapper(m2)
        assert resolve_sport("zwift") == "cycling"
    finally:
        clear_sport_mappers()
    assert resolve_sport("zwift") is None


def test_infer_sport_column_twins(spark):
    """Column twins agree with resolve_sport on strings and numeric ids."""
    from pyspark.sql import functions as F
    from activity_files_spark.operators.summary import (
        infer_sport,
        infer_sport_numeric,
        resolve_sport,
    )

    rows = [(i, t) for i, t in enumerate(
        ["morning run", "runway", "Bike-Ride", "pool swim!", "dog walk",
         "hike up", "other", "nothing here", "JOGGING time"])]
    df = spark.createDataFrame(rows, "id long, label string")
    got = {r["label"]: r["sport"] for r in
           df.select("label", infer_sport(F.col("label")).alias("sport")).collect()}
    for label, sport in got.items():
        assert sport == resolve_sport(label), label
    ids = spark.createDataFrame([(i,) for i in range(-1, 7)], "sid int")
    gotn = {r["sid"]: r["sport"] for r in
            ids.select("sid", infer_sport_numeric(F.col("sid")).alias("sport")).collect()}
    for sid, sport in gotn.items():
        assert sport == resolve_sport(sid), sid


def test_merge_records_multisport_lap_tagging(spark):
    """facade:751-803 merge with preserveSportPerLap: laps lacking a sport
    inherit their source activity's sport; merged meta/sport come from the
    first source; normalize dedups tied-ts points last-source-wins."""
    from datetime import datetime
    from pyspark.sql import functions as F
    from activity_files_spark.operators.summary import merge_records
    from activity_files_spark.sources.records import records_frame, RECORD_SCHEMA

    def recs(aid, sport, t0_min, tagged_lap_sport=None):
        rows = [
            {"activity_id": aid, "kind": "point", "seq": 0,
             "ts": datetime(2024, 3, 1, 10, t0_min, 0), "lat": 40.0, "lon": -105.0},
            {"activity_id": aid, "kind": "point", "seq": 1,
             "ts": datetime(2024, 3, 1, 10, t0_min, 30), "lat": 40.001, "lon": -105.0},
            {"activity_id": aid, "kind": "lap", "lap_id": 0,
             "start_ts": datetime(2024, 3, 1, 10, t0_min, 0),
             "end_ts": datetime(2024, 3, 1, 10, t0_min, 30),
             "sport": tagged_lap_sport},
            {"activity_id": aid, "kind": "meta", "sport": sport,
             "attrs": {"sport": sport or "", "creator": "src"}},
        ]
        return spark.createDataFrame(records_frame(rows), RECORD_SCHEMA)

    swim = recs("a_swim", "swimming", 0)
    bike = recs("a_bike", "cycling", 10)
    run = recs("a_run", "running", 20, tagged_lap_sport="hiking")  # pre-tagged stays

    out = merge_records([swim, bike, run], "tri", preserve_sport_per_lap=True,
                        normalize=True, creator="my_triathlon_app")
    rows = out.collect()
    assert {r["activity_id"] for r in rows} == {"tri"}
    laps = sorted((r["start_ts"].minute, r["sport"]) for r in rows if r["kind"] == "lap")
    assert laps == [(0, "swimming"), (10, "cycling"), (20, "hiking")]
    metas = [r for r in rows if r["kind"] == "meta"]
    assert len(metas) == 1 and metas[0]["sport"] == "swimming"  # first source
    assert metas[0]["attrs"]["creator"] == "my_triathlon_app"
    assert sum(1 for r in rows if r["kind"] == "point") == 6

    # preserve off: untagged laps stay null
    out2 = merge_records([swim, bike], "m2", preserve_sport_per_lap=False)
    assert [r["sport"] for r in out2.filter(F.col("kind") == "lap").collect()] == [None, None]

    # normalize dedups tied-timestamp points, later source wins
    dup_a = recs("x1", "running", 0)
    dup_b = recs("x2", "walking", 0)  # same timestamps as dup_a
    out3 = merge_records([dup_a, dup_b], "m3", normalize=True)
    pts = out3.filter(F.col("kind") == "point").collect()
    assert len(pts) == 2  # 4 -> 2 after tied-ts dedup

    import pytest as _pytest
    with _pytest.raises(ValueError):
        merge_records([], "empty")


def test_merge_upsert_semantics(spark):
    """MERGE INTO: matched rows replaced (update) or kept (ignore),
    unmatched source inserted, unmatched target kept; single equi-join."""
    from activity_files_spark.operators.upsert import merge_upsert
    import pytest as _pytest

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, k string, v double"
    )
    source = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "id long, k string, v double"
    )
    up = {r["id"]: (r["k"], r["v"]) for r in
          merge_upsert(target, source, ["id"], "update").collect()}
    assert up == {1: ("a", 10.0), 2: ("b2", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    ig = {r["id"]: (r["k"], r["v"]) for r in
          merge_upsert(target, source, ["id"], "ignore").collect()}
    assert ig == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    plan = merge_upsert(target, source, ["id"], "update")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    with _pytest.raises(ValueError):
        merge_upsert(target, source, ["id"], "delete")


def test_merge_records_null_ts_points_survive_normalize(spark):
    """Review regression: points without timestamps pass through the
    normalize dedup unchanged (a null-ts window partition previously
    collapsed them all to one row)."""
    from activity_files_spark.operators.summary import merge_records
    from activity_files_spark.sources.records import records_frame, RECORD_SCHEMA
    from pyspark.sql import functions as F

    def mk(aid, n):
        rows = [{"activity_id": aid, "kind": "point", "seq": i, "ts": None,
                 "lat": 40.0 + i, "lon": -105.0} for i in range(n)]
        rows.append({"activity_id": aid, "kind": "meta", "sport": "running"})
        return spark.createDataFrame(records_frame(rows), RECORD_SCHEMA)

    out = merge_records([mk("a", 3), mk("b", 2)], "m", normalize=True)
    assert out.filter(F.col("kind") == "point").count() == 5


def test_fit_csd_state_advances_without_emission():
    """ADVICE r4: the CSD accumulator advances on EVERY CSD-bearing record
    (fit_parser.dart:459-463) — records with an explicit distance field or a
    0xFFF distance nibble still move csdLastRaw, so later deltas compute
    from the true previous raw, and distance emits whenever the explicit
    field is absent (no 0xFFF gate)."""
    t0 = 1_000_000_000
    body = bytearray()
    # def: ts + explicit distance (field 5, uint32, /100 m) + csd (field 8)
    body += _def_record(0, 20, [(253, 4, 0x86), (5, 4, 0x86), (8, 3, 0x0D)])

    def csd(speed_raw, dist_raw):
        b0 = speed_raw & 0xFF
        b1 = ((speed_raw >> 8) & 0x0F) | ((dist_raw & 0x0F) << 4)
        b2 = (dist_raw >> 4) & 0xFF
        return bytes([b0, b1, b2])

    inv_dist = struct.pack("<I", 0xFFFFFFFF)  # explicit distance absent
    # r1: seeds accumulator (emit 0); r2: EXPLICIT distance wins but state
    # still advances; r3: emits from the full 100->500->900 chain
    body += bytes([0x00]) + struct.pack("<I", t0) + inv_dist + csd(250, 100)
    body += bytes([0x00]) + struct.pack("<I", t0 + 10) + struct.pack("<I", 12345) + csd(260, 500)
    body += bytes([0x00]) + struct.pack("<I", t0 + 20) + inv_dist + csd(270, 900)
    recs = parse_fit("a", _fit_payload(bytes(body)))
    dist = [r["value"] for r in recs if r["kind"] == "channel" and r["channel"] == "distance"]
    # r1 csd 0, r2 explicit 123.45, r3 accumulated (500-100)+(900-500)=800 units
    assert dist == [0.0, 123.45, 800 / 16.0]


def test_fit_encode_all_nat_points_matches_sentinel():
    """ADVICE r4: scalar encode_fit on an all-NaT point list must fall back
    to the 0xFFFFFFFF sentinel like the vectorized path, not crash."""
    import pandas as pd

    from activity_files_spark.sources.fit import encode_fit

    blob = encode_fit([{"ts": pd.NaT, "lat": 40.0, "lon": -105.0}], {}, [])
    assert isinstance(blob, bytes) and len(blob) > 14
    recs = parse_fit("a", blob)
    # the NaT record row is skipped; no point rows come back
    assert not [r for r in recs if r["kind"] == "point"]
