"""Physical layout: bucketed joins eliminate shuffles; cell-partitioned
writes prune partitions. Plus deep-cut parity: FIT set/length messages,
GPX multi-track."""

import os

import pytest
from pyspark.sql import functions as F

from activity_files_spark.plans.layout import write_bucketed, write_cell_partitioned


def _fresh_tables(spark, *names):
    """Drop each managed table and clear its warehouse location: a crashed
    or earlier run can leave the directory behind without catalog
    metadata, and saveAsTable then refuses the name."""
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in names:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    _fresh_tables(spark, "pts_b", "ch_b")
    pts = spark.range(1000).select(
        F.col("id").alias("activity_id"), (F.col("id") % 7).alias("x")
    )
    ch = spark.range(1000).select(
        F.col("id").alias("activity_id"), (F.col("id") % 5).alias("v")
    )
    write_bucketed(pts, "pts_b", "activity_id", n_buckets=8)
    write_bucketed(ch, "ch_b", "activity_id", n_buckets=8)
    # force the shuffle-join path so bucketing (not broadcast) is what
    # eliminates the exchange — at 100 TB neither side broadcasts
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("pts_b").join(spark.table("ch_b"), "activity_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: zero shuffles
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_asof_cogroup_has_no_shuffle(spark):
    """The 100 TB claim in layout.py's docstring, proven for the COGROUP
    as-of path (not just equi-joins): points and channels bucketed on
    activity_id feed asof_channels_wide's FlatMapCoGroupsInPandas with no
    Exchange on either side — bucketing satisfies the cogroup's clustered
    distribution, leaving only within-partition sorts. asof_channels_wide is
    the one Arrow channel kernel: asof_join_pandas and the CLI's
    snap_channels_to_points run through it."""
    from activity_files_spark.operators.asof import asof_channels_wide

    _fresh_tables(spark, "pts_asof_b", "ch_asof_b")
    pts = spark.range(1000).select(
        (F.col("id") % 50).cast("string").alias("activity_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )
    ch = spark.range(3000).select(
        (F.col("id") % 50).cast("string").alias("activity_id"),
        F.timestamp_seconds(F.lit(1700000000) + (F.col("id") % 900)).alias("ts"),
        F.lit("heart_rate").alias("channel"),
        (F.col("id") % 200).cast("double").alias("value"),
    )
    write_bucketed(pts, "pts_asof_b", "activity_id", n_buckets=8)
    write_bucketed(ch, "ch_asof_b", "activity_id", n_buckets=8)
    out = asof_channels_wide(
        spark.table("pts_asof_b"), spark.table("ch_asof_b"), {"heart_rate": 5.0},
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Exchange" not in plan, plan  # co-located: zero shuffles
    assert "Bucketed: true" in plan
    assert out.count() == 1000


def test_cell_partitioned_write_prunes(spark, tmp_path):
    from activity_files_spark.data.images import synth_images
    from activity_files_spark.operators.tiling import tile_assign

    tiles = tile_assign(synth_images(spark, 50, partitions=2), resolutions=[8, 12]).select(
        "image_id", "zoom", "cell_id"
    )
    path = str(tmp_path / "tiles")
    write_cell_partitioned(tiles, path)
    back = spark.read.parquet(path)
    assert back.count() == 100
    pruned = back.filter(F.col("zoom") == 8)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter present on zoom (directory pruning)
    assert back.filter(F.col("zoom") == 8).count() == 50


def test_fit_set_and_length_messages():
    import struct

    from activity_files_spark.sources.fit import (
        FIT_EPOCH_UNIX,
        _def_record,
        fit_crc16,
        parse_fit,
    )

    # hand-build a FIT body: length (101) + set (225) messages
    body = bytearray()
    # FIT-profile fields: 7 = swim_stroke, 12 = length_type (0 idle/1 active)
    body += _def_record(0, 101, [(253, 4, 0x86), (2, 4, 0x86), (3, 4, 0x86), (5, 2, 0x84), (7, 1, 0x00), (12, 1, 0x00)])
    t0 = 1_000_000_000
    body += bytes([0x00]) + struct.pack("<IIIHBB", t0 + 30, t0, 30000, 24, 1, 1)
    body += _def_record(1, 225, [(254, 4, 0x86), (6, 4, 0x86), (3, 2, 0x84), (4, 2, 0x84), (0, 4, 0x86)])
    body += bytes([0x01]) + struct.pack("<IIHHI", t0 + 90, t0 + 60, 12, 800, 30000)
    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + bytes(body)
    payload = blob + struct.pack("<H", fit_crc16(blob))

    recs = parse_fit("a", payload)
    lengths = [r for r in recs if r["kind"] == "length"]
    sets = [r for r in recs if r["kind"] == "set"]
    assert len(lengths) == 1 and len(sets) == 1
    la = dict(lengths[0]["attrs"])
    assert la["total_elapsed_s"] == "30.0" and la["total_strokes"] == "24"
    assert la["swim_stroke"] == "1"  # backstroke wire value (field 7)
    assert la["length_type"] == "1"  # active (field 12)
    sa = dict(sets[0]["attrs"])
    assert sa["repetitions"] == "12"
    assert sa["weight_kg"] == "50.0"  # 800 / 16
    assert sa["duration_s"] == "30.0"


def test_fit_activity_message_34():
    """Activity (34) handler parity (fit_parser.dart:769-776): field 0
    total_timer_time is the timer fallback — the primary session's field 8
    wins regardless of message order — plus surfaced num_sessions and the
    local-timestamp UTC offset; all three round-trip through the encoder."""
    import struct

    from activity_files_spark.sources.fit import (
        _def_record,
        encode_fit,
        fit_crc16,
        parse_fit,
    )

    def build(session_timer_raw):
        body = bytearray()
        # session: sport running, elapsed 60s, timer (maybe), distance 1km
        body += _def_record(0, 18, [(253, 4, 0x86), (5, 1, 0x00),
                                    (7, 4, 0x86), (8, 4, 0x86), (9, 4, 0x86)])
        t0 = 1_000_000_000
        body += bytes([0x00]) + struct.pack(
            "<IBIII", t0, 1, 60000, session_timer_raw, 100000)
        # activity: timer 45.5s, 2 sessions, local ts = utc + 7200 (UTC+2)
        body += _def_record(1, 34, [(253, 4, 0x86), (0, 4, 0x86),
                                    (1, 2, 0x84), (5, 4, 0x86)])
        body += bytes([0x01]) + struct.pack("<IIHI", t0, 45500, 2, t0 + 7200)
        header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
        header += struct.pack("<H", fit_crc16(header))
        blob = header + bytes(body)
        return blob + struct.pack("<H", fit_crc16(blob))

    # session carries no timer (invalid sentinel) -> activity's wins
    meta = [r for r in parse_fit("a", build(0xFFFFFFFF)) if r["kind"] == "meta"][0]
    a = meta["attrs"]
    assert a["session.total_timer_s"] == "45.5"
    assert a["activity.total_timer_s"] == "45.5"
    assert a["activity.num_sessions"] == "2"
    assert a["activity.local_ts_offset_s"] == "7200"
    # session timer present -> session wins (fit_parser.dart:609-612, 773)
    meta2 = [r for r in parse_fit("a", build(30250)) if r["kind"] == "meta"][0]
    assert meta2["attrs"]["session.total_timer_s"] == "30.25"
    assert meta2["attrs"]["activity.total_timer_s"] == "45.5"
    # encoder re-emits msg 34 + session field 8: full round-trip
    blob2 = encode_fit([], {}, [], meta=dict(a))
    back = [r for r in parse_fit("b", blob2) if r["kind"] == "meta"][0]["attrs"]
    assert back["session.total_timer_s"] == "45.5"
    assert back["activity.num_sessions"] == "2"
    # no points -> activity ts is the invalid sentinel -> offset not derivable
    assert "activity.local_ts_offset_s" not in back
    # with a point the UTC offset round-trips through local_timestamp
    import pandas as pd
    pt = [{"seq": 0, "ts": pd.Timestamp("2024-03-01T10:00:00"),
           "lat": 40.0, "lon": -105.0, "ele": None}]
    blob3 = encode_fit(pt, {}, [], meta=dict(a))
    back3 = [r for r in parse_fit("c", blob3) if r["kind"] == "meta"][0]["attrs"]
    assert back3["activity.local_ts_offset_s"] == "7200"


def _fit_blob(body: bytes) -> bytes:
    import struct

    from activity_files_spark.sources.fit import fit_crc16

    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + bytes(body)
    return blob + struct.pack("<H", fit_crc16(blob))


def test_fit_definition_robustness_large_def_and_arrays():
    """Mirrors the reference's fit_definition_robustness_test.dart: (1) a
    100-field session definition must not derail the record stream (modern
    Garmin sessions carry 130+ fields), with unknown fields captured as
    raw extras; (2) a uint16 ARRAY field must advance by the field size,
    not the base width, or every following field misaligns."""
    import struct

    from activity_files_spark.sources.fit import _def_record, parse_fit

    base = 1_000_000_000
    body = bytearray()
    rec_def = [(253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85)]
    semi = int(47.0 * (2**31) / 180.0)
    semi2 = int(11.0 * (2**31) / 180.0)
    body += _def_record(0, 20, rec_def)
    for i in range(3):
        body += bytes([0x00]) + struct.pack("<Iii", base + i, semi, semi2)
    # session def with 100 fields: 253/9/14 + 97 dummy uint8s
    sess_fields = [(253, 4, 0x86), (9, 4, 0x86), (14, 2, 0x84)] + [
        (f, 1, 0x02) for f in range(100, 197)
    ]
    body += _def_record(1, 18, sess_fields)
    body += bytes([0x01]) + struct.pack("<IIH", base, 500000, 3000)
    body += bytes(42 if f == 150 else 0xFF for f in range(100, 197))
    # records AFTER the large definition must still parse
    for i in range(3, 6):
        body += bytes([0x00]) + struct.pack("<Iii", base + i, semi, semi2)
    recs = parse_fit("a", _fit_blob(body))
    pts = [r for r in recs if r["kind"] == "point"]
    assert len(pts) == 6, "records before and after a 100-field session"
    meta = [r for r in recs if r["kind"] == "meta"][0]["attrs"]
    assert meta["session.total_distance_m"] == "5000.0"
    assert meta["session.avg_speed_mps"] == "3.0"
    assert meta["session.extra.150"] == "42"

    # (2) uint16 array (field 120, size 4 = two elements) BEFORE 14 and 9
    body2 = bytearray()
    body2 += _def_record(0, 20, rec_def)
    body2 += bytes([0x00]) + struct.pack("<Iii", base, semi, semi2)
    body2 += _def_record(1, 18, [(253, 4, 0x86), (120, 4, 0x84),
                                 (14, 2, 0x84), (9, 4, 0x86)])
    body2 += bytes([0x01]) + struct.pack("<IHHHI", base, 100, 200, 3000, 500000)
    recs2 = parse_fit("a", _fit_blob(body2))
    meta2 = [r for r in recs2 if r["kind"] == "meta"][0]["attrs"]
    assert meta2["session.avg_speed_mps"] == "3.0", "no misalignment after array"
    assert meta2["session.total_distance_m"] == "5000.0"
    assert meta2["session.extra_array.120"] == "100,200"


def test_fit_session_lap_summary_roundtrip():
    """The full session/lap summary surface (fit_encoder.dart writeSession/
    writeLap field sets) round-trips encode -> binary -> decode, including
    preserved raw extras (scalars + padded uint32 arrays)."""
    import pandas as pd

    from activity_files_spark.sources.fit import encode_fit, parse_fit

    t0 = pd.Timestamp("2024-03-01T10:00:00")
    meta = {
        "sport": "swimming", "session.total_elapsed_s": "1800.0",
        "session.total_timer_s": "1750.5", "session.total_distance_m": "1500.0",
        "session.calories": "350", "session.avg_speed_mps": "0.833",
        "session.max_speed_mps": "1.25", "session.avg_hr": "120",
        "session.max_hr": "155", "session.avg_cadence": "28",
        "session.max_cadence": "40", "session.avg_power": "180",
        "session.max_power": "320", "session.sub_sport": "17",
        "session.total_cycles": "600", "session.avg_stroke_count": "21.5",
        "session.swim_stroke": "0", "session.pool_length_m": "25.0",
        "session.num_active_lengths": "60",
        "session.extra.26": "12345", "session.extra_array.110": "7,8,9",
    }
    laps = [{
        "lap_id": 0, "start_ts": t0, "end_ts": t0 + pd.Timedelta(seconds=900),
        "distance_m": 750.0, "sport": "swimming",
        "attrs": {
            "total_elapsed_s": "900.0", "total_timer_s": "880.0",
            "calories": "170", "avg_speed_mps": "0.82", "max_speed_mps": "1.1",
            "avg_hr": "118", "max_hr": "150", "avg_cadence": "27",
            "max_cadence": "38", "avg_power": "175", "max_power": "300",
            "event": "9", "event_type": "1", "swim_stroke": "1",
            "num_active_lengths": "30", "extra.33": "777",
            "extra_array.60": "4,5",
        },
    }]
    pts = [{"seq": 0, "ts": t0, "lat": 40.0, "lon": -105.0, "ele": None}]
    blob = encode_fit(pts, {}, laps, meta=meta)
    back = parse_fit("b", blob)
    m = [r for r in back if r["kind"] == "meta"][0]["attrs"]
    for k, want in meta.items():
        if k == "sport":
            continue
        got = m.get(k)
        assert got is not None, k
        assert float(str(got).split(",")[0]) == float(str(want).split(",")[0]) \
            or got == want, (k, got, want)
    assert m["session.extra_array.110"] == "7,8,9"
    assert m["session.sub_sport"] == "17"
    assert m["session.swim_stroke_name"] == "freestyle"
    lap = [r for r in back if r["kind"] == "lap"][0]
    la = lap["attrs"]
    assert la["total_timer_s"] == "880.0" and la["calories"] == "170"
    assert la["avg_speed_mps"] == "0.82" and la["max_power"] == "300"
    assert la["event"] == "9" and la["swim_stroke_name"] == "backstroke"
    assert la["num_active_lengths"] == "30"
    assert la["extra.33"] == "777" and la["extra_array.60"] == "4,5"
    assert lap["distance_m"] == 750.0 and lap["sport"] == "swimming"


def test_fit_record_channel_surface_parity():
    """Record-path parity sweep (fit_parser.dart:352-515): field 78 is the
    GRADE channel (scale 100) and 120 left_right_balance (raw) — altitude
    comes from field 2 only and speed from field 6 only; unknown native
    numeric fields become fit_field_<n> channels with raw values; records
    without a timestamp emit the missing-timestamp diagnostic; vendor
    messages under a non-standard global id whose definition carries
    253/0/1 are harvested as records (position required); developer fields
    apply field_description scale/offset (raw / scale - offset)."""
    import struct

    from activity_files_spark.sources.fit import _def_record, parse_fit

    base = 1_000_000_000
    semi = int(47.0 * (2**31) / 180.0)
    body = bytearray()
    # record def: ts, lat, lon, alt(2), grade(78, u16), lrb(120, u16),
    # unknown 90 (u16), speed(6)
    body += _def_record(0, 20, [
        (253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85), (2, 2, 0x84),
        (78, 2, 0x84), (120, 2, 0x84), (90, 2, 0x84), (6, 2, 0x84),
    ])
    body += bytes([0x00]) + struct.pack(
        "<IiiHHHHH", base, semi, semi, (1600 + 500) * 5, 250, 5150, 77, 3000
    )
    # a record WITHOUT a timestamp value (sentinel) -> RECOVERED from the
    # previous record's context (fit_parser.dart:355-380) with a warning
    body += bytes([0x00]) + struct.pack(
        "<IiiHHHHH", 0xFFFFFFFF, semi, semi, 0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF, 0xFFFF
    )
    # developer field with scale 10 offset 5: field_description first
    body += _def_record(1, 207, [(3, 1, 0x02)])
    body += bytes([0x01, 0])
    name = b"scaled_chan"
    body += _def_record(2, 206, [(0, 1, 0x02), (1, 1, 0x02), (2, 1, 0x02),
                                 (3, len(name) + 1, 0x07),
                                 (6, 1, 0x02), (7, 1, 0x02)])
    body += bytes([0x02, 0, 7, 0x84]) + name + b"\x00" + bytes([10, 5])
    body += _def_record(3, 20, [(253, 4, 0x86)],
                        dev_fields=[(7, 2, 0)])
    body += bytes([0x03]) + struct.pack("<IH", base + 1, 150)  # 150/10-5 = 10
    # vendor message global 65280 with ts/lat/lon -> fallback record
    body += _def_record(4, 65280, [(253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85)])
    body += bytes([0x04]) + struct.pack("<Iii", base + 2, semi, semi)
    # fallback record with missing position -> dropped entirely
    body += bytes([0x04]) + struct.pack("<Iii", base + 3, 0x7FFFFFFF, semi)

    recs = parse_fit("a", _fit_blob(body))
    pts = [r for r in recs if r["kind"] == "point"]
    ch = {}
    for r in recs:
        if r["kind"] == "channel":
            ch.setdefault(r["channel"], []).append(r["value"])
    diags = [r for r in recs if r["kind"] == "diag"]

    # canonical pair + fallback (the positionless fallback is dropped);
    # the sentinel-ts record RECOVERS to the prior record's timestamp
    assert len(pts) == 3
    assert pts[0]["ele"] == 1600.0  # field 2 only
    assert pts[1]["ts"] == pts[0]["ts"]  # recovered context
    codes = [d["attrs"]["code"] for d in diags]
    assert codes.count("fit.record.recovered_timestamp") == 1
    assert codes.count("fit.record.missing_timestamp") == 0
    assert ch["grade"] == [2.5]  # 250 / 100
    assert ch["left_right_balance"] == [5150.0]  # raw
    assert ch["fit_field_90"] == [77.0]  # unknown native -> raw channel
    assert ch["speed"] == [3.0]
    assert ch["scaled_chan"] == [10.0]  # 150 / 10 - 5


def test_fit_stream_resync_and_diag_caps():
    """Unknown-definition references RESYNCHRONIZE instead of aborting
    (fit_parser.dart:266-315, 984-1021): the scanner finds the next
    parseable definition and parsing continues; unresyncable bytes skip
    one at a time; warnings cap at 5 with an overflow summary; records
    with no timestamp context at all emit the missing-timestamp diag."""
    import struct

    from activity_files_spark.sources.fit import _def_record, parse_fit

    base = 1_000_000_000
    semi = int(47.0 * (2**31) / 180.0)
    body = bytearray()
    rec_def = [(253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85)]
    # record with sentinel ts BEFORE any context -> missing-timestamp diag
    body += _def_record(0, 20, rec_def)
    body += bytes([0x00]) + struct.pack("<Iii", 0xFFFFFFFF, semi, semi)
    body += bytes([0x00]) + struct.pack("<Iii", base, semi, semi)
    # data message for UNDEFINED local 5, immediately followed by a valid
    # definition for local 5 (event, global 21) -> resync finds it and the
    # subsequent data message parses
    body += bytes([0x05])
    body += _def_record(5, 21, [(253, 4, 0x86), (0, 1, 0x00)])
    body += bytes([0x05]) + struct.pack("<IB", base + 10, 4)
    # records after the resync still parse
    body += bytes([0x00]) + struct.pack("<Iii", base + 20, semi, semi)
    # 14 unresyncable junk bytes at the end (each failed resync consumes
    # two bytes: the header + one skipped, like the reference's
    # progressBeforeResync + 1): 7 unknown events -> 5 capped warnings +
    # the overflow summary. Low nibbles avoid the DEFINED locals (0, 5) so
    # no junk byte aliases to a known definition.
    body += bytes([0x21, 0x22, 0x23, 0x24, 0x26, 0x27, 0x28,
                   0x29, 0x2A, 0x2B, 0x2C, 0x2D, 0x2E, 0x2F])

    recs = parse_fit("a", _fit_blob(body))
    pts = [r for r in recs if r["kind"] == "point"]
    codes = [r["attrs"]["code"] for r in recs if r["kind"] == "diag"]
    ev = [r for r in recs if r["kind"] == "channel" and r["channel"] == "event"]
    assert len(pts) == 2  # both valid records survive the resync
    assert len(ev) == 1  # the post-resync event message parsed
    assert codes.count("fit.record.missing_timestamp") == 1
    assert codes.count("fit.data.unknown_definition") == 5  # capped (8 total)
    assert any(c == "fit.data.unknown_definition.summary" for c in codes)
    summary_msg = [r["attrs"]["message"] for r in recs if r["kind"] == "diag"
                   and r["attrs"]["code"] == "fit.data.unknown_definition.summary"][0]
    assert "3 additional" in summary_msg
    assert 1 <= codes.count("fit.data.resync_failed") <= 5


def test_fit_encode_clamps_out_of_range_and_silent_mode():
    """Out-of-range channel values CLAMP below the invalid sentinel in
    BOTH encoder paths (fit_encoder.dart:853-875) instead of raising
    (scalar struct.pack) or silently wrapping (numpy cast); and
    integrity='silent' suppresses the best-effort parse diagnostics too."""
    import numpy as np
    import pandas as pd

    import activity_files_spark.sources.fit as FIT
    from activity_files_spark.sources.gpx import _ts_key

    t0 = pd.Timestamp("2024-03-01T10:00:00")
    pts = [{"seq": 0, "ts": t0, "lat": 40.0, "lon": -105.0, "ele": 20000.0}]
    ch = {_ts_key(t0): {"heart_rate": 300.0, "temperature": -200.0,
                        "power": 99999.0}}
    blob = FIT.encode_fit(pts, ch, [])  # previously raised struct.error
    back = FIT.parse_fit("a", blob)
    vals = {r["channel"]: r["value"] for r in back if r["kind"] == "channel"}
    assert vals["heart_rate"] == 254.0  # clamped to 0xFE, not wrapped to 44
    assert vals["temperature"] == -128.0
    assert vals["power"] == 65534.0
    # the vectorized kernel clamps identically (byte parity on bad input)
    rows = [{"activity_id": "a", "kind": "point", "seq": 0, "ts": t0,
             "lat": 40.0, "lon": -105.0, "ele": 20000.0, "channel": None,
             "value": None, "lap_id": None, "start_ts": None, "end_ts": None,
             "distance_m": None, "sport": None, "attrs": None}]
    for cname, v in (("heart_rate", 300.0), ("temperature", -200.0),
                     ("power", 99999.0)):
        rows.append({"activity_id": "a", "kind": "channel", "seq": None,
                     "ts": t0, "lat": None, "lon": None, "ele": None,
                     "channel": cname, "value": v, "lap_id": None,
                     "start_ts": None, "end_ts": None, "distance_m": None,
                     "sport": None, "attrs": None})
    assert FIT._encode_activity_pdf("a", pd.DataFrame(rows)) == blob
    # silent mode: recovery/resync/missing diagnostics are suppressed like
    # every other diagnostic (IntegrityMode.silent -> empty list)
    import struct

    body = bytearray()
    body += FIT._def_record(0, 20, [(253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85)])
    semi = int(47.0 * (2**31) / 180.0)
    body += bytes([0x00]) + struct.pack("<Iii", 1_000_000_000, semi, semi)
    body += bytes([0x00]) + struct.pack("<Iii", 0xFFFFFFFF, semi, semi)
    body += bytes([0x2B, 0x2C])  # unresyncable junk
    silent = FIT.parse_fit("a", _fit_blob(body), integrity="silent")
    assert not [r for r in silent if r["kind"] == "diag"]
    report = FIT.parse_fit("a", _fit_blob(body), integrity="report")
    assert [r for r in report if r["kind"] == "diag"]


def test_fit_device_info_sensor_does_not_override_creator():
    """device_index 0 is the head unit; a paired sensor (device_index 3)
    must not overwrite its manufacturer, and later creator messages merge
    latest-non-null (fit_parser.dart:738-768)."""
    import struct

    from activity_files_spark.sources.fit import _def_record, parse_fit

    body = bytearray()
    di_def = [(0, 1, 0x02), (2, 2, 0x84), (4, 2, 0x84), (3, 4, 0x86)]
    body += _def_record(0, 23, di_def)
    # head unit: wahoo(32), product 99, serial 12345
    body += bytes([0x00]) + struct.pack("<BHHI", 0, 32, 99, 12345)
    # paired sensor: garmin(1) — must NOT override
    body += bytes([0x00]) + struct.pack("<BHHI", 3, 1, 55, 999)
    # later head-unit message with only product set -> merges over
    body += bytes([0x00]) + struct.pack("<BHHI", 0, 0xFFFF, 100, 0xFFFFFFFF)
    recs = parse_fit("a", _fit_blob(body))
    meta = [r for r in recs if r["kind"] == "meta"][0]["attrs"]
    assert meta["device.manufacturer"] == "32"
    assert meta["device.product"] == "100"  # latest creator value wins
    assert meta["device.serial"] == "12345"


def test_gpx_multi_track_concatenates(spark):
    from activity_files_spark.sources.decode import decode_records
    from activity_files_spark.sources.records import laps_of, points_of

    xml = """<?xml version="1.0"?><gpx version="1.1" creator="t"
      xmlns="http://www.topografix.com/GPX/1/1">
      <trk><name>t1</name><trkseg>
        <trkpt lat="40.0" lon="-105.0"><time>2024-03-01T10:00:00Z</time></trkpt>
        <trkpt lat="40.0005" lon="-105.0005"><time>2024-03-01T10:00:10Z</time></trkpt>
      </trkseg></trk>
      <trk><name>t2</name><trkseg>
        <trkpt lat="41.0" lon="-106.0"><time>2024-03-01T11:00:00Z</time></trkpt>
      </trkseg></trk>
    </gpx>"""
    rec = decode_records(
        spark.createDataFrame([("m", xml)], "activity_id string, xml string"),
        fmt="gpx", payload_col="xml",
    ).cache()
    pts = points_of(rec).orderBy("seq").collect()
    assert len(pts) == 3
    assert [p["seq"] for p in pts] == [0, 1, 2]  # continuous across tracks
    assert len(laps_of(rec).collect()) == 2  # one lap per trkseg


def test_s2_bucketed_rollup_and_join_have_no_shuffle(spark):
    """S2 cell ids as the physical layout key (the reason a Hilbert-curve
    id exists at corpus scale): a table bucketed on s2_id aggregates AND
    self-joins on the cell with zero Exchange — spatial rollups and
    cell-local joins run at scan speed on a 10^12-row layout."""
    from activity_files_spark.functions.s2 import with_s2_cellid

    _fresh_tables(spark, "ev_s2_b")
    pts = spark.range(2000).select(
        F.col("id").alias("event_id"),
        (F.lit(40.0) + (F.col("id") % 97).cast("double") * F.lit(0.01)).alias("lat"),
        (F.lit(-105.0) - (F.col("id") % 89).cast("double") * F.lit(0.01)).alias("lon"),
    )
    enc = with_s2_cellid(pts, "lat", "lon", 10, out="s2_id")
    write_bucketed(enc, "ev_s2_b", "s2_id", n_buckets=8)
    t = spark.table("ev_s2_b")
    # rollup: partial agg satisfied by bucketing -> no Exchange
    agg = t.groupBy("s2_id").agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan
    assert agg.count() > 0
    # cell-local self-join (e.g. same-cell pair mining): hint("merge")
    # forces the SortMergeJoin path (a broadcast would trivially avoid the
    # shuffle on this tiny table); bucketing must co-locate both sides
    j = t.alias("a").join(spark.table("ev_s2_b").hint("merge").alias("b"), "s2_id")
    jplan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in jplan, jplan
    assert "Exchange hashpartitioning" not in jplan, jplan  # zero shuffles
    assert j.count() >= 2000
