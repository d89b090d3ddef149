"""Byte-identity pin of the FIT codec over a seeded corpus.

One sha256 over every payload the scalar ``encode_fit`` and the vectorized
``_encode_activity_pdf`` write for the corpus, and one over the sorted rows
``parse_fit`` returns for those payloads plus hand-built decode-only
messages (compressed timestamps, big-endian definitions, a vendor-global
fallback record, developer fields, device_info / file_creator) and the
adversarial payloads of test_fit_adversarial.py under all three integrity
modes. A refactor of the codec must leave both digests unchanged.

The corpus holds only inputs the encoders accept without clamping a
timestamp or a span/summary field out of range; those cases have their own
tests in test_fit_clamp.py.
"""

import hashlib
import random
import struct

import numpy as np
import pandas as pd
import pytest

from activity_files_spark.sources.fit import (
    _def_record,
    _encode_activity_pdf,
    encode_fit,
    fit_crc16,
    parse_fit,
)
from activity_files_spark.sources.gpx import _ts_key
from activity_files_spark.sources.records import records_frame

ENCODE_SHA256 = "b07788c1cb4b45686618dc9f5ef13c5287d92411eb019579d3d57209a3bdd5cc"
PARSE_SHA256 = "d80b4bfab9087fb688eca156fecaaed661b9293f3933bbb9b22add8e2d7ceccf"

T0 = 1_000_000_000  # FIT seconds (2021)
REC3 = [(253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85)]
CHANNELS = ("heart_rate", "cadence", "power", "temperature", "speed",
            "distance", "grit", "flow")


def _payload(body: bytes) -> bytes:
    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + bytes(body)
    return blob + struct.pack("<H", fit_crc16(blob))


def _semi(deg: float) -> int:
    return int(deg * (2**31) / 180.0)


def _rec(local: int, ts: int, lat: float = 47.0, lon: float = 11.0) -> bytes:
    return bytes([local]) + struct.pack("<Iii", ts, _semi(lat), _semi(lon))


def _activity(seed: int) -> dict:
    """One seeded activity as both encoders' inputs."""
    rng = np.random.default_rng(seed)
    t0 = pd.Timestamp("2024-03-01T10:00:00") + pd.Timedelta(seconds=int(rng.integers(0, 86400)))
    n = int(rng.integers(5, 60))
    offs = np.cumsum(rng.integers(0, 3, n))  # zero steps: duplicate timestamps
    pts, chans = [], {}
    for i in range(n):
        ts = t0 + pd.Timedelta(seconds=int(offs[i]))
        lat = round(40.0 + float(rng.uniform(-1, 1)), 7)
        lon = round(-105.0 + float(rng.uniform(-1, 1)), 7)
        ele = round(float(rng.uniform(-400, 6000)), 2)
        if rng.random() < 0.1:
            lat = float("nan")
        if rng.random() < 0.1:
            ele = None
        pts.append({"seq": i, "ts": ts, "lat": lat, "lon": lon, "ele": ele})
        ch = {}
        for c in CHANNELS[: int(rng.integers(0, len(CHANNELS) + 1))]:
            v = round(float(rng.uniform(-50, 400)), 3)
            # a null speed/distance is a test_fit_clamp.py case
            null = rng.random() < 0.1 and c not in ("speed", "distance")
            ch[c] = None if null else v
        if ch:
            chans[_ts_key(ts)] = ch
    end = pts[-1]["ts"]
    laps = []
    for j in range(int(rng.integers(0, 3))):
        attrs = {
            "total_timer_s": str(round(float(rng.uniform(0, 900)), 3)),
            "calories": str(int(rng.integers(0, 900))),
            "avg_speed_mps": str(round(float(rng.uniform(0, 9)), 3)),
            "max_speed_mps": "7.25", "avg_hr": "150.5", "max_hr": "181",
            "avg_cadence": "88", "max_cadence": "120", "avg_power": "210",
            "max_power": "640", "event": "9", "event_type": "1",
            "swim_stroke": str(int(rng.integers(0, 8))),
            "num_active_lengths": "12", f"extra.{30 + j}": str(int(rng.integers(-50, 50))),
            "extra_array.60": ",".join(str(int(x)) for x in rng.integers(0, 99, j + 1)),
            "extra.note": "kept out of the encode",
        }
        if j % 2 == 0:
            attrs["total_elapsed_s"] = str(round(float(rng.uniform(0, 900)), 3))
        laps.append({
            "lap_id": j, "start_ts": t0 + pd.Timedelta(seconds=60 * j),
            "end_ts": None if j == 2 else t0 + pd.Timedelta(seconds=60 * j + 59),
            "distance_m": None if j == 1 else round(float(rng.uniform(0, 5000)), 2),
            "sport": ["running", "cycling", None][j], "attrs": attrs,
        })
    lengths = [{
        "start_ts": t0, "end_ts": t0 + pd.Timedelta(seconds=30),
        "attrs": {"total_elapsed_s": "29.5", "total_strokes": "17.7",
                  "avg_speed_mps": "0.833", "swim_stroke": "2",
                  "length_type": "1"},
    }, {"start_ts": None, "end_ts": end, "attrs": {}}] if seed % 2 else []
    sets = [{
        "start_ts": t0, "end_ts": t0 + pd.Timedelta(seconds=45),
        "attrs": {"duration_s": "44.25", "set_type": "1", "repetitions": "12.6",
                  "weight_kg": "62.5", "category": "2.5"},
    }, {"start_ts": t0, "end_ts": None, "attrs": {"set_type": "0"}}] if seed % 3 == 0 else []
    events = [{"ts": t0, "value": 0.0}, {"ts": end, "value": 3.7},
              {"ts": end, "value": 300.0}, {"ts": None, "value": 1.0},
              {"ts": end, "value": float("nan")}] if seed % 2 == 0 else []
    meta = {"sport": ["running", "cycling", "swimming", "hiking"][seed % 4]}
    if seed % 4 != 3:
        meta.update({
            "session.total_elapsed_s": "1800.0", "session.total_timer_s": "1750.5",
            "session.total_distance_m": "5000.25", "session.total_cycles": "600",
            "session.calories": "350", "session.avg_speed_mps": "2.777",
            "session.max_speed_mps": "5.5", "session.avg_hr": "140",
            "session.max_hr": "185", "session.avg_cadence": "85.5",
            "session.max_cadence": "110", "session.avg_power": "200",
            "session.max_power": "700", "session.sub_sport": str(seed % 3),
            "session.avg_stroke_count": "21.45", "session.swim_stroke": "3",
            "session.pool_length_m": "25.0", "session.num_active_lengths": "60",
            "session.extra.26": "-12", "session.extra_array.110": "7,8,9",
            "device.manufacturer": "1.5", "device.product": "70000",
        })
    if seed % 3 == 1:
        meta.update({"activity.total_timer_s": "1700.0",
                     "activity.num_sessions": "1.9",
                     "activity.local_ts_offset_s": "-3600.5"})
    return {"points": pts, "channels": chans, "laps": laps, "lengths": lengths,
            "sets": sets, "events": events, "meta": meta}


def _frame(a: dict) -> pd.DataFrame:
    """The same activity as a record-stream frame."""
    rows = [dict(p, activity_id="a", kind="point") for p in a["points"]]
    for key, ch in a["channels"].items():
        ts = pd.Timestamp(key)
        rows += [{"activity_id": "a", "kind": "channel", "ts": ts, "channel": c,
                  "value": float("nan") if v is None else v} for c, v in ch.items()]
    rows += [dict(lap, activity_id="a", kind="lap") for lap in a["laps"]]
    rows += [dict(s, activity_id="a", kind="length") for s in a["lengths"]]
    rows += [dict(s, activity_id="a", kind="set") for s in a["sets"]]
    rows += [{"activity_id": "a", "kind": "channel", "channel": "event", **e}
             for e in a["events"]]
    rows.append({"activity_id": "a", "kind": "meta", "sport": a["meta"]["sport"],
                 "attrs": a["meta"]})
    return records_frame(rows)


def _encoded() -> list[bytes]:
    blobs = []
    for seed in range(24):
        a = _activity(seed)
        blobs.append(encode_fit(a["points"], a["channels"], a["laps"], a["lengths"],
                                a["sets"], a["events"], a["meta"]))
        blobs.append(_encode_activity_pdf("a", _frame(a)))
    blobs.append(encode_fit([], {}, []))
    blobs.append(_encode_activity_pdf("a", records_frame(
        [{"activity_id": "a", "kind": "meta", "attrs": {"session.avg_hr": "90"}}])))
    return blobs


def _hand_built() -> list[bytes]:
    """Decode-only message shapes the encoders never write."""
    semi = _semi(47.0)
    b = bytearray()
    # file_id with serial, device_info from head unit and a paired sensor,
    # file_creator
    b += _def_record(0, 0, [(0, 1, 0x00), (1, 2, 0x84), (2, 2, 0x84), (3, 4, 0x8C)])
    b += bytes([0]) + struct.pack("<BHHI", 4, 1, 3121, 987654)
    b += _def_record(1, 23, [(0, 1, 0x02), (2, 2, 0x84), (4, 2, 0x84), (3, 4, 0x86),
                             (5, 2, 0x84), (27, 12, 0x07)])
    b += bytes([1]) + struct.pack("<BHHIH", 0, 32, 99, 12345, 1234) + b"Edge 540\0\0\0\0"
    b += bytes([1]) + struct.pack("<BHHIH", 3, 1, 55, 999, 77) + b"HRM\0" + bytes(8)
    b += bytes([1]) + struct.pack("<BHHIH", 0, 0xFFFF, 100, 0xFFFFFFFF, 0xFFFF) + bytes(12)
    b += _def_record(2, 49, [(0, 2, 0x84), (1, 1, 0x02)])
    b += bytes([2]) + struct.pack("<HB", 1510, 3)
    # record with grade/lrb/unknown/compressed speed-distance fields
    b += _def_record(3, 20, [(253, 4, 0x86), (0, 4, 0x85), (1, 4, 0x85), (2, 2, 0x84),
                             (78, 2, 0x84), (120, 1, 0x02), (90, 2, 0x84), (8, 3, 0x0D)])
    for k, (sp, di) in enumerate(((250, 100), (300, 4000), (0xFFF, 200))):
        csd = bytes([sp & 0xFF, ((sp >> 8) & 0xF) | ((di & 0xF) << 4), (di >> 4) & 0xFF])
        b += bytes([3]) + struct.pack("<IiiHHBH", T0 + k, semi, semi, 10500, 250 + k,
                                      50, 77) + csd
    # compressed-timestamp records (local 1 in the header) incl. a rollover
    b += _def_record(1, 20, [(0, 4, 0x85), (1, 4, 0x85), (3, 1, 0x02)])
    for off in (5, 9, 3, 3):
        b += bytes([0x80 | (1 << 5) | off]) + struct.pack("<iiB", semi, semi, 130 + off)
    # developer fields: data id, two descriptions (scale/offset), records
    b += _def_record(4, 207, [(3, 1, 0x02)]) + bytes([4, 0])
    for fnum, name, btype, scale, off in ((0, b"Grit Score!", 0x84, 10, 5),
                                          (1, b"9lives", 0x88, 1, 0)):
        b += _def_record(5, 206, [(0, 1, 0x02), (1, 1, 0x02), (2, 1, 0x02),
                                  (3, len(name) + 1, 0x07), (6, 1, 0x02), (7, 1, 0x01)])
        b += bytes([5, 0, fnum, btype]) + name + b"\0" + bytes([scale, off])
    b += _def_record(6, 20, REC3, dev_fields=[(0, 2, 0), (1, 4, 0)])
    b += _rec(6, T0 + 40) + struct.pack("<Hf", 150, 2.5)
    b += _rec(6, T0 + 41) + struct.pack("<Hf", 0xFFFF, float("nan"))
    # vendor-global fallback records: with and without a position
    b += _def_record(7, 65280, REC3 + [(3, 1, 0x02)])
    b += _rec(7, T0 + 50) + bytes([99])
    b += bytes([7]) + struct.pack("<IiiB", T0 + 51, 0x7FFFFFFF, semi, 98)
    # big-endian record (fast path) and lap definitions
    b += bytes([0x48, 0, 1]) + struct.pack(">H", 20) + bytes([4])
    b += bytes([253, 4, 0x86, 0, 4, 0x85, 1, 4, 0x85, 7, 2, 0x84])
    for k in range(3):
        b += bytes([8]) + struct.pack(">IiiH", T0 + 60 + k, semi, semi, 200 + k)
    b += bytes([0x49, 0, 1]) + struct.pack(">H", 19) + bytes([4])
    b += bytes([253, 4, 0x86, 2, 4, 0x86, 9, 4, 0x86, 13, 2, 0x84])
    b += bytes([9]) + struct.pack(">IIIH", T0 + 70, T0 + 60, 123456, 3333)
    # session (sub_sport 0 omitted, stroke name), activity with local offset
    b += _def_record(10, 18, [(253, 4, 0x86), (5, 1, 0x00), (6, 1, 0x00), (43, 1, 0x00),
                              (14, 2, 0x84), (254, 2, 0x84), (99, 4, 0x85)])
    b += bytes([10]) + struct.pack("<IBBBHHi", T0, 5, 0, 4, 1500, 0, -7)
    b += bytes([10]) + struct.pack("<IBBBHHi", T0, 1, 9, 9, 3000, 1, 8)
    b += _def_record(11, 34, [(253, 4, 0x86), (0, 4, 0x86), (1, 2, 0x84), (5, 4, 0x86)])
    b += bytes([11]) + struct.pack("<IIHI", T0 + 80, 900000, 1, T0 + 80 + 7200)
    # length without end ts (start + elapsed), set keyed by 253 only, event
    b += _def_record(12, 101, [(253, 4, 0x86), (2, 4, 0x86), (3, 4, 0x86),
                               (5, 2, 0x84), (7, 1, 0x00), (12, 1, 0x00)])
    b += bytes([12]) + struct.pack("<IIIHBB", 0xFFFFFFFF, T0, 31500, 18, 1, 1)
    b += _def_record(13, 225, [(253, 4, 0x86), (6, 4, 0x86), (4, 2, 0x84), (3, 2, 0x84)])
    b += bytes([13]) + struct.pack("<IIHH", T0 + 90, T0 + 85, 1000, 8)
    b += _def_record(14, 21, [(253, 4, 0x86), (0, 1, 0x00), (1, 1, 0x00)])
    b += bytes([14]) + struct.pack("<IBB", T0 + 95, 0, 4)
    b += bytes([14]) + struct.pack("<IBB", 0xFFFFFFFF, 1, 4)
    # a record without any timestamp context after a fresh local type
    b += _def_record(15, 20, [(0, 4, 0x85), (1, 4, 0x85)])
    b += bytes([15]) + struct.pack("<ii", semi, semi)
    return [_payload(b)]


def _adversarial() -> list[bytes]:
    """The payloads of test_fit_adversarial.py."""
    rec_def = _def_record(0, 20, REC3)
    out = []
    b = bytearray(rec_def + _rec(0, T0) + _rec(0, T0 + 1))
    b += bytes([0x41, 0, 0]) + struct.pack("<H", 18) + bytes([5, 253, 4, 0x86, 9])
    out.append(_payload(b))
    out.append(_payload(rec_def + _rec(0, T0) + _rec(0, T0 + 1)[:6]))
    body = rec_def + _rec(0, T0) + _rec(0, T0 + 1)
    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body) + 64, b".FIT")
    out.append(header + struct.pack("<H", fit_crc16(header)) + body)
    out.append(_payload(rec_def + _rec(0, T0)
                        + _def_record(1, 20, [(253, 4, 0x86), (2, 200, 0x84)])
                        + bytes([1]) + struct.pack("<I", T0 + 1) + bytes(10)))
    out.append(_payload(
        _def_record(0, 20, [(253, 4, 0x86), (2, 7, 0x84), (0, 4, 0x85), (1, 4, 0x85)])
        + bytes([0]) + struct.pack("<I", T0) + b"\x07" * 7
        + struct.pack("<ii", _semi(40.0), _semi(-105.0))))

    def fd_206(name: bytes, scale: int) -> bytes:
        d = _def_record(2, 206, [(0, 1, 0x02), (1, 1, 0x02), (2, 1, 0x02),
                                 (3, 8, 0x07), (6, 1, 0x02)])
        return d + bytes([2, 0, 1, 2]) + name.ljust(8, b"\0") + bytes([scale])

    dev_def = _def_record(0, 20, REC3, dev_fields=[(1, 1, 0)])
    out.append(_payload(fd_206(b"grit", 1) + dev_def + _rec(0, T0) + bytes([40])
                        + fd_206(b"grit", 4) + _rec(0, T0 + 1) + bytes([40])))
    out.append(_payload(rec_def + _rec(0, T0) + bytes([7]) + b"\xde\xad\xbe\xef" * 3
                        + _def_record(1, 20, REC3) + _rec(1, T0 + 10) + _rec(1, T0 + 11)))
    out.append(_payload(_def_record(0, 20, [(0, 4, 0x85), (1, 4, 0x85)])
                        + bytes([0x85]) + struct.pack("<ii", _semi(1.0), _semi(2.0))
                        + _def_record(1, 20, REC3) + _rec(1, T0)))
    out.append(_payload(bytes([0x43, 0, 0]) + struct.pack("<H", 18) + bytes([0, 3])
                        + rec_def + _rec(0, T0)))
    for seed in range(25):
        rng = random.Random(seed)
        out.append(_payload(bytes(rng.randrange(256) for _ in range(rng.randrange(0, 600)))))
    out.append(_payload(rec_def + _rec(0, T0) + bytes([0]) + struct.pack(
        "<Iii", 0xFFFFFFFF, _semi(1.0), _semi(1.0))))
    pts = [{"ts": pd.Timestamp(2024, 3, 1, 10, 0, i), "lat": 40.0 + i * 1e-4,
            "lon": -105.0 - i * 1e-4, "ele": 1600.0 + i} for i in range(20)]
    blob = encode_fit(pts, {}, [])
    for off in range(20, len(blob), max(7, len(blob) // 40)):
        damaged = bytearray(blob)
        damaged[off] ^= 0xA5
        out.append(bytes(damaged))
    out.append(b"\x0e\x20")  # shorter than a header
    out.append(b"\x0e" + bytes(13))  # no .FIT magic
    return out


def _canon(v):
    if isinstance(v, dict):
        return sorted((k, _canon(x)) for k, x in v.items())
    if isinstance(v, pd.Timestamp):
        return "T" + v.isoformat()
    return type(v).__name__ + ":" + repr(v)


def _parsed(blob: bytes, integrity: str) -> list[str]:
    try:
        rows = parse_fit("a", blob, integrity=integrity)
    except ValueError as e:
        return ["raised:" + str(e)]
    return sorted(repr(_canon(r)) for r in rows)


def _digest(parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else p.encode())
        h.update(b"\x00")
    return h.hexdigest()


@pytest.mark.parametrize("seed", range(24))
def test_record_stream_encode_equals_scalar_encode(seed):
    """fit_encode_records' kernel writes the same bytes as encode_fit,
    lap summaries included."""
    a = _activity(seed)
    assert _encode_activity_pdf("a", _frame(a)) == encode_fit(
        a["points"], a["channels"], a["laps"], a["lengths"], a["sets"],
        a["events"], a["meta"])


def test_encode_bytes_are_pinned():
    assert _digest(_encoded()) == ENCODE_SHA256


def test_parse_rows_are_pinned():
    blobs = _encoded() + _hand_built() + _adversarial()
    rows = [
        line
        for mode in ("strict", "report", "silent")
        for i, blob in enumerate(blobs)
        for line in [f"{mode}#{i}"] + _parsed(blob, mode)
    ]
    assert _digest(rows) == PARSE_SHA256
