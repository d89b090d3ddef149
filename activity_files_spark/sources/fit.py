"""FIT binary source + sink (pure python/numpy — no external libs).

``FIT_PROFILE`` is the one place that holds the message layouts (field
numbers, base types, scales, attr/meta keys and record columns). Both
encoders, both record decode paths and the per-message decoders read it;
small hooks hold only what the table cannot say.

Decoder semantics from the reference (lib/src/parse/fit_parser.dart):
- 12/14-byte header with data_size + ".FIT" magic + optional header CRC;
  trailing file CRC-16 (the public FIT SDK checksum; the engine's
  implementation is codecs/crc.py, and the reference's nibble-table
  algorithm, lib/src/fit/fit_crc.dart:7-46, stays here as _crc16_scalar
  to test it against)
- definition/data record state machine (fit_parser.dart:235-340), little/big
  endian per definition, compressed-timestamp headers with 5-bit rollover
  (fit_parser.dart:1134-1142)
- base types with invalid sentinels that decode to null
  (fit_parser.dart:1637-1904)
- scale rules pinned by tests (fit_parser.dart:1213-1365):
    semicircles * 180 / 2^31 (reject |deg| > 180)
    altitude raw/5 - 500        speed raw/1000      distance raw/100
    timestamps: 1989-12-31T00:00:00Z epoch, plausibility [1, 1924992000]
- message handlers: file_id 0, record 20, lap 19, session 18, event 21,
  activity 34 (timer-time fallback + local-ts offset)
  (fit_parser.dart:351-776)
- developer fields registered from message 206 field_description
  (fit_parser.dart:805-835), names sanitized (fit_parser.dart:1167-1185)
- malformed input -> diagnostics, never exceptions (integrity report mode,
  lib/src/parse/integrity_mode.dart)

Encoder (lib/src/encode/fit_encoder.dart): 14-byte header + file_id +
record/lap messages with invalid-sentinel nulls + trailing CRC.

Spark shape: whole-file decode inside a mapInPandas kernel over binary
payloads; the per-record loop is python but per-field decode is a
precompiled struct format — ~1e6 records/s/core, and files are independent
units of parallelism (the reference caps payloads at 64 MB).
"""

from __future__ import annotations

import struct
from collections.abc import Sequence
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from activity_files_spark.codecs.crc import fit_crc16
from activity_files_spark.functions.geo import FIT_EPOCH_UNIX, FIT_TS_MAX, SEMICIRCLE_DEG
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.kernels import Kernel

# FIT CRC-16 nibble table (public FIT SDK algorithm; fit_crc.dart:7-46),
# kept as the reference twin of codecs.crc.fit_crc16
_CRC_TABLE = [
    0x0000, 0xCC01, 0xD801, 0x1400, 0xF001, 0x3C00, 0x2800, 0xE401,
    0xA001, 0x6C00, 0x7800, 0xB401, 0x5000, 0x9C01, 0x8801, 0x4400,
]


def _crc16_scalar(data: bytes, crc: int = 0) -> int:
    """Reference nibble-table CRC (fit_crc.dart:7-46), byte-at-a-time."""
    for b in data:
        tmp = _CRC_TABLE[crc & 0xF]
        crc = (crc >> 4) & 0x0FFF
        crc = crc ^ tmp ^ _CRC_TABLE[b & 0xF]
        tmp = _CRC_TABLE[crc & 0xF]
        crc = (crc >> 4) & 0x0FFF
        crc = crc ^ tmp ^ _CRC_TABLE[(b >> 4) & 0xF]
    return crc


# base type id -> (struct char, size, invalid sentinel)
BASE_TYPES = {
    0x00: ("B", 1, 0xFF),          # enum
    0x01: ("b", 1, 0x7F),          # sint8
    0x02: ("B", 1, 0xFF),          # uint8
    0x83: ("h", 2, 0x7FFF),        # sint16
    0x84: ("H", 2, 0xFFFF),        # uint16
    0x85: ("i", 4, 0x7FFFFFFF),    # sint32
    0x86: ("I", 4, 0xFFFFFFFF),    # uint32
    0x07: ("s", 1, None),          # string (NUL-terminated)
    0x88: ("f", 4, None),          # float32
    0x89: ("d", 8, None),          # float64
    0x0A: ("B", 1, 0x00),          # uint8z
    0x8B: ("H", 2, 0x0000),        # uint16z
    0x8C: ("I", 4, 0x00000000),    # uint32z
    0x0D: ("B", 1, 0xFF),          # byte
    0x8E: ("q", 8, 0x7FFFFFFFFFFFFFFF),  # sint64
    0x8F: ("Q", 8, 0xFFFFFFFFFFFFFFFF),  # uint64
    0x90: ("Q", 8, 0x0),           # uint64z
}
ENUM, SINT8, UINT8, UINT16, SINT32, UINT32 = 0x00, 0x01, 0x02, 0x84, 0x85, 0x86
STRING, FLOAT64, UINT32Z, BYTE = 0x07, 0x89, 0x8C, 0x0D

SPORTS = {
    0: "generic", 1: "running", 2: "cycling", 5: "swimming",
    11: "walking", 17: "hiking", 4: "fitness_equipment",
}
SPORT_IDS_INV = {v: k for k, v in SPORTS.items()}

# FIT wire order 0-6 (reference models.dart:14-22)
SWIM_STROKES = {
    0: "freestyle", 1: "backstroke", 2: "breaststroke", 3: "butterfly",
    4: "drill", 5: "mixed", 6: "im",
}


class Field(NamedTuple):
    """One profile field. ``key`` is the attr/meta key (after the
    message's prefix), row column or record channel the field maps to;
    None marks a field that is known (never kept as a raw ``extra.*``) but
    not surfaced. Wire = (value + offset) * scale, value = wire / scale -
    offset; scale None is semicircles (degrees / SEMICIRCLE_DEG). Column
    keys ending in ``ts`` are FIT timestamps."""

    num: int
    btype: int
    key: str | None
    scale: float | None = 1
    offset: float = 0
    col: bool = False    # a row column or hook value, not an attrs entry
    write: bool = True   # written by the encoders
    trunc: bool = False  # the encoders truncate instead of rounding


class Message(NamedTuple):
    num: int           # global message number
    local: int | None  # local type the encoders write it under
    name: str          # record kind of span messages
    fields: tuple
    prefix: str = ""   # of its attrs / meta keys


F = Field
# encoded field order keeps this engine's historical byte layout (the
# reference's writeSession/writeLap order, fit_encoder.dart:159-320,
# re-ordered so older prefixes stay stable); lap 8/25 are supersets
FIT_PROFILE = (
    Message(0, 0, "file_id", (
        F(0, ENUM, "type", col=True),  # written as 4 (activity)
        F(1, UINT16, "manufacturer", trunc=True),
        F(2, UINT16, "product", trunc=True),
        F(3, UINT32Z, "serial", write=False),
    ), "device."),
    Message(20, 1, "record", (  # fit_parser.dart:410-512
        F(253, UINT32, "ts", col=True),
        F(0, SINT32, "lat", None, col=True),
        F(1, SINT32, "lon", None, col=True),
        F(2, UINT16, "ele", 5, 500, col=True),
        F(3, UINT8, "heart_rate"),
        F(4, UINT8, "cadence"),
        F(5, UINT32, "distance", 100),
        F(6, UINT16, "speed", 1000),
        F(7, UINT16, "power"),
        F(13, SINT8, "temperature"),
        F(78, UINT16, "grade", 100, write=False),
        F(120, UINT8, "left_right_balance", write=False),
        F(8, BYTE, None, write=False),  # compressed speed/distance, 3 bytes
    )),
    Message(19, 2, "lap", (  # fit_parser.dart:620-656
        F(253, UINT32, "end_ts", col=True),
        F(2, UINT32, "start_ts", col=True),
        F(7, UINT32, "total_elapsed_s", 1000),
        F(8, UINT32, "total_timer_s", 1000),
        F(9, UINT32, "distance_m", 100, col=True),
        F(25, ENUM, "sport", col=True),
        F(0, ENUM, "event"), F(1, ENUM, "event_type"),
        F(11, UINT16, "calories"),
        F(13, UINT16, "avg_speed_mps", 1000), F(14, UINT16, "max_speed_mps", 1000),
        F(15, UINT8, "avg_hr"), F(16, UINT8, "max_hr"),
        F(17, UINT8, "avg_cadence"), F(18, UINT8, "max_cadence"),
        F(19, UINT16, "avg_power"), F(20, UINT16, "max_power"),
        F(38, ENUM, "swim_stroke"),
        F(40, UINT16, "num_active_lengths"),
        F(254, UINT16, None, write=False),  # message_index
    )),
    Message(101, 3, "length", (  # fit_parser.dart:675-699
        F(253, UINT32, "end_ts", col=True),
        F(2, UINT32, "start_ts", col=True),
        F(3, UINT32, "total_elapsed_s", 1000),
        F(5, UINT16, "total_strokes", trunc=True),
        F(6, UINT16, "avg_speed_mps", 1000),
        F(7, ENUM, "swim_stroke", trunc=True),
        F(12, ENUM, "length_type", trunc=True),  # 0 idle / 1 active
    )),
    Message(225, 4, "set", (  # fit_parser.dart:700-729
        F(254, UINT32, "end_ts", col=True),
        F(6, UINT32, "start_ts", col=True),
        F(0, UINT32, "duration_s", 1000),
        F(5, UINT8, "set_type", trunc=True),  # 0 rest / 1 active
        F(3, UINT16, "repetitions", trunc=True),
        F(4, UINT16, "weight_kg", 16),
        F(7, UINT16, "category", trunc=True),
    )),
    Message(21, 5, "event", (
        F(253, UINT32, "ts", col=True),
        F(0, ENUM, "event", col=True, trunc=True),
        F(1, ENUM, "event_type", col=True),
        F(3, UINT32, "data", col=True),
    )),
    Message(207, 6, "developer_data_id", (
        F(3, UINT8, "developer_data_index", col=True),
    )),
    Message(206, 7, "field_description", (  # fit_parser.dart:805-835
        F(0, UINT8, "developer_data_index", col=True),
        F(1, UINT8, "field_definition_number", col=True),
        F(2, UINT8, "fit_base_type_id", col=True),
        F(3, STRING, "field_name", col=True),
        F(6, UINT8, "scale", col=True, write=False),
        F(7, SINT8, "offset", col=True, write=False),
    )),
    Message(18, 8, "session", (  # fit_parser.dart:557-601
        F(253, UINT32, "timestamp", col=True),
        F(5, ENUM, "sport", col=True),
        F(6, ENUM, "sub_sport"),
        F(7, UINT32, "total_elapsed_s", 1000),
        F(8, UINT32, "total_timer_s", 1000),
        F(9, UINT32, "total_distance_m", 100),
        F(10, UINT32, "total_cycles"),
        F(11, UINT16, "calories"),
        F(14, UINT16, "avg_speed_mps", 1000), F(15, UINT16, "max_speed_mps", 1000),
        F(16, UINT8, "avg_hr"), F(17, UINT8, "max_hr"),
        F(18, UINT8, "avg_cadence"), F(19, UINT8, "max_cadence"),
        F(20, UINT16, "avg_power"), F(21, UINT16, "max_power"),
        F(41, UINT16, "avg_stroke_count", 10),
        F(43, ENUM, "swim_stroke"),
        F(44, UINT16, "pool_length_m", 100),
        F(47, UINT16, "num_active_lengths"),
        F(254, UINT16, None, write=False),  # message_index
    ), "session."),
    Message(34, 9, "activity", (  # fit_parser.dart:769-776
        F(253, UINT32, "timestamp", col=True),
        F(0, UINT32, "total_timer_s", 1000),
        F(1, UINT16, "num_sessions", trunc=True),
        F(5, UINT32, "local_timestamp", col=True),  # device-local FIT seconds
    ), "activity."),
    Message(23, None, "device_info", (  # fit_parser.dart:730-768
        F(0, UINT8, "device_index", col=True),
        F(2, UINT16, "manufacturer"),
        F(4, UINT16, "product"),
        F(3, UINT32Z, "serial"),
        F(5, UINT16, "software_version", 100),
        F(27, STRING, "product_name"),
    ), "device."),
    Message(49, None, "file_creator", (  # fit_parser.dart:777-804
        F(0, UINT16, "software_version"),
        F(1, UINT8, "hardware_version"),
    ), "creator."),
)
del F

_MSG = {m.num: m for m in FIT_PROFILE}
_RECORD = _MSG[20]
_REC = {f.key: f for f in _RECORD.fields if f.key}
# record channels: every keyed non-column field; every other native record
# field becomes a fit_field_<n> channel with its RAW value so no sensor
# data is silently dropped (fit_parser.dart:1024-1031, e.g. running
# dynamics); (num, channel, scale) for the per-record loops
_REC_CHANNELS = tuple((f.num, f.key, f.scale) for f in _RECORD.fields if f.key and not f.col)
_REC_KNOWN = frozenset(f.num for f in _RECORD.fields)
# channels with a native record-message field (everything else is re-emitted
# as a float64 developer field, matching fit_encoder.dart:473-516)
_NATIVE_CHANNELS = frozenset(f.key for f in _RECORD.fields if f.write and not f.col)


def _fast_plan(d: dict, dev_fields: dict) -> dict | None:
    """Vectorized decode plan for one definition (SURVEY §7 hard-part #1):
    a numpy structured dtype spanning [header byte + body] so a RUN of
    consecutive data records sharing this definition decodes with ONE
    ``np.frombuffer`` instead of per-record ``struct.unpack``. Returns None
    when the definition needs the general path (strings, array-valued
    fields like the 3-byte compressed-speed-distance field 8, duplicate
    field numbers, or uint64 — whose sentinel wraps under the int64 cast).

    Sentinels are pre-cast through the field dtype to int64 so the
    vectorized invalid-check compares the same bit patterns the scalar
    path sees."""
    names: list[str] = []
    formats: list[str] = []
    offsets: list[int] = []
    sentinels: dict[str, int | None] = {}
    dev_cols: list[tuple[str, int, int]] = []
    seen: set = set()
    off = 1  # record header byte
    endian = d["endian"]
    for fnum, fsize, btype, is_dev, didx in d["fields"]:
        if is_dev:
            desc = dev_fields.get((didx, fnum))
            if desc is None or (didx, fnum) in seen:
                if desc is None:  # unregistered: both paths skip it
                    off += fsize
                    continue
                return None
            seen.add((didx, fnum))
            bt = BASE_TYPES.get((desc.get("base_type") or 0x0D) & 0xFF)
            if bt is None or bt[0] in ("s", "Q") or bt[1] != fsize:
                return None
            name = f"dev_{didx}_{fnum}"
            dev_cols.append((name, didx, fnum))
        else:
            bt = BASE_TYPES.get(btype & 0xFF)
            if bt is None:
                if fnum == 8:
                    # the scalar path decodes field 8 from RAW bytes before
                    # the base-type check (compressed speed/distance), so an
                    # unknown-typed field 8 must take the general path
                    return None
                off += fsize  # other unknown base types: both paths skip
                continue
            if bt[0] in ("s", "Q", "f", "d") or fsize != bt[1] or fnum in seen:
                # floats bail to the general path: the scalar handlers
                # treat non-int values differently per field (_fit_ts
                # rejects them -> recovery; NaN channel values EMIT as NaN
                # where the vector mask would drop them)
                return None
            seen.add(fnum)
            name = f"f{fnum}"
        ch, unit, invalid = bt
        names.append(name)
        formats.append(endian + ch)
        offsets.append(off)
        sentinels[name] = (
            None if invalid is None
            else int(np.array(invalid).astype(np.dtype(endian + ch)).astype(np.int64))
        )
        off += fsize
    dtype = np.dtype({
        "names": names, "formats": formats, "offsets": offsets,
        "itemsize": 1 + d["size"],
    })
    return {"dtype": dtype, "sent": sentinels, "dev": dev_cols}


def _emit_g20_run(
    out: list, activity_id: str, rec: np.ndarray, plan: dict,
    seq: int, ctx: dict, local: int, dev_fields: dict,
) -> int:
    """Vectorized record (msg 20) handler for one same-definition run —
    bit-identical outputs to the scalar handler (same masks, scales,
    null/recovery semantics), with per-kind grouped emission order (row
    order is immaterial: the record stream feeds an unordered DataFrame
    and every consumer sorts on (ts, seq))."""
    names = rec.dtype.names
    n = len(rec)

    def col(name):
        """(values int64/float64, present-mask) or (None, None)."""
        if name not in names:
            return None, None
        a = rec[name]
        if a.dtype.kind == "f":
            v = a.astype(np.float64)
            return v, ~np.isnan(v)
        v = a.astype(np.int64)
        s = plan["sent"][name]
        return v, (np.ones(n, dtype=bool) if s is None else v != s)

    def diags(code: str, count: int):
        if not ctx["silent"]:
            out.extend({"activity_id": activity_id, "kind": "diag",
                        "attrs": _diag_attrs(code, "warning")}
                       for _ in range(count))

    def recover_diags(count: int):
        budget = max(0, 5 - ctx["recovered"])
        ctx["recovered"] += count
        diags("fit.record.recovered_timestamp", min(count, budget))

    # timestamp semantics mirror the scalar path exactly: any NUMERIC 253
    # (plausible or not) updates the per-local context as the run is
    # walked; records whose own decode fails recover to the latest context
    # (forward-fill within the run; the incoming context before the first
    # numeric row); only context-less records are skipped with a diag
    incoming = ctx["last_ts"].get(local, ctx["last_known"])
    ts_raw, ts_has = col(f"f{_REC['ts'].num}")
    if ts_raw is None:
        # no timestamp field in the definition: every record recovers to
        # the incoming context (or is skipped when there is none)
        if incoming is None:
            diags("fit.record.missing_timestamp", n)
            return seq
        recover_diags(n)
        ts_eff = np.full(n, int(incoming), dtype=np.int64)
        has_eff = np.ones(n, dtype=bool)
    else:
        if ts_has.any():
            last = int(ts_raw[np.nonzero(ts_has)[0][-1]])
            ctx["last_ts"][local] = last
            ctx["last_known"] = last
        plausible = ts_has & (ts_raw >= 1) & (ts_raw <= FIT_TS_MAX)
        # forward-fill of numeric raws (a numeric-but-implausible row
        # recovers to ITSELF — the scalar path updates context first)
        idx_last = np.maximum.accumulate(
            np.where(ts_has, np.arange(n), -1)
        )
        ffilled = ts_raw[np.clip(idx_last, 0, None)]
        if incoming is None:
            has_eff = idx_last >= 0
            ts_eff = np.where(has_eff, ffilled, 0)
        else:
            has_eff = np.ones(n, dtype=bool)
            ts_eff = np.where(idx_last >= 0, ffilled, int(incoming))
        diags("fit.record.missing_timestamp", int(n - has_eff.sum()))
        recover_diags(int((has_eff & ~plausible).sum()))
        if not has_eff.any():
            return seq
    ts_all = pd.to_datetime(ts_eff + FIT_EPOCH_UNIX, unit="s")

    # points: ts + lat + lon all valid (G2 semicircle scale + range gate)
    lat_raw, lat_has = col(f"f{_REC['lat'].num}")
    lon_raw, lon_has = col(f"f{_REC['lon'].num}")
    if lat_raw is not None and lon_raw is not None:
        lat = lat_raw * SEMICIRCLE_DEG
        lon = lon_raw * SEMICIRCLE_DEG
        mpt = (
            has_eff
            & lat_has & (lat_raw != -0x80000000) & (np.abs(lat) <= 180.0)
            & lon_has & (lon_raw != -0x80000000) & (np.abs(lon) <= 180.0)
        )
        idx = np.nonzero(mpt)[0]
        if len(idx):
            # altitude: field 2 only (78 is the grade channel —
            # fit_parser.dart:414, 481)
            ef = _REC["ele"]
            alt_v, alt_m = col(f"f{ef.num}")
            if alt_v is not None:
                ele = alt_v / ef.scale - ef.offset
                ele_l = [
                    e if m else None
                    for e, m in zip(ele[idx].tolist(), alt_m[idx].tolist())
                ]
            else:
                ele_l = [None] * len(idx)
            for k, (t, la, lo, el) in enumerate(zip(
                ts_all[idx].tolist(), lat[idx].tolist(), lon[idx].tolist(), ele_l
            )):
                out.append({"activity_id": activity_id, "kind": "point",
                            "seq": seq + k, "ts": t, "lat": la, "lon": lo,
                            "ele": el, "attrs": None})
            seq += len(idx)

    def emit(cname, v, m, scale=1):
        if v is None:
            return
        mk = has_eff & m
        cidx = np.nonzero(mk)[0]
        if not len(cidx):
            return
        vals = v[cidx].astype(np.float64) / scale
        for t, val in zip(ts_all[cidx].tolist(), vals.tolist()):
            out.append({"activity_id": activity_id, "kind": "channel",
                        "channel": cname, "ts": t, "value": val})

    for num, key, scale in _REC_CHANNELS:
        emit(key, *col(f"f{num}"), scale)
    # unknown native record fields -> fit_field_<n> channels, raw values
    for name in names:
        if name[0] == "f" and int(name[1:]) not in _REC_KNOWN:  # not dev_*
            emit(f"fit_field_{name[1:]}", *col(name))
    for name, didx, fnum in plan["dev"]:
        desc = dev_fields[(didx, fnum)]
        v, m = col(name)
        emit(desc["channel"], None if v is None else _dev_scaled(desc, v.astype(np.float64)), m)
    return seq


def _dev_scaled(desc: dict, v):
    """field_description scale/offset (spec formula raw / scale - offset;
    fit_parser.dart:490-496), on floats and numpy arrays alike."""
    if desc.get("scale"):
        v = v / desc["scale"]
    if desc.get("offset"):
        v = v - desc["offset"]
    return v


def _read_def_at(payload: bytes, p: int, end: int):
    """Parse one definition record starting at the header byte ``p``;
    returns (local, def-dict, position-after), or the reason it does not
    fit within ``end``. Pure (no diags) — the main walk and the
    stream-resync scan both read definitions through it."""
    h = payload[p]
    if p + 6 > end:
        return f"at byte {p + 1}"
    endian = ">" if payload[p + 2] == 1 else "<"
    global_num = struct.unpack_from(endian + "H", payload, p + 3)[0]
    q = p + 6
    fields = []
    for _ in range(payload[p + 5]):
        if q + 3 > end:
            return "field table truncated"
        fields.append((payload[q], payload[q + 1], payload[q + 2], False, None))
        q += 3
    if h & 0x20:  # developer fields
        if q >= end:
            return "dev field count missing"
        n_dev = payload[q]
        q += 1
        for _ in range(n_dev):
            if q + 3 > end:
                return "dev field table truncated"
            fields.append((payload[q], payload[q + 1], 0x0D, True, payload[q + 2]))
            q += 3
    d = {"endian": endian, "global": global_num, "fields": fields,
         "size": sum(f[1] for f in fields)}
    return h & 0xF, d, q


def _try_resync(
    payload: bytes, start: int, scan_end: int, end: int, defs: dict
) -> int | None:
    """Stream resynchronization after an unknown-definition reference
    (fit_parser.dart:984-1021): scan [start, scan_end) for a parseable
    definition record; register it and return the position after it, or
    None when nothing in the window parses. The caller passes a start
    past its def-free high-water mark so repeated failures stay linear
    without skipping the unproven tail of the window."""
    cursor = start
    while cursor < scan_end - 6:
        h = payload[cursor]
        if (h & 0x80) or not (h & 0x40):
            cursor += 1
            continue
        parsed = _read_def_at(payload, cursor, end)
        if not isinstance(parsed, str) and parsed[1]["fields"]:
            local, d, new_pos = parsed
            defs[local] = d
            return new_pos
        cursor += 1
    return None


def _scalar(raw):
    """Collapse unexpected array-valued fields to their first element —
    the parser must never throw on odd layouts (diagnostics-only contract)."""
    if isinstance(raw, list):
        return raw[0] if raw else None
    return raw


def _fit_ts(raw):
    """Integer FIT seconds inside the plausibility window -> Timestamp
    (0 and the 0xFFFFFFFF sentinel fall outside it)."""
    raw = _scalar(raw)
    if not isinstance(raw, int) or not 1 <= raw <= FIT_TS_MAX:
        return None
    return pd.Timestamp(raw + FIT_EPOCH_UNIX, unit="s")


def _semi_deg(raw):
    raw = _scalar(raw)
    if not isinstance(raw, int) or raw in (0x7FFFFFFF, -0x80000000):
        return None
    deg = raw * SEMICIRCLE_DEG
    return deg if abs(deg) <= 180.0 else None


def _num(raw):
    """Scalar numeric or None (never throws on lists/strings)."""
    raw = _scalar(raw)
    return raw if isinstance(raw, (int, float)) else None


INTEGRITY_MODES = ("strict", "report", "silent")


def _num_str(v: float) -> str:
    """Integral floats print as ints (attr-map convention), else repr."""
    fv = float(v)
    return str(int(fv)) if fv.is_integer() else repr(fv)


def _col_decoder(f: Field):
    if f.key.endswith("ts"):
        return _fit_ts
    if f.key == "sport":
        return lambda raw: SPORTS.get(_scalar(raw))
    if f.scale is None:
        return _semi_deg

    def scaled(raw):
        v = _num(raw)
        return None if v is None else v / f.scale - f.offset
    return scaled


# each message's column fields with their decoders: timestamps, sport
# names, semicircle degrees, else raw / scale - offset
_COLS = {
    m.num: tuple((f.num, f.key, _col_decoder(f)) for f in m.fields if f.col)
    for m in FIT_PROFILE
}


def _cols(msg: Message, values: dict) -> dict:
    return {key: decode(values.get(num)) for num, key, decode in _COLS[msg.num]}


def _attrs(msg: Message, values: dict) -> dict:
    """attrs/meta entries of one message's keyed non-column fields, in one
    format: strings as they are, numbers by _num_str at scale 1 and
    repr(v / scale) otherwise; swim strokes also by name."""
    out = {}
    for f in msg.fields:
        if f.key is None or f.col:
            continue
        v = _scalar(values.get(f.num))
        if v is None:
            continue
        key = msg.prefix + f.key
        out[key] = (v if isinstance(v, str)
                    else _num_str(v) if f.scale == 1 else repr(v / f.scale))
        if f.key == "swim_stroke" and v in SWIM_STROKES:
            out[key + "_name"] = SWIM_STROKES[v]
    return out


def _extras(msg: Message, values: dict) -> dict:
    """Every native field outside the profile, kept raw for lossless
    FIT -> FIT (fit_parser.dart:1036-1089 _extraFitFields/_extraFitArrays):
    scalars as extra.{f}, arrays as extra_array.{f} with null (invalid or
    padding) elements dropped."""
    known = {f.num for f in msg.fields}
    out = {}
    for f, v in values.items():
        if f in known:
            continue
        if isinstance(v, (int, float)):
            out[f"{msg.prefix}extra.{f}"] = _num_str(v)
        elif isinstance(v, list):
            nums = [x for x in v if isinstance(x, (int, float))]
            if nums:
                out[f"{msg.prefix}extra_array.{f}"] = ",".join(map(_num_str, nums))
    return out


def _decode_span(st: dict, msg: Message, values: dict) -> None:
    """lap (19) / length (101) / set (225): one row of its column fields
    and attrs."""
    row = _cols(msg, values)
    attrs = _attrs(msg, values)
    if msg.name == "lap":
        row["lap_id"] = st["lap_id"]
        st["lap_id"] += 1
        attrs.update(_extras(msg, values))
    elif msg.name == "set" and 254 not in values:  # no 254: ends at 253
        row["end_ts"] = _fit_ts(values.get(253))
    elif msg.name == "length" and row["end_ts"] is None:
        # reference falls back to start + elapsed (fit_parser.dart:682-686)
        elapsed = _num(values.get(3))  # total_elapsed_time, ms
        if row["start_ts"] is not None and elapsed is not None:
            row["end_ts"] = row["start_ts"] + pd.Timedelta(seconds=elapsed / 1000.0)
    st["out"].append({"activity_id": st["aid"], "kind": msg.name, **row,
                      "attrs": attrs or None})


def _decode_event(st: dict, msg: Message, values: dict) -> None:
    c = _cols(msg, values)
    if c["ts"] is not None:
        st["out"].append({"activity_id": st["aid"], "kind": "channel",
                          "channel": "event", "ts": c["ts"],
                          "value": float(c["event"] or 0)})


def _decode_meta(st: dict, msg: Message, values: dict) -> None:
    """file_id / file_creator / activity: the first message wins per key."""
    for k, v in _attrs(msg, values).items():
        st["meta"].setdefault(k, v)


def _decode_session(st: dict, msg: Message, values: dict) -> None:
    meta = st["meta"]
    # session count feeds lossy accounting (additional sessions are only
    # representable in FIT — facade.dart:352-360)
    meta["session.count"] = str(int(meta.get("session.count", "0")) + 1)
    sport = _cols(msg, values)["sport"]
    if sport:
        meta.setdefault("sport", sport)
    attrs = {**_attrs(msg, values), **_extras(msg, values)}
    if attrs.get("session.sub_sport") == "0":  # 0 = generic -> omitted
        del attrs["session.sub_sport"]
    # first session wins via setdefault (primarySessionSeen semantics)
    for k, v in attrs.items():
        meta.setdefault(k, v)


def _decode_activity(st: dict, msg: Message, values: dict) -> None:
    # The reference's case-34 handler decodes ONLY field 0
    # (total_timer_time) as a timer-time fallback — the primary session's
    # value wins regardless of message order (fit_parser.dart:609-612,
    # 773). num_sessions and local_timestamp (minus the UTC timestamp it
    # yields the UTC offset) are surfaced as extra activity.* attrs — a
    # documented superset of the reference.
    _decode_meta(st, msg, values)
    ts_raw = _scalar(values.get(253))
    lt_raw = _scalar(values.get(5))
    if (isinstance(ts_raw, int) and isinstance(lt_raw, int)
            and 1 <= ts_raw <= FIT_TS_MAX and 1 <= lt_raw <= FIT_TS_MAX):
        st["meta"].setdefault("activity.local_ts_offset_s", str(lt_raw - ts_raw))


def _decode_device_info(st: dict, msg: Message, values: dict) -> None:
    # device_index 0 is the recording head unit ("creator"); a paired
    # sensor (device_index != 0) must not overwrite its identity. Messages
    # without a device_index are treated as the creator (some watches omit
    # it). Later creator messages OVERWRITE per field (the reference merges
    # latest-non-null).
    if _cols(msg, values)["device_index"] in (None, 0):
        st["meta"].update(_attrs(msg, values))


def _decode_field_description(st: dict, msg: Message, values: dict) -> None:
    kv = {f.key: _scalar(values.get(f.num)) for f in msg.fields}
    didx, fnum = kv["developer_data_index"], kv["field_definition_number"]
    if didx is None or fnum is None:
        return
    # scale / offset per the reference's gating (fit_parser.dart:828-835):
    # scale only when > 0 and != 1, offset only when != 0
    scale, offset = _num(kv["scale"]), _num(kv["offset"])
    name = kv["field_name"] or f"fit_dev_{didx}_{fnum}"
    st["dev_fields"][(didx, fnum)] = {
        "base_type": kv["fit_base_type_id"],
        "channel": _sanitize_dev_name(str(name), didx, fnum),
        "scale": float(scale) if scale is not None and scale > 0 and scale != 1 else None,
        "offset": float(offset) if offset is not None and offset != 0 else None,
    }
    st["dev_version"] += 1  # bumped on EVERY registration, incl. overwrites


_DECODERS = {
    0: _decode_meta, 18: _decode_session, 19: _decode_span, 21: _decode_event,
    23: _decode_device_info, 34: _decode_activity, 49: _decode_meta,
    101: _decode_span, 206: _decode_field_description, 225: _decode_span,
}

# globals with dedicated handlers — never rerouted through the fallback
# record heuristic (fit_parser.dart:1096-1107: a lap's 253/0/1 fields would
# otherwise be misread as a GPS record). Deliberate superset: the reference
# set omits 206, so a field_description whose definition happened to
# declare 253 would be hijacked as a record there and its developer-field
# registration silently lost — 206 is protected here.
_EXPLICIT_GLOBALS = frozenset(_DECODERS) | {_RECORD.num}


# Diagnostic metadata twin of the reference's ParseDiagnostic surface
# (fit_parser.dart: node path, suggestedFix, priority). Priorities mirror
# the reference exactly where the code exists there (0 = file-fatal,
# 1 = CRC verification, 2 = stream recovery, 3 = per-record recovery);
# fix text is paraphrased guidance, not copied. The third entry is the
# message of codes whose text does not vary.
_DIAG_META: dict[str, tuple[int, str, str | None]] = {
    "fit.header.too_short": (0, "The file is incomplete; re-export it from the source device.", None),
    "fit.header.bad_magic": (0, "Not a FIT payload; check the file or pass the correct format.", None),
    "fit.header.crc_mismatch": (1, "Re-export the file; if otherwise valid, parse with integrity='silent' to recover data.", None),
    "fit.trailer.truncated": (0, "The file is likely cut short; re-download and verify the full transfer.", None),
    "fit.trailer.crc_mismatch": (1, "Data may be corrupted; re-download, or parse with integrity='silent' for best-effort recovery.", None),
    "fit.def.truncated": (0, "Definition record cut mid-table; the file is truncated at this offset.", None),
    "fit.data.truncated": (0, "Data record extends past the payload; the file is truncated at this offset.", None),
    "fit.data.unknown_definition": (2, "Stream resynchronization was attempted; decoded data before and after the damage is kept.", None),
    "fit.data.unknown_definition.summary": (2, "Multiple unknown-definition messages were skipped during resynchronization.", None),
    "fit.data.resync_failed": (2, "No parseable definition found nearby; bytes are skipped one at a time.", None),
    "fit.record.missing_timestamp": (2, "The record has no timestamp and no usable context; it was skipped.", "Record without timestamp skipped."),
    "fit.record.recovered_timestamp": (3, "A recent timestamp context was reused; verify ordering if precision matters.", "Record timestamp missing; reused recent timestamp context for best-effort extraction."),
}


def _diag_attrs(code: str, severity: str, message: str | None = None) -> dict:
    """attrs map for one FIT parse diagnostic; adds the reference's
    priority + suggested-fix fields when the code is known, and the
    node path derived from the code prefix (fit.header / fit.trailer /
    fit.data / fit.record). ``message`` defaults to the code's own text."""
    meta = _DIAG_META.get(code)
    attrs = {"code": code, "severity": severity,
             "message": message if message is not None else meta[2],
             "node": ".".join(code.split(".")[:2])}
    if meta is not None:
        attrs["priority"] = str(meta[0])
        attrs["fix"] = meta[1]
    return attrs


def parse_fit(
    activity_id: str,
    payload: bytes,
    integrity: str = "report",
    collect_stats: bool = True,
) -> list[dict]:
    """``integrity`` selects the reference's integrity gates
    (integrity_mode.dart:7-55): 'strict' raises ValueError on the first
    integrity issue (fail-fast for trusted pipelines), 'report' (default,
    the mode ``decode.decode_records`` runs) emits diag records and
    continues best-effort, 'silent' suppresses integrity diags entirely.
    With ``collect_stats`` (report mode), the meta record carries
    integrity.* counters (integrity_mode.dart:57-124)."""
    if integrity not in INTEGRITY_MODES:
        raise ValueError(f"integrity must be one of {INTEGRITY_MODES}")
    out: list[dict] = []
    stats = {"crc_mismatches": 0, "truncated_sections": 0, "invalid_messages": 0}

    def diag(code, severity, msg):
        if "crc_mismatch" in code:
            stats["crc_mismatches"] += 1
        elif "truncated" in code or "too_short" in code:
            stats["truncated_sections"] += 1
        else:
            stats["invalid_messages"] += 1
        if integrity == "strict":
            raise ValueError(f"FIT integrity failure [{code}]: {msg}")
        if integrity == "silent":
            return
        out.append({"activity_id": activity_id, "kind": "diag",
                    "attrs": _diag_attrs(code, severity, msg)})

    if len(payload) < 12:
        diag("fit.header.too_short", "error", f"{len(payload)} bytes")
        return out
    hdr_size = payload[0]
    if hdr_size not in (12, 14) or payload[8:12] != b".FIT":
        diag("fit.header.bad_magic", "error", "missing .FIT magic")
        return out
    data_size = struct.unpack_from("<I", payload, 4)[0]
    if hdr_size == 14:
        hdr_crc = struct.unpack_from("<H", payload, 12)[0]
        if hdr_crc != 0 and fit_crc16(payload[:12]) != hdr_crc:
            diag("fit.header.crc_mismatch", "error", "header CRC mismatch")
    end = hdr_size + data_size
    if end + 2 > len(payload):
        diag("fit.trailer.truncated", "error",
             f"need {end + 2} bytes, have {len(payload)}")
        # the reference decodes up to min(dataLimit, payload.length) — no
        # bytes are reserved for the absent CRC (fit_parser.dart:235, 290)
        end = min(end, len(payload))
    else:
        file_crc = struct.unpack_from("<H", payload, end)[0]
        if fit_crc16(payload[:end]) != file_crc:
            diag("fit.trailer.crc_mismatch", "warning", "file CRC mismatch")

    defs: dict[int, dict] = {}
    dev_fields: dict[tuple[int, int], dict] = {}
    csd_state: dict[str, int] = {}  # compressed speed/distance accumulator
    # best-effort context (fit_parser.dart:143-144, 340-380): per-local-type
    # + global timestamp memory for compressed rollover and recovery of
    # records whose own timestamp is missing/implausible
    ctx: dict = {"last_ts": {}, "last_known": None, "recovered": 0,
                 "silent": integrity == "silent"}
    unknown_defs = 0
    resync_fails = 0
    resync_clean_until = 0  # scans proved def-free up to here (linearity)
    pos = hdr_size
    seq = 0
    meta: dict[str, str] = {"format": "fit"}
    # what the per-message decoders read and update
    st = {"aid": activity_id, "out": out, "meta": meta, "lap_id": 0,
          "dev_fields": dev_fields, "dev_version": 0}

    def parse_diag(code: str, message: str | None = None) -> None:
        """Best-effort parse diagnostic: unlike diag(), never aborts —
        strict mode fail-fasts only on INTEGRITY issues (CRC, truncation,
        malformed structure), matching the reference where unknown-def
        resync and timestamp recovery continue in every mode. Silent mode
        suppresses these rows like all diagnostics (IntegrityMode.silent
        returns an empty diagnostics list)."""
        if code.startswith("fit.data."):
            stats["invalid_messages"] += 1
        if integrity == "silent":
            return
        out.append({"activity_id": activity_id, "kind": "diag",
                    "attrs": _diag_attrs(code, "warning", message)})

    while pos < end:
        hdr = payload[pos]
        pos += 1
        compressed = bool(hdr & 0x80)
        cts = None
        if compressed:
            local = (hdr >> 5) & 0x3
            time_offset = hdr & 0x1F
            # per-local-type compressed rollover; an unseen local type
            # seeds from the bare offset so the message is not skipped
            # (fit_parser.dart:241-252, 1133-1141 — note <=: a repeated
            # low-bits value wraps forward)
            prev = ctx["last_ts"].get(local)
            if prev is None:
                cts = time_offset
            else:
                cts = (prev & ~0x1F) | time_offset
                if cts <= prev:
                    cts += 0x20
                cts &= 0xFFFFFFFF
        else:
            local = hdr & 0xF

        if not compressed and (hdr & 0x40):  # definition record
            parsed = _read_def_at(payload, pos - 1, end)
            if isinstance(parsed, str):
                diag("fit.def.truncated", "error", parsed)
                break
            local, defs[local], pos = parsed
            continue

        # data record
        d = defs.get(local)
        if d is None:
            # unknown definition -> warn (capped) and RESYNCHRONIZE the
            # stream instead of aborting (fit_parser.dart:266-315): scan
            # forward for the next parseable definition record; if none is
            # found within the window, skip one byte and keep going
            unknown_defs += 1
            if unknown_defs <= 5:
                parse_diag(
                    "fit.data.unknown_definition",
                    f"Data message references unknown definition #{local}; "
                    "attempting stream resynchronization.",
                )
            # high-water mark keeps pathological input LINEAR: a failed
            # scan proves no definition starts before resync_clean_until,
            # so later scans start past it (never re-examining proven
            # bytes) while still covering the window's unproven tail —
            # the reference rescans the overlapping 2 KiB per skipped
            # byte, which is quadratic on unparseable garbage
            scan_end = min(end, pos + 2048)
            new_pos = _try_resync(
                payload, max(pos, resync_clean_until), scan_end, end, defs
            )
            if new_pos is None:
                resync_clean_until = max(resync_clean_until, scan_end - 6)
                resync_fails += 1
                if resync_fails <= 5:
                    parse_diag(
                        "fit.data.resync_failed",
                        f"Unable to resynchronize after unknown definition "
                        f"#{local}; skipping one byte to continue parsing.",
                    )
                if pos < end:
                    pos += 1
            else:
                pos = new_pos
            continue
        if pos + d["size"] > end:
            diag("fit.data.truncated", "warning", f"at byte {pos}")
            break

        # FAST PATH (SURVEY §7 hard-part #1): a run of consecutive
        # non-compressed record-message (20) data records sharing one
        # definition decodes with a single np.frombuffer over a structured
        # dtype — the normal-header byte for local type L is exactly L, so
        # the run extends while that byte repeats at the record stride.
        # Compressed-timestamp records and odd layouts (strings, arrays,
        # the 3-byte field 8) take the general per-record path below.
        if not compressed and d["global"] == _RECORD.num:
            # keyed on a registration VERSION, not len(dev_fields): a
            # field_description that re-registers an existing (didx, fnum)
            # with a new type/name must invalidate the cached plan
            if d.get("_plan_devv") != st["dev_version"]:
                d["_plan"] = _fast_plan(d, dev_fields)
                d["_plan_devv"] = st["dev_version"]
            plan = d["_plan"]
            if plan is not None:
                p0 = pos - 1
                stride = 1 + d["size"]
                max_n = (end - p0) // stride
                hdrs = np.frombuffer(
                    payload, np.uint8, max_n * stride, p0
                ).reshape(max_n, stride)[:, 0]
                brk = np.nonzero(hdrs != hdr)[0]
                n_run = int(brk[0]) if len(brk) else max_n
                rec = np.frombuffer(payload, plan["dtype"], n_run, p0)
                seq = _emit_g20_run(
                    out, activity_id, rec, plan, seq, ctx, local, dev_fields
                )
                pos = p0 + n_run * stride
                continue

        values: dict[int, object] = {}
        dev_values: dict[tuple[int, int], object] = {}
        raw_fields: dict[int, bytes] = {}
        endian = d["endian"]
        for fnum, fsize, btype, is_dev, didx in d["fields"]:
            raw = payload[pos : pos + fsize]
            pos += fsize
            if is_dev:  # decoded by its registered base type (default byte)
                if (didx, fnum) not in dev_fields:
                    continue
                btype = dev_fields[(didx, fnum)].get("base_type") or 0x0D
            else:
                raw_fields[fnum] = raw
            bt = BASE_TYPES.get(btype & 0xFF)
            if bt is None:
                continue
            ch, unit, invalid = bt
            if ch == "s":
                val = raw.split(b"\x00", 1)[0].decode("utf-8", "replace")
            else:
                n = fsize // unit
                if n == 0:
                    continue
                vals = struct.unpack_from(endian + ch * n, raw)
                vals = [None if (invalid is not None and v == invalid) else v for v in vals]
                val = vals[0] if n == 1 else list(vals)
            if is_dev:
                dev_values[(didx, fnum)] = val
            else:
                values[fnum] = val

        # timestamp context (fit_parser.dart:340-348): a compressed header
        # supplies field 253 and updates the per-local + global memory; any
        # explicit numeric 253 (plausible or not) updates it too
        if cts is not None:
            values[253] = cts
            ctx["last_ts"][local] = cts
            ctx["last_known"] = cts
        else:
            _r253 = values.get(253)
            if isinstance(_r253, (int, float)):
                ctx["last_ts"][local] = int(_r253)
                ctx["last_known"] = int(_r253)

        g = d["global"]
        # vendor-specific messages carrying GPS data under a non-standard
        # global id: def declares timestamp+lat+lon -> treated as a record,
        # but only when the position actually decodes
        # (fit_parser.dart:352-354, 412-414, 1111-1121)
        if "_fallback_rec" not in d:
            d["_fallback_rec"] = (
                g not in _EXPLICIT_GLOBALS
                and {_REC[k].num for k in ("ts", "lat", "lon")}
                <= {f[0] for f in d["fields"]}
            )
        if g != _RECORD.num and not d["_fallback_rec"]:
            decoder = _DECODERS.get(g)
            if decoder is not None:
                decoder(st, _MSG[g], values)
            continue
        rec = _cols(_RECORD, values)  # ts, lat, lon, ele
        ts = rec["ts"]
        if ts is None:
            # best-effort recovery (fit_parser.dart:355-380): reuse the
            # most recent timestamp context; only records with no
            # context at all are skipped (missing-timestamp diag)
            rec_raw = ctx["last_ts"].get(local, ctx["last_known"])
            if rec_raw is None:
                parse_diag("fit.record.missing_timestamp")
                continue
            ts = pd.Timestamp(int(rec_raw) + FIT_EPOCH_UNIX, unit="s")
            ctx["recovered"] += 1
            if ctx["recovered"] <= 5:
                parse_diag("fit.record.recovered_timestamp")
        lat, lon = rec["lat"], rec["lon"]
        if d["_fallback_rec"] and (lat is None or lon is None):
            continue  # heuristic records must carry a position
        if lat is not None and lon is not None:
            out.append({"activity_id": activity_id, "kind": "point",
                        "seq": seq, "ts": ts, "lat": lat, "lon": lon,
                        "ele": rec["ele"], "attrs": None})
            seq += 1
        chans = {}
        for num, key, scale in _REC_CHANNELS:
            v = _num(values.get(num))
            if v is not None:
                chans[key] = v / scale
        # unknown native record fields -> fit_field_<n> channels
        # with raw values (fit_parser.dart:507-512)
        for fnum, fv in values.items():
            if fnum not in _REC_KNOWN:
                nv = _num(fv)
                if nv is not None:
                    chans[f"fit_field_{fnum}"] = nv
        # G7: compressed speed/distance (record field 8, 3 bytes):
        # 12-bit speed (/100 m/s) + 12-bit wrapping distance
        # accumulator (/16 m); explicit fields win
        # (fit_parser.dart:448-472)
        raw8 = raw_fields.get(8)
        if (
            raw8 is not None
            and len(raw8) >= 3
            and not (raw8[0] == 0xFF and raw8[1] == 0xFF and raw8[2] == 0xFF)
        ):
            b0, b1, b2 = raw8[0], raw8[1], raw8[2]
            speed_raw = b0 | ((b1 & 0x0F) << 8)
            dist_raw = ((b1 >> 4) & 0x0F) | (b2 << 4)
            # the accumulator advances on EVERY CSD-bearing record
            # (gated only by the all-0xFF check above) and starts at 0 —
            # distance-since-start, not first-raw-seeded
            # (fit_parser.dart:459-463)
            if csd_state.get("seen"):
                csd_state["accum"] = (
                    csd_state.get("accum", 0)
                    + ((dist_raw - csd_state["last"]) & 0xFFF)
                )
            csd_state["last"] = dist_raw
            csd_state["seen"] = True
            if "speed" not in chans and speed_raw != 0xFFF:
                chans["speed"] = speed_raw / 100.0
            if "distance" not in chans:
                # emitted whenever the explicit field is absent — no
                # 0xFFF gate on the distance nibble (fit_parser.dart:467)
                chans["distance"] = csd_state.get("accum", 0) / 16.0
        for cname, v in chans.items():
            out.append({"activity_id": activity_id, "kind": "channel",
                        "channel": cname, "ts": ts, "value": float(v)})
        for key, v in dev_values.items():
            v = _num(v)  # first element of an array; strings dropped
            if v is not None and v == v:  # NaN is the float invalid value
                desc = dev_fields[key]
                out.append({"activity_id": activity_id, "kind": "channel",
                            "channel": desc["channel"], "ts": ts,
                            "value": _dev_scaled(desc, float(v))})
    if unknown_defs > 5:
        parse_diag(
            "fit.data.unknown_definition.summary",
            f"Encountered {unknown_defs - 5} additional unknown-definition "
            "messages while resynchronizing FIT stream.",
        )
    # timer-time merge (fit_parser.dart:609-612, 773): the primary session's
    # total_timer_time wins; an activity (34) message supplies it only when
    # no session carried one — replicated order-independently here
    if "session.total_timer_s" not in meta and "activity.total_timer_s" in meta:
        meta["session.total_timer_s"] = meta["activity.total_timer_s"]
    if collect_stats and integrity == "report":
        for k, v in stats.items():
            if v:
                meta[f"integrity.{k}"] = str(v)
    out.append({"activity_id": activity_id, "kind": "meta",
                "sport": meta.get("sport"), "attrs": meta})
    return out


def _sanitize_dev_name(name: str, didx: int, fnum: int) -> str:
    """fit_parser.dart:1167-1185: lowercase, non-alnum -> _, strip edges,
    reject leading digit -> fallback fit_dev_<i>_<n>."""
    s = "".join(c if c.isalnum() else "_" for c in name.lower()).strip("_")
    while "__" in s:
        s = s.replace("__", "_")
    if not s or s[0].isdigit():
        return f"fit_dev_{didx}_{fnum}"
    return s


# ------------------------------------------------------------------ encoder

def _def_record(
    local: int,
    global_num: int,
    fields: list[tuple[int, int, int]],
    dev_fields: list[tuple[int, int, int]] | None = None,
) -> bytes:
    hdr = 0x40 | (0x20 if dev_fields else 0) | local
    head = bytes([hdr, 0, 0]) + struct.pack("<H", global_num) + bytes([len(fields)])
    body = b"".join(bytes([f, s, t]) for f, s, t in fields)
    if dev_fields:
        body += bytes([len(dev_fields)]) + b"".join(
            bytes([f, s, d]) for f, s, d in dev_fields
        )
    return head + body


def _extra_encode_plan(attr_maps: list[dict], prefix: str = "") -> tuple[list, list]:
    """Shared write-back layout for preserved raw fields (fit_encoder.dart
    _unionExtraFields/_writeExtraFields): scalars as one int32/uint32 each
    (signed iff any value is negative), arrays as uint32 elements padded to
    the union element count with invalid sentinels. Returns
    (scalar_fields [(fnum, signed)], array_fields [(fnum, count)])."""
    scal: dict[int, bool] = {}
    arrs: dict[int, int] = {}
    for attrs in attr_maps:
        for k, v in (attrs or {}).items():
            # non-numeric suffixes (foreign attrs like "extra.note") are
            # skipped — the encoder never throws on odd metadata
            if k.startswith(prefix + "extra."):
                try:
                    f = int(k[len(prefix) + 6:])
                    neg = float(v) < 0
                except (TypeError, ValueError):
                    continue
                scal[f] = scal.get(f, False) or neg
            elif k.startswith(prefix + "extra_array."):
                try:
                    f = int(k[len(prefix) + 12:])
                except ValueError:
                    continue
                arrs[f] = max(arrs.get(f, 0), len(str(v).split(",")))
    return sorted(scal.items()), sorted(arrs.items())


def _extra_def_fields(scal: list, arrs: list) -> list[tuple[int, int, int]]:
    return [(f, 4, 0x85 if signed else 0x86) for f, signed in scal] + [
        (f, 4 * n, 0x86) for f, n in arrs
    ]


def _extra_pack(attrs: dict, scal: list, arrs: list, prefix: str = "") -> bytes:
    out = bytearray()
    for f, signed in scal:
        v = _attr_num(attrs, f"{prefix}extra.{f}")
        # full-range clamp per _writeRawInt32 (fit_encoder.dart:885-890);
        # absent writes the sentinel, which is the top of the range
        lo, hi = (-0x80000000, 0x7FFFFFFF) if signed else (0, 0xFFFFFFFF)
        out += struct.pack("<i" if signed else "<I",
                           hi if v is None or v != v else round(min(max(v, lo), hi)))
    for f, n in arrs:
        v = attrs.get(f"{prefix}extra_array.{f}")
        vals: list = []
        if v is not None:
            try:
                vals = [int(round(float(x))) for x in str(v).split(",")]
            except (TypeError, ValueError):
                vals = []
        for x in (vals + [None] * n)[:n]:
            out += struct.pack("<I", 0xFFFFFFFF if x is None else min(max(x, 0), 0xFFFFFFFE))
    return bytes(out)


# integer base type -> (lo, hi, invalid): out-of-range values CLAMP below
# the invalid sentinel, mirroring the reference's write helpers
# (fit_encoder.dart:853-875 value.clamp(0, 0xFE/0xFFFE/0xFFFFFFFE)) —
# neither silent wrap-around nor a crash, and a clamped value can never
# alias "absent"
_BOUNDS = {
    t: ((-inv - 1 if ch.islower() else 0), inv - 1, inv)
    for t, (ch, _, inv) in BASE_TYPES.items() if inv
}
# each message's written fields, unpacked for _pack's per-record loop:
# (field, key, attr key, col, scale, offset, trunc, lo, hi, invalid)
_WRITTEN = {
    m.num: tuple(
        (f, f.key, m.prefix + f.key, f.col, f.scale, f.offset, f.trunc, *_BOUNDS[f.btype])
        for f in m.fields if f.write and f.btype != STRING
    )
    for m in FIT_PROFILE if m.local is not None
}
_STRUCTS = {
    num: struct.Struct("<" + "".join(BASE_TYPES[s[0].btype][0] for s in spec))
    for num, spec in _WRITTEN.items()
}


def _to_wire(scale, offset, v):
    """Unrounded wire number of a value (floats and numpy arrays alike):
    (v + offset) * scale, or degrees -> semicircles when scale is None."""
    if scale is None:
        return v / SEMICIRCLE_DEG
    return (v + offset) * scale if offset else v * scale


def _attr_num(attrs: dict | None, key: str):
    if not attrs or key not in attrs or attrs[key] is None:
        return None
    try:
        return float(attrs[key])
    except (TypeError, ValueError):
        return None


def _pack(msg: Message, attrs: dict, cols: dict) -> bytes:
    """One data message: the header byte, then each written field from
    ``cols`` when its key is there (row columns, hook overrides), else
    from ``attrs`` under the message's prefix — scaled, rounded (or
    truncated) and clamped below the base type's invalid sentinel."""
    vals = []
    for _, key, akey, col, scale, offset, trunc, lo, hi, invalid in _WRITTEN[msg.num]:
        v = cols.get(key, cols)  # cols itself marks "not there"
        if v is cols:
            v = None if col or akey not in attrs else _attr_num(attrs, akey)
        if v is None or v != v:
            vals.append(invalid)
            continue
        w = _to_wire(scale, offset, v)
        w = lo if w < lo else hi if w > hi else w
        vals.append(int(w) if trunc else round(w))
    return bytes([msg.local]) + _STRUCTS[msg.num].pack(*vals)


def _msg_def(msg: Message, extra: list = (), dev_fields=None, str_size: int = 1) -> bytes:
    """Definition record of ``msg``'s written fields (+ raw extras)."""
    return _def_record(msg.local, msg.num, [
        (f.num, str_size if f.btype == STRING else BASE_TYPES[f.btype][1], f.btype)
        for f in msg.fields if f.write
    ] + list(extra), dev_fields)


def _fit_secs(ts) -> int | None:
    """FIT seconds, None for None/NaT (pandas nulls arrive as NaT through
    to_dict('records'), which `is not None` does not catch)."""
    if ts is None or pd.isna(ts):
        return None
    return int(pd.Timestamp(ts).timestamp()) - FIT_EPOCH_UNIX


def utf8_truncate(s: str, max_bytes: int = 63) -> bytes:
    """G18: FIT strings cap at 63 bytes + NUL, truncated at a UTF-8
    CHARACTER boundary (a raw byte slice can split a multibyte sequence
    and emit invalid UTF-8 — the reference truncates per character)."""
    b = s.encode("utf-8")
    if len(b) <= max_bytes:
        return b
    cut = max_bytes
    while cut > 0 and (b[cut] & 0xC0) == 0x80:  # inside a continuation seq
        cut -= 1
    return b[:cut]


def _encode_prefix(
    body: bytearray, meta: dict, dev_channels: list[str], first_ts_raw: int | None
) -> None:
    """file_id -> session -> developer defs (207/206) -> record definition
    — the message prefix shared by the scalar and vectorized encoders."""
    # file_id: an out-of-range manufacturer/product id writes the invalid
    # sentinel rather than a clamped (wrong) id
    fid = _MSG[0]
    ids = {"type": 4}  # activity file
    for _, key, akey, col, *_, invalid in _WRITTEN[0]:
        if not col:
            v = _attr_num(meta, akey)
            ids[key] = v if v is not None and -1 < v < invalid else None
    body += _msg_def(fid) + _pack(fid, meta, ids)

    # session: sport + the FULL activity summary (fit_encoder.dart:144-248
    # writeSession) + preserved raw extras — absent values are invalid
    # sentinels so they round-trip as null
    sport_id = SPORT_IDS_INV.get(meta.get("sport"))
    if sport_id is not None or any(k.startswith("session.") for k in meta):
        ses = _MSG[18]
        scal, arrs = _extra_encode_plan([meta], prefix=ses.prefix)
        body += _msg_def(ses, _extra_def_fields(scal, arrs))
        body += _pack(ses, meta, {"timestamp": first_ts_raw, "sport": sport_id})
        body += _extra_pack(meta, scal, arrs, prefix=ses.prefix)

    # developer-field descriptions must precede the record definition that
    # references them (fit_encoder.dart:479-516)
    if dev_channels:
        body += _msg_def(_MSG[207]) + _pack(_MSG[207], {}, {"developer_data_index": 0})
        fd = _MSG[206]
        for i, name in enumerate(dev_channels):
            nb = utf8_truncate(name)  # G18: 63-byte cap at char boundary
            # _pack writes the fixed-size fields; the name, the last field,
            # follows NUL-terminated
            body += _msg_def(fd, str_size=len(nb) + 1) + _pack(fd, {}, {
                "developer_data_index": 0, "field_definition_number": i,
                "fit_base_type_id": FLOAT64,
            }) + nb + b"\x00"

    body += _msg_def(_RECORD, dev_fields=[(i, 8, 0) for i in range(len(dev_channels))])


def encode_fit(
    points: list[dict],
    channels_by_ts: dict,
    laps: list[dict],
    lengths: list[dict] | None = None,
    sets: list[dict] | None = None,
    events: list[dict] | None = None,
    meta: dict | None = None,
) -> bytes:
    """Full-profile FIT encode (fit_encoder.dart message sequence):
    file_id -> session (sport + summary) -> field_description/developer_data
    (206/207) for non-native channels -> records (with float64 developer
    fields) -> laps -> lengths (swim, 101) -> sets (strength, 225) ->
    events (21) -> activity (34). Absent values encode as FIT invalid
    sentinels (NaN for float64 developer fields) so they round-trip as null.

    points sorted by ts; channels_by_ts iso-ts -> {channel: value};
    lengths/sets are dicts with start_ts/end_ts/attrs; events are
    {ts, value} (event id); meta is the string attr map (sport,
    session.total_*, device.*)."""
    from activity_files_spark.sources.gpx import _ts_key

    meta = meta or {}

    # developer channels: every channel without a native record field,
    # in deterministic name order (write-back per fit_encoder.dart:477-516)
    dev_channels = sorted(
        {c for ch in channels_by_ts.values() for c in ch} - _NATIVE_CHANNELS
    )

    body = bytearray()
    # an all-NaT point list maps to the invalid sentinel, matching the
    # vectorized _encode_activity_pdf path byte-for-byte
    _encode_prefix(body, meta, dev_channels, _fit_secs(points[0]["ts"]) if points else None)
    for p in points:
        ts_raw = _fit_secs(p.get("ts"))
        if ts_raw is None:
            continue  # a record message is keyed by its timestamp
        ch = channels_by_ts.get(_ts_key(p["ts"])) or {}
        body += _pack(_RECORD, ch, {"ts": ts_raw, "lat": p.get("lat"),
                                    "lon": p.get("lon"), "ele": p.get("ele")})
        for name in dev_channels:
            v = ch.get(name)
            body += struct.pack("<d", float(v) if v is not None else float("nan"))

    return _encode_suffix(
        body, laps, lengths, sets, events, meta,
        _fit_secs(points[-1]["ts"]) if points else None,
    )


def _encode_suffix(
    body: bytearray,
    laps: list[dict],
    lengths: list[dict],
    sets: list[dict],
    events: list[dict],
    meta: dict,
    last_ts_raw: int | None,
) -> bytes:
    """laps -> lengths -> sets -> events -> activity + header/CRC framing —
    the message suffix shared by the scalar and vectorized encoders."""
    if laps:
        lap_msg = _MSG[19]
        lap_attr_maps = [lap.get("attrs") or {} for lap in laps]
        scal, arrs = _extra_encode_plan(lap_attr_maps)
        body += _msg_def(lap_msg, _extra_def_fields(scal, arrs))
        for lap, attrs in zip(laps, lap_attr_maps):
            s = _fit_secs(lap.get("start_ts"))
            e = _fit_secs(lap.get("end_ts"))
            cols = {"start_ts": s, "end_ts": e, "distance_m": lap.get("distance_m"),
                    "sport": SPORT_IDS_INV.get(lap.get("sport"))}
            if _attr_num(attrs, "total_elapsed_s") is None:
                # elapsed falls back to end - start
                cols["total_elapsed_s"] = None if None in (s, e) else max(0, e - s)
            body += _pack(lap_msg, attrs, cols) + _extra_pack(attrs, scal, arrs)

    for msg, spans in ((_MSG[101], lengths), (_MSG[225], sets)):
        if spans:
            body += _msg_def(msg)
            for sp in spans:
                body += _pack(msg, sp.get("attrs") or {}, {
                    "start_ts": _fit_secs(sp.get("start_ts")),
                    "end_ts": _fit_secs(sp.get("end_ts")),
                })

    if events:
        body += _msg_def(_MSG[21])
        for ev in events:
            ts_raw = _fit_secs(ev.get("ts"))
            if ts_raw is None:
                continue
            v = ev.get("value")
            # event id is a 1-byte enum: null/NaN/out-of-range -> invalid
            # sentinel rather than a clamped id
            body += _pack(_MSG[21], {}, {
                "ts": ts_raw, "event_type": 0, "data": None,  # event_type: start
                "event": v if v is not None and 0 <= v <= 254 else None,
            })

    # activity (34) — re-emitted when decode surfaced activity.* attrs:
    # total_timer_time (the reference's timer fallback), num_sessions, and
    # local_timestamp (UTC ts + stored offset) round-trip losslessly
    act = _MSG[34]
    offset = _attr_num(meta, "activity.local_ts_offset_s")
    if offset is not None or any(
        _attr_num(meta, act.prefix + f.key) is not None for f in act.fields if not f.col
    ):
        local = None
        if offset is not None and np.isfinite(offset) and last_ts_raw is not None:
            local = last_ts_raw + int(offset)
        body += _msg_def(act) + _pack(act, meta, {"timestamp": last_ts_raw,
                                                  "local_timestamp": local})

    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + bytes(body)
    return blob + struct.pack("<H", fit_crc16(blob))


def _record_block_vec(ts_raw: np.ndarray, cols: dict, dev_channels: list[str]) -> bytes:
    """Vectorized record-message block: one numpy structured array row per
    record (header byte + the record's written fields + float64 developer
    fields), written with a single ``.tobytes()`` instead of per-record
    struct.pack. Bit-identical to the scalar _pack: same round-half-even,
    scales, clamps and invalid sentinels. ``ts_raw``: int64 FIT seconds per
    record; ``cols``: float64 arrays (NaN = absent) keyed by lat/lon/ele/
    channel name."""
    n = len(ts_raw)
    spec = _WRITTEN[_RECORD.num]
    dtype = np.dtype(
        [("h", "u1")]
        + [(f"f{s[0].num}", "<" + BASE_TYPES[s[0].btype][0]) for s in spec]
        + [(f"dv{i}", "<f8") for i in range(len(dev_channels))]
    )
    arr = np.zeros(n, dtype)
    arr["h"] = _RECORD.local
    cols = dict(cols, ts=ts_raw.astype(np.float64))
    nan = np.full(n, np.nan)
    for f, *_, lo, hi, invalid in spec:
        v = cols.get(f.key, nan)
        w = _to_wire(f.scale, f.offset, v)
        w = np.trunc(w) if f.trunc else np.round(w)
        arr[f"f{f.num}"] = np.where(np.isnan(v), float(invalid), np.clip(w, float(lo), float(hi)))
    for i, name in enumerate(dev_channels):
        arr[f"dv{i}"] = cols.get(name, nan)  # NaN = absent (round-trips null)
    return arr.tobytes()


def _ts_us(col) -> np.ndarray:
    """Epoch-microseconds with NaT mapped to INT64_MAX so lexsorts put
    null timestamps LAST, matching DataFrame.sort_values (and
    records.sorted_kind_idx) — raw NaT is INT64_MIN, which would sort
    null-ts spans FIRST and diverge from the scalar encoder's order."""
    a = col.to_numpy().astype("datetime64[us]").astype(np.int64)
    return np.where(a == np.iinfo(np.int64).min, np.iinfo(np.int64).max, a)


def _span_records(masked: dict, idx: np.ndarray, cols: list[str]) -> list[dict]:
    """list-of-dicts for lap/length/set rows at ``idx`` — column-wise
    construction (no intermediate DataFrame slice/sort machinery)."""
    lists = [masked[c][idx].tolist() for c in cols]
    return [dict(zip(cols, vals)) for vals in zip(*lists)]


def _encode_activity_pdf(aid: str, pdf: pd.DataFrame) -> bytes:
    """Per-activity FIT encode from the unified record-stream frame —
    the vectorized kernel body behind :func:`fit_encode_records`.

    Built numpy-first with near-zero fixed cost per activity: real corpora
    are MANY SMALL activities (the sf0.1 stream is 1500 groups of ~130
    rows), where per-group pandas machinery (pivot_table ~8 ms, indexing
    ~8 ms) dominated the whole encode stage 10:1 over the actual byte
    work. Channel samples align to point timestamps by searchsorted
    against the deduped point-ts grid (duplicate (ts, channel) keeps the
    last row, and duplicate point ts share the sample — matching the dict
    build this replaces); the record block is one structured-array write;
    laps/lengths/sets/events and message framing share the scalar
    encoder's helpers byte-for-byte."""
    kind = pdf["kind"].to_numpy()
    col = {c: pdf[c] for c in pdf.columns}

    # --- points: sort by (ts, seq), drop NaT (a record is keyed by its ts)
    pmask = kind == "point"
    p_idx = np.nonzero(pmask)[0]
    ts_all = _ts_us(col["ts"])  # NaT -> INT64_MAX
    if len(p_idx):
        p_ts = ts_all[p_idx]
        p_seq = col["seq"].to_numpy(dtype=np.float64)[p_idx]
        order = np.lexsort((p_seq, p_ts))
        p_idx = p_idx[order]
        p_ts = p_ts[order]
        ok = p_ts != np.iinfo(np.int64).max  # NaT (mapped by _ts_us)
        p_idx, p_ts = p_idx[ok], p_ts[ok]
    else:
        p_ts = np.empty(0, np.int64)

    # --- channels: split events out, collect per-channel sample arrays
    cmask = kind == "channel"
    c_idx = np.nonzero(cmask)[0]
    ch_cols: dict[str, np.ndarray] = {}
    dev_channels: list[str] = []
    events = []
    if len(c_idx):
        names = col["channel"].to_numpy()[c_idx]
        vals = col["value"].to_numpy(dtype=np.float64)[c_idx]
        c_ts = ts_all[c_idx]
        uniq = sorted(set(names.tolist()))
        if "event" in uniq:
            # null-ts events are dropped here, matching the scalar
            # encoder's skip-guard (NaT maps to INT64_MAX in _ts_us, which
            # pd.Timestamp would otherwise turn into a year-294247 value)
            em = (names == "event") & (c_ts != np.iinfo(np.int64).max)
            e_ts, e_vals = c_ts[em], vals[em]
            eo = np.argsort(e_ts, kind="stable")
            events = [
                {"ts": pd.Timestamp(t, unit="us"), "value": v}
                for t, v in zip(e_ts[eo].tolist(), e_vals[eo].tolist())
            ]
            uniq.remove("event")
        dev_channels = [c for c in uniq if c not in _NATIVE_CHANNELS]
        if len(p_ts):
            # unique point timestamps: duplicate point ts share a sample;
            # later channel rows overwrite earlier ones (last wins)
            u_ts, inv = np.unique(p_ts, return_inverse=True)
            for name in uniq:
                m = names == name
                pos = np.searchsorted(u_ts, c_ts[m])
                pos_ok = np.clip(pos, 0, len(u_ts) - 1)
                hit = u_ts[pos_ok] == c_ts[m]
                grid = np.full(len(u_ts), np.nan)
                grid[pos_ok[hit]] = vals[m][hit]
                ch_cols[name] = grid[inv]

    # --- laps / lengths / sets / meta (column-wise, no frame slicing);
    # sorting reuses the shared NaT-last helper so span order matches the
    # scalar kernels (and the GPX/TCX encoders) exactly
    from activity_files_spark.sources.records import sorted_kind_idx

    masked = {
        c: col[c].to_numpy()
        for c in ("lap_id", "start_ts", "end_ts", "distance_m", "sport", "attrs")
    }
    span_cols = ["start_ts", "end_ts", "attrs"]
    laps = _span_records(
        masked, sorted_kind_idx(pdf, kind, "lap", ["lap_id", "start_ts"]),
        ["lap_id", "distance_m", "sport", *span_cols],
    )
    lengths = _span_records(
        masked, sorted_kind_idx(pdf, kind, "length", ["start_ts", "end_ts"]),
        span_cols,
    )
    sets = _span_records(
        masked, sorted_kind_idx(pdf, kind, "set", ["start_ts", "end_ts"]), span_cols
    )
    meta: dict = {}
    for i in np.nonzero(kind == "meta")[0].tolist():
        attrs = masked["attrs"][i]
        sport = masked["sport"][i]
        if isinstance(attrs, dict):
            meta.update(attrs)
        if isinstance(sport, str):
            meta.setdefault("sport", sport)

    # --- assemble
    body = bytearray()
    if len(p_ts):
        ts_raw = p_ts // 1_000_000 - FIT_EPOCH_UNIX
        first_raw, last_raw = int(ts_raw[0]), int(ts_raw[-1])
    else:
        first_raw = last_raw = None
    _encode_prefix(body, meta, dev_channels, first_raw)
    if len(p_ts):
        cols = dict(ch_cols)
        for c in ("lat", "lon", "ele"):
            cols[c] = col[c].to_numpy(dtype=np.float64)[p_idx]
        body += _record_block_vec(ts_raw, cols, dev_channels)
    return _encode_suffix(body, laps, lengths, sets, events, meta, last_raw)


def fit_encode_records(records: DataFrame, then: Sequence[Kernel] = ()) -> DataFrame:
    """Unified record stream (RECORD_SCHEMA) -> per-activity FIT payloads.

    Encodes the full message set: points + channels (native fields or
    float64 developer-field write-back), laps, swim lengths (101),
    strength sets (225), events (21), and the session/file_id metadata —
    so decode -> encode -> decode round-trips every record kind
    (fit_encoder.dart message sequence). One grouped_apply over
    activity_id; each activity is an independent unit of parallelism.
    The record block is written vectorized (:func:`_encode_activity_pdf`:
    pivot-aligned channels + one numpy structured-array write) and shares
    the scalar :func:`encode_fit`'s message-framing helpers, so both paths
    emit byte-identical payloads."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        aid = pdf["activity_id"].iloc[0]
        return pd.DataFrame([{"activity_id": aid, "payload": _encode_activity_pdf(aid, pdf)}])

    return grouped_apply(records, "activity_id", kernel, "activity_id string, payload binary",
                         then)
