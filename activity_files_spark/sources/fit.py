"""FIT binary source + sink (pure python/numpy — no external libs).

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from activity_files_spark.codecs.crc import fit_crc16
from activity_files_spark.operators.grouped import grouped_apply

FIT_EPOCH_UNIX = 631_065_600
FIT_TS_MAX = 1_924_992_000
SEMI_TO_DEG = 180.0 / 2_147_483_648.0

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

# record (msg 20) fields with dedicated decoding: 253 ts, 0/1 position,
# 2 altitude, 3 hr, 4 cadence, 5 distance, 6 speed, 7 power, 13 temp,
# 8 compressed speed/distance, 78 grade (scale 100), 120 left_right_balance
# (fit_parser.dart:410-512); every other numeric native field becomes a
# fit_field_<n> channel with its RAW value so no sensor data is silently
# dropped (fit_parser.dart:1024-1031, e.g. running dynamics)
_RECORD_DEDICATED = frozenset({253, 0, 1, 2, 3, 4, 5, 6, 7, 13, 8, 78, 120})

# globals with dedicated handlers — never rerouted through the fallback
# record heuristic (fit_parser.dart:1096-1107: a lap's 253/0/1 fields would
# otherwise be misread as a GPS record). Deliberate superset: the reference
# set omits 206, so a field_description whose definition happened to
# declare 253 would be hijacked as a record there and its developer-field
# registration silently lost — 206 is protected here.
_EXPLICIT_GLOBALS = frozenset({0, 18, 19, 20, 21, 23, 34, 49, 101, 206, 225})

SPORTS = {
    0: "generic", 1: "running", 2: "cycling", 5: "swimming",
    11: "walking", 17: "hiking", 4: "fitness_equipment",
}

# FIT wire order 0-6 (reference models.dart:14-22)
SWIM_STROKES = {
    0: "freestyle", 1: "backstroke", 2: "breaststroke", 3: "butterfly",
    4: "drill", 5: "mixed", 6: "im",
}


# struct char -> numpy format char (fast-path run decode)
_NP_FMT = {
    "B": "u1", "b": "i1", "H": "u2", "h": "i2", "I": "u4", "i": "i4",
    "q": "i8", "f": "f4", "d": "f8",
}


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
        formats.append(endian + _NP_FMT[ch])
        offsets.append(off)
        sentinels[name] = (
            None if invalid is None
            else int(np.array(invalid).astype(np.dtype(endian + _NP_FMT[ch])).astype(np.int64))
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

    def miss_diags(count: int):
        if ctx["silent"]:
            return
        for _ in range(count):
            out.append({
                "activity_id": activity_id, "kind": "diag",
                "attrs": _diag_attrs("fit.record.missing_timestamp",
                                     "warning",
                                     "Record without timestamp skipped."),
            })

    def recover_diags(count: int):
        budget = max(0, 5 - ctx["recovered"])
        ctx["recovered"] += count
        if ctx["silent"]:
            return
        for _ in range(min(count, budget)):
            out.append({
                "activity_id": activity_id, "kind": "diag",
                "attrs": _diag_attrs("fit.record.recovered_timestamp",
                                     "warning",
                                     "Record timestamp missing; reused recent "
                                     "timestamp context for best-effort "
                                     "extraction."),
            })

    # timestamp semantics mirror the scalar path exactly: any NUMERIC 253
    # (plausible or not) updates the per-local context as the run is
    # walked; records whose own decode fails recover to the latest context
    # (forward-fill within the run; the incoming context before the first
    # numeric row); only context-less records are skipped with a diag
    incoming = ctx["last_ts"].get(local, ctx["last_known"])
    ts_raw, ts_has = col("f253")
    if ts_raw is None:
        # no timestamp field in the definition: every record recovers to
        # the incoming context (or is skipped when there is none)
        if incoming is None:
            miss_diags(n)
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
        miss_diags(int(n - has_eff.sum()))
        recover_diags(int((has_eff & ~plausible).sum()))
        if not has_eff.any():
            return seq
    ts_ok = has_eff
    ts_all = pd.to_datetime(ts_eff + FIT_EPOCH_UNIX, unit="s")

    # points: ts + lat + lon all valid (G2 semicircle scale + range gate)
    lat_raw, lat_has = col("f0")
    lon_raw, lon_has = col("f1")
    if lat_raw is not None and lon_raw is not None:
        lat = lat_raw * SEMI_TO_DEG
        lon = lon_raw * SEMI_TO_DEG
        mpt = (
            ts_ok
            & lat_has & (lat_raw != -0x80000000) & (np.abs(lat) <= 180.0)
            & lon_has & (lon_raw != -0x80000000) & (np.abs(lon) <= 180.0)
        )
        idx = np.nonzero(mpt)[0]
        if len(idx):
            # altitude: field 2 only (78 is the grade channel —
            # fit_parser.dart:414, 481)
            alt_v, alt_m = col("f2")
            if alt_v is not None:
                ele = alt_v / 5.0 - 500.0
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

    def emit(cname, v, m, scale=None):
        if v is None:
            return
        mk = ts_ok & m
        cidx = np.nonzero(mk)[0]
        if not len(cidx):
            return
        vals = v[cidx].astype(np.float64)
        if scale is not None:
            vals = vals / scale
        for t, val in zip(ts_all[cidx].tolist(), vals.tolist()):
            out.append({"activity_id": activity_id, "kind": "channel",
                        "channel": cname, "ts": t, "value": val})

    emit("heart_rate", *col("f3"))
    emit("cadence", *col("f4"))
    emit("power", *col("f7"))
    emit("temperature", *col("f13"))
    emit("left_right_balance", *col("f120"))
    emit("grade", *col("f78"), scale=100.0)
    emit("speed", *col("f6"), scale=1000.0)
    emit("distance", *col("f5"), scale=100.0)
    # unknown native record fields -> fit_field_<n> channels, raw values
    for name in names:
        if name.startswith("f") and not name.startswith("fit"):
            fnum = int(name[1:])
            if fnum not in _RECORD_DEDICATED:
                emit(f"fit_field_{fnum}", *col(name))
    for name, didx, fnum in plan["dev"]:
        desc = dev_fields[(didx, fnum)]
        v, m = col(name)
        if v is not None and (desc.get("scale") or desc.get("offset")):
            v = v.astype(np.float64)
            if desc.get("scale"):
                v = v / desc["scale"]
            if desc.get("offset"):
                v = v - desc["offset"]
        emit(desc["channel"], v, m)
    return seq


def _read_def_at(payload: bytes, p: int, end: int):
    """Parse one definition record starting at the header byte ``p``;
    returns (local, def-dict, position-after) or None when it does not fit
    within ``end`` or declares zero fields. Pure (no diags) — used by the
    stream-resync scan."""
    h = payload[p]
    has_dev = bool(h & 0x20)
    local = h & 0xF
    if p + 6 > end:
        return None
    arch = payload[p + 2]
    endian = ">" if arch == 1 else "<"
    global_num = struct.unpack_from(endian + "H", payload, p + 3)[0]
    n_fields = payload[p + 5]
    if n_fields == 0:
        return None
    q = p + 6
    fields = []
    for _ in range(n_fields):
        if q + 3 > end:
            return None
        fields.append((payload[q], payload[q + 1], payload[q + 2], False, None))
        q += 3
    if has_dev:
        if q >= end:
            return None
        n_dev = payload[q]
        q += 1
        for _ in range(n_dev):
            if q + 3 > end:
                return None
            fields.append((payload[q], payload[q + 1], 0x0D, True, payload[q + 2]))
            q += 3
    d = {"endian": endian, "global": global_num, "fields": fields,
         "size": sum(f[1] for f in fields)}
    return local, d, q


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
        if parsed is not None:
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
    raw = _scalar(raw)
    if raw is None or not isinstance(raw, int):
        return None
    if raw == 0 or raw == 0xFFFFFFFF or not (1 <= raw <= FIT_TS_MAX):
        return None
    return pd.Timestamp(raw + FIT_EPOCH_UNIX, unit="s")


def _semi_deg(raw):
    raw = _scalar(raw)
    if raw is None or not isinstance(raw, int) or raw in (0x7FFFFFFF, -0x80000000):
        return None
    deg = raw * SEMI_TO_DEG
    return deg if abs(deg) <= 180.0 else None


def _num(raw):
    """Scalar numeric or None (never throws on lists/strings)."""
    raw = _scalar(raw)
    return raw if isinstance(raw, (int, float)) else None


INTEGRITY_MODES = ("strict", "report", "silent")

# Field numbers with dedicated handling per message; every other native
# numeric field is preserved raw (fit_parser.dart:1036-1089 — scalars into
# extra.{f}, arrays into extra_array.{f}) for lossless FIT -> FIT.
# Supersets of the reference sets: lap 8 (total_timer_time) and 25 (sport)
# surface as named attrs here instead of raw extras.
_SESSION_DEDICATED = frozenset(
    {253, 254, 5, 6, 7, 8, 9, 10, 11, 14, 15, 16, 17, 18, 19, 20, 21,
     41, 43, 44, 47}
)
_LAP_DEDICATED = frozenset(
    {253, 254, 0, 1, 2, 7, 8, 9, 11, 13, 14, 15, 16, 17, 18, 19, 20,
     25, 38, 40}
)


def _capture_extras(values: dict, dedicated: frozenset) -> tuple[dict, dict]:
    """(scalars {f: float}, arrays {f: [float]}) over non-dedicated native
    fields — fit_parser.dart _extraFitFields/_extraFitArrays. Null array
    elements (invalid sentinels / padding) are dropped."""
    scal: dict = {}
    arrs: dict = {}
    for f, v in values.items():
        if f in dedicated:
            continue
        if isinstance(v, (int, float)):
            scal[f] = float(v)
        elif isinstance(v, list):
            nums = [float(x) for x in v if isinstance(x, (int, float))]
            if nums:
                arrs[f] = nums
    return scal, arrs


def _num_str(v: float) -> str:
    """Integral floats print as ints (attr-map convention), else repr."""
    fv = float(v)
    return str(int(fv)) if fv.is_integer() else repr(fv)


# (field, attr suffix, scale) for the session (18) summary fields beyond
# sport/elapsed/timer/distance — fit_parser.dart:557-601
_SESSION_SUMMARY_FIELDS = (
    (10, "total_cycles", 1), (11, "calories", 1),
    (14, "avg_speed_mps", 1000), (15, "max_speed_mps", 1000),
    (16, "avg_hr", 1), (17, "max_hr", 1),
    (18, "avg_cadence", 1), (19, "max_cadence", 1),
    (20, "avg_power", 1), (21, "max_power", 1),
    (41, "avg_stroke_count", 10), (44, "pool_length_m", 100),
    (47, "num_active_lengths", 1),
)

# lap (19) summary fields beyond start/end/elapsed/timer/distance/sport —
# fit_parser.dart:620-656
_LAP_SUMMARY_FIELDS = (
    (0, "event", 1), (1, "event_type", 1), (11, "calories", 1),
    (13, "avg_speed_mps", 1000), (14, "max_speed_mps", 1000),
    (15, "avg_hr", 1), (16, "max_hr", 1),
    (17, "avg_cadence", 1), (18, "max_cadence", 1),
    (19, "avg_power", 1), (20, "max_power", 1),
    (40, "num_active_lengths", 1),
)



# Diagnostic metadata twin of the reference's ParseDiagnostic surface
# (fit_parser.dart: node path, suggestedFix, priority). Priorities mirror
# the reference exactly where the code exists there (0 = file-fatal,
# 1 = CRC verification, 2 = stream recovery, 3 = per-record recovery);
# fix text is paraphrased guidance, not copied.
_DIAG_META: dict[str, tuple[int, str]] = {
    "fit.header.too_short": (0, "The file is incomplete; re-export it from the source device."),
    "fit.header.bad_magic": (0, "Not a FIT payload; check the file or pass the correct format."),
    "fit.header.crc_mismatch": (1, "Re-export the file; if otherwise valid, parse with integrity='silent' to recover data."),
    "fit.trailer.truncated": (0, "The file is likely cut short; re-download and verify the full transfer."),
    "fit.trailer.crc_mismatch": (1, "Data may be corrupted; re-download, or parse with integrity='silent' for best-effort recovery."),
    "fit.def.truncated": (0, "Definition record cut mid-table; the file is truncated at this offset."),
    "fit.data.truncated": (0, "Data record extends past the payload; the file is truncated at this offset."),
    "fit.data.unknown_definition": (2, "Stream resynchronization was attempted; decoded data before and after the damage is kept."),
    "fit.data.unknown_definition.summary": (2, "Multiple unknown-definition messages were skipped during resynchronization."),
    "fit.data.resync_failed": (2, "No parseable definition found nearby; bytes are skipped one at a time."),
    "fit.record.missing_timestamp": (2, "The record has no timestamp and no usable context; it was skipped."),
    "fit.record.recovered_timestamp": (3, "A recent timestamp context was reused; verify ordering if precision matters."),
}


def _diag_attrs(code: str, severity: str, message: str) -> dict:
    """attrs map for one FIT parse diagnostic; adds the reference's
    priority + suggested-fix fields when the code is known, and the
    node path derived from the code prefix (fit.header / fit.trailer /
    fit.data / fit.record)."""
    attrs = {"code": code, "severity": severity, "message": message,
             "node": ".".join(code.split(".")[:2])}
    meta = _DIAG_META.get(code)
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
    dev_version = 0  # bumped on EVERY field_description (incl. overwrites)
    pos = hdr_size
    seq = 0
    lap_id = 0
    meta: dict[str, str] = {"format": "fit"}

    def parse_diag(code: str, message: str) -> None:
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
            has_dev = bool(hdr & 0x20)
            if pos + 5 > end:
                diag("fit.def.truncated", "error", f"at byte {pos}")
                break
            arch = payload[pos + 1]
            endian = ">" if arch == 1 else "<"
            global_num = struct.unpack_from(endian + "H", payload, pos + 2)[0]
            n_fields = payload[pos + 4]
            pos += 5
            fields = []
            ok = True
            for _ in range(n_fields):
                if pos + 3 > end:
                    ok = False
                    break
                fnum, fsize, btype = payload[pos], payload[pos + 1], payload[pos + 2]
                fields.append((fnum, fsize, btype, False, None))
                pos += 3
            if not ok:
                diag("fit.def.truncated", "error", "field table truncated")
                break
            if has_dev:
                if pos >= end:
                    diag("fit.def.truncated", "error", "dev field count missing")
                    break
                n_dev = payload[pos]
                pos += 1
                for _ in range(n_dev):
                    if pos + 3 > end:
                        ok = False
                        break
                    fnum, fsize, didx = payload[pos], payload[pos + 1], payload[pos + 2]
                    fields.append((fnum, fsize, 0x0D, True, didx))
                    pos += 3
                if not ok:
                    diag("fit.def.truncated", "error", "dev field table truncated")
                    break
            defs[local] = {"endian": endian, "global": global_num, "fields": fields,
                           "size": sum(f[1] for f in fields)}
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
        if not compressed and d["global"] == 20:
            # keyed on a registration VERSION, not len(dev_fields): a
            # field_description that re-registers an existing (didx, fnum)
            # with a new type/name must invalidate the cached plan
            if d.get("_plan_devv") != dev_version:
                d["_plan"] = _fast_plan(d, dev_fields)
                d["_plan_devv"] = dev_version
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
            if not is_dev:
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
                key = (didx, fnum)
                if key in dev_fields:
                    dev_values[key] = _decode_dev(dev_fields[key], raw, endian)
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
                and {253, 0, 1} <= {f[0] for f in d["fields"]}
            )
        if g == 20 or d["_fallback_rec"]:  # record
            ts = _fit_ts(values.get(253))
            if ts is None:
                # best-effort recovery (fit_parser.dart:355-380): reuse the
                # most recent timestamp context; only records with no
                # context at all are skipped (missing-timestamp diag)
                rec_raw = ctx["last_ts"].get(local, ctx["last_known"])
                if rec_raw is not None:
                    ts = pd.Timestamp(int(rec_raw) + FIT_EPOCH_UNIX, unit="s")
                    ctx["recovered"] += 1
                    if ctx["recovered"] <= 5:
                        parse_diag(
                            "fit.record.recovered_timestamp",
                            "Record timestamp missing; reused recent "
                            "timestamp context for best-effort extraction.",
                        )
                else:
                    parse_diag("fit.record.missing_timestamp",
                               "Record without timestamp skipped.")
                    continue
            lat = _semi_deg(values.get(0))
            lon = _semi_deg(values.get(1))
            if d["_fallback_rec"] and (lat is None or lon is None):
                continue  # heuristic records must carry a position
            ele = None
            alt_raw = _num(values.get(2))
            if alt_raw is not None:
                ele = alt_raw / 5.0 - 500.0
            if lat is not None and lon is not None:
                out.append({"activity_id": activity_id, "kind": "point",
                            "seq": seq, "ts": ts, "lat": lat, "lon": lon,
                            "ele": ele, "attrs": None})
                seq += 1
            chans = {
                "heart_rate": _num(values.get(3)),
                "cadence": _num(values.get(4)),
                "power": _num(values.get(7)),
                "temperature": _num(values.get(13)),
                "left_right_balance": _num(values.get(120)),
            }
            g78 = _num(values.get(78))
            if g78 is not None:
                chans["grade"] = g78 / 100.0
            sp = _num(values.get(6))
            if sp is not None:
                chans["speed"] = sp / 1000.0
            di = _num(values.get(5))
            if di is not None:
                chans["distance"] = di / 100.0
            # unknown native record fields -> fit_field_<n> channels
            # with raw values (fit_parser.dart:507-512)
            for fnum, fv in values.items():
                if fnum not in _RECORD_DEDICATED:
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
                if v is not None:
                    out.append({"activity_id": activity_id, "kind": "channel",
                                "channel": cname, "ts": ts, "value": float(v)})
            for key, v in dev_values.items():
                if v is not None:
                    desc = dev_fields[key]
                    fv = float(v)
                    # field_description scale/offset (spec formula
                    # raw / scale - offset; fit_parser.dart:490-496)
                    if desc.get("scale"):
                        fv = fv / desc["scale"]
                    if desc.get("offset"):
                        fv = fv - desc["offset"]
                    out.append({"activity_id": activity_id, "kind": "channel",
                                "channel": desc["channel"], "ts": ts,
                                "value": fv})
        elif g == 19:  # lap
            start = _fit_ts(values.get(2))
            end_ts = _fit_ts(values.get(253))
            attrs = {}
            if _num(values.get(7)) is not None:
                attrs["total_elapsed_s"] = repr(_num(values[7]) / 1000.0)
            if _num(values.get(8)) is not None:
                attrs["total_timer_s"] = repr(_num(values[8]) / 1000.0)
            for f, key, scale in _LAP_SUMMARY_FIELDS:
                v = _num(values.get(f))
                if v is not None:
                    attrs[key] = repr(v / scale) if scale != 1 else _num_str(v)
            stroke = _scalar(values.get(38))
            if isinstance(stroke, int):
                attrs["swim_stroke"] = str(stroke)
                if stroke in SWIM_STROKES:
                    attrs["swim_stroke_name"] = SWIM_STROKES[stroke]
            scal, arrs = _capture_extras(values, _LAP_DEDICATED)
            for f, v in scal.items():
                attrs[f"extra.{f}"] = _num_str(v)
            for f, vals in arrs.items():
                attrs[f"extra_array.{f}"] = ",".join(_num_str(x) for x in vals)
            dist = _num(values.get(9))
            out.append({"activity_id": activity_id, "kind": "lap", "lap_id": lap_id,
                        "start_ts": start, "end_ts": end_ts,
                        "distance_m": dist / 100.0 if dist is not None else None,
                        "sport": SPORTS.get(_scalar(values.get(25))),
                        "attrs": attrs or None})
            lap_id += 1
        elif g == 18:  # session
            # session count feeds lossy accounting (additional sessions are
            # only representable in FIT — facade.dart:352-360)
            meta["session.count"] = str(int(meta.get("session.count", "0")) + 1)
            sport = SPORTS.get(_scalar(values.get(5)))
            if sport:
                meta.setdefault("sport", sport)
            if _num(values.get(9)) is not None:
                meta.setdefault("session.total_distance_m", repr(_num(values[9]) / 100.0))
            if _num(values.get(7)) is not None:
                meta.setdefault("session.total_elapsed_s", repr(_num(values[7]) / 1000.0))
            if _num(values.get(8)) is not None:  # total_timer_time, scale 1000
                meta.setdefault("session.total_timer_s", repr(_num(values[8]) / 1000.0))
            # full summary surface (fit_parser.dart:557-601); first session
            # wins via setdefault (primarySessionSeen semantics)
            for f, key, scale in _SESSION_SUMMARY_FIELDS:
                v = _num(values.get(f))
                if v is not None:
                    meta.setdefault(
                        f"session.{key}",
                        repr(v / scale) if scale != 1 else _num_str(v),
                    )
            sub = _scalar(values.get(6))
            if isinstance(sub, int) and sub != 0:  # 0 = generic -> omitted
                meta.setdefault("session.sub_sport", str(sub))
            stroke = _scalar(values.get(43))
            if isinstance(stroke, int):
                meta.setdefault("session.swim_stroke", str(stroke))
                if stroke in SWIM_STROKES:
                    meta.setdefault("session.swim_stroke_name", SWIM_STROKES[stroke])
            scal, arrs = _capture_extras(values, _SESSION_DEDICATED)
            for f, v in scal.items():
                meta.setdefault(f"session.extra.{f}", _num_str(v))
            for f, vals in arrs.items():
                meta.setdefault(
                    f"session.extra_array.{f}", ",".join(_num_str(x) for x in vals)
                )
        elif g == 34:  # activity (fit_parser.dart:769-776)
            # The reference's case-34 handler decodes ONLY field 0
            # (total_timer_time, ms scale 1000) as a timer-time fallback —
            # the primary session's value wins regardless of message order
            # (fit_parser.dart:609-612, 773). num_sessions (1) and
            # local_timestamp (5, device-local FIT seconds; minus the UTC
            # timestamp 253 it yields the UTC offset) are surfaced as extra
            # activity.* attrs — a documented superset of the reference.
            if _num(values.get(0)) is not None:
                meta.setdefault("activity.total_timer_s", repr(_num(values[0]) / 1000.0))
            if _num(values.get(1)) is not None:
                meta.setdefault("activity.num_sessions", str(int(_num(values[1]))))
            ts_raw = _scalar(values.get(253))
            lt_raw = _scalar(values.get(5))
            if (isinstance(ts_raw, int) and isinstance(lt_raw, int)
                    and 1 <= ts_raw <= FIT_TS_MAX and 1 <= lt_raw <= FIT_TS_MAX):
                meta.setdefault("activity.local_ts_offset_s", str(lt_raw - ts_raw))
        elif g == 0:  # file_id (1 manufacturer, 2 product, 3 serial)
            if _scalar(values.get(1)) is not None:
                meta.setdefault("device.manufacturer", str(_scalar(values[1])))
            if _scalar(values.get(2)) is not None:
                meta.setdefault("device.product", str(_scalar(values[2])))
            if _num(values.get(3)) is not None:
                meta.setdefault("device.serial", str(int(_num(values[3]))))
        elif g == 21:  # event
            ts = _fit_ts(values.get(253))
            if ts is not None:
                out.append({"activity_id": activity_id, "kind": "channel",
                            "channel": "event", "ts": ts,
                            "value": float(_num(values.get(0)) or 0)})
        elif g == 23:  # device_info (fit_parser.dart:730-768)
            # device_index 0 is the recording head unit ("creator"); a
            # paired sensor (device_index != 0) must not overwrite its
            # identity. Messages without a device_index are treated as the
            # creator (some watches omit it). Later creator messages
            # OVERWRITE per-field (reference merges latest-non-null).
            dev_idx = _num(values.get(0))
            if dev_idx is None or int(dev_idx) == 0:
                if _scalar(values.get(2)) is not None:
                    meta["device.manufacturer"] = str(_scalar(values[2]))
                if _scalar(values.get(4)) is not None:
                    meta["device.product"] = str(_scalar(values[4]))
                if _num(values.get(3)) is not None:
                    meta["device.serial"] = str(int(_num(values[3])))
                if _num(values.get(5)) is not None:
                    meta["device.software_version"] = repr(
                        _num(values[5]) / 100.0  # scale 100 (G4)
                    )
                if _scalar(values.get(27)) is not None:
                    meta["device.product_name"] = str(_scalar(values[27]))
        elif g == 49:  # file_creator (fit_parser.dart:777-804)
            if _num(values.get(0)) is not None:
                meta.setdefault("creator.software_version", str(_num(values[0])))
            if _num(values.get(1)) is not None:
                meta.setdefault("creator.hardware_version", str(_num(values[1])))
        elif g == 101:  # swim length (fit_parser.dart:675-699)
            # profile fields: 253 timestamp(end), 2 start, 3 elapsed (ms),
            # 5 total_strokes, 6 avg_speed (scale 1000), 7 swim_stroke,
            # 12 length_type (0 idle / 1 active)
            start = _fit_ts(values.get(2))
            elapsed = _num(values.get(3))
            ts = _fit_ts(values.get(253))
            if ts is None and start is not None and elapsed is not None:
                # reference falls back to start + elapsed (fit_parser.dart:682-686)
                ts = start + pd.Timedelta(seconds=elapsed / 1000.0)
            attrs = {}
            if elapsed is not None:
                attrs["total_elapsed_s"] = repr(elapsed / 1000.0)
            if _num(values.get(5)) is not None:
                attrs["total_strokes"] = str(_num(values[5]))
            if _num(values.get(6)) is not None:
                attrs["avg_speed_mps"] = repr(_num(values[6]) / 1000.0)
            stroke = _scalar(values.get(7))
            if stroke is not None:
                attrs["swim_stroke"] = str(stroke)
                if stroke in SWIM_STROKES:
                    attrs["swim_stroke_name"] = SWIM_STROKES[stroke]
            ltype = _scalar(values.get(12))
            if ltype is not None:
                attrs["length_type"] = str(ltype)
            out.append({"activity_id": activity_id, "kind": "length",
                        "start_ts": start, "end_ts": ts, "attrs": attrs or None})
        elif g == 225:  # strength set (fit_parser.dart:700-729)
            # profile fields: 254 timestamp(end), 6 start, 0 duration (ms),
            # 5 set_type (0 rest / 1 active), 3 repetitions,
            # 4 weight (kg, scale 16), 7 category
            ts = _fit_ts(values.get(254, values.get(253)))
            start = _fit_ts(values.get(6))
            attrs = {}
            if _num(values.get(3)) is not None:
                attrs["repetitions"] = str(_num(values[3]))
            if _num(values.get(4)) is not None:
                attrs["weight_kg"] = repr(_num(values[4]) / 16.0)  # scale 16 (G4)
            if _num(values.get(0)) is not None:
                attrs["duration_s"] = repr(_num(values[0]) / 1000.0)
            if _num(values.get(5)) is not None:
                attrs["set_type"] = str(_num(values[5]))
            if _num(values.get(7)) is not None:
                attrs["category"] = str(_num(values[7]))
            out.append({"activity_id": activity_id, "kind": "set",
                        "start_ts": start, "end_ts": ts, "attrs": attrs or None})
        elif g == 206:  # developer field description
            didx = _scalar(values.get(0))
            fnum = _scalar(values.get(1))
            btype = _scalar(values.get(2))
            name = _scalar(values.get(3)) or f"fit_dev_{didx}_{fnum}"
            if didx is not None and fnum is not None:
                # scale (6) / offset (7) per the reference's gating
                # (fit_parser.dart:828-835): scale only when > 0 and != 1,
                # offset only when != 0
                scale = _num(values.get(6))
                offset = _num(values.get(7))
                dev_fields[(didx, fnum)] = {
                    "base_type": btype,
                    "channel": _sanitize_dev_name(str(name), didx, fnum),
                    "scale": float(scale) if scale is not None and scale > 0 and scale != 1 else None,
                    "offset": float(offset) if offset is not None and offset != 0 else None,
                }
                dev_version += 1
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


def _decode_dev(desc, raw: bytes, endian: str):
    bt = BASE_TYPES.get((desc.get("base_type") or 0x0D) & 0xFF)
    if bt is None:
        return None
    ch, unit, invalid = bt
    if ch == "s":
        return None
    if len(raw) < unit:
        return None
    v = struct.unpack_from(endian + ch, raw)[0]
    if invalid is not None and v == invalid:
        return None
    if isinstance(v, float) and v != v:
        return None  # NaN is the float invalid sentinel (absent dev value)
    return v


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


REC_DEF = [
    (253, 4, 0x86),  # timestamp uint32
    (0, 4, 0x85),    # lat sint32
    (1, 4, 0x85),    # lon sint32
    (2, 2, 0x84),    # altitude uint16
    (3, 1, 0x02),    # heart_rate uint8
    (4, 1, 0x02),    # cadence uint8
    (5, 4, 0x86),    # distance uint32
    (6, 2, 0x84),    # speed uint16
    (7, 2, 0x84),    # power uint16
    (13, 1, 0x01),   # temperature sint8
]

# full lap layout (fit_encoder.dart:261-320 writeLap order, re-ordered to
# keep this engine's historical prefix stable; 8/25 are supersets)
LAP_DEF = [
    (253, 4, 0x86),  # end timestamp
    (2, 4, 0x86),    # start_time
    (7, 4, 0x86),    # total_elapsed_time ms
    (8, 4, 0x86),    # total_timer_time ms
    (9, 4, 0x86),    # total_distance cm
    (25, 1, 0x00),   # sport enum
    (0, 1, 0x00),    # event
    (1, 1, 0x00),    # event_type
    (11, 2, 0x84),   # total_calories
    (13, 2, 0x84),   # avg_speed (scale 1000)
    (14, 2, 0x84),   # max_speed (scale 1000)
    (15, 1, 0x02),   # avg_heart_rate
    (16, 1, 0x02),   # max_heart_rate
    (17, 1, 0x02),   # avg_cadence
    (18, 1, 0x02),   # max_cadence
    (19, 2, 0x84),   # avg_power
    (20, 2, 0x84),   # max_power
    (38, 1, 0x00),   # swim_stroke enum
    (40, 2, 0x84),   # num_active_lengths
]

# full session summary layout (fit_encoder.dart:159-230 writeSession order,
# re-ordered to keep this engine's historical prefix stable): every field
# the parser reads back; absent values are invalid sentinels
SESSION_DEF = [
    (253, 4, 0x86),  # timestamp
    (5, 1, 0x00),    # sport enum
    (6, 1, 0x00),    # sub_sport enum
    (7, 4, 0x86),    # total_elapsed_time ms
    (8, 4, 0x86),    # total_timer_time ms
    (9, 4, 0x86),    # total_distance cm
    (10, 4, 0x86),   # total_cycles
    (11, 2, 0x84),   # total_calories
    (14, 2, 0x84),   # avg_speed (scale 1000)
    (15, 2, 0x84),   # max_speed (scale 1000)
    (16, 1, 0x02),   # avg_heart_rate
    (17, 1, 0x02),   # max_heart_rate
    (18, 1, 0x02),   # avg_cadence
    (19, 1, 0x02),   # max_cadence
    (20, 2, 0x84),   # avg_power
    (21, 2, 0x84),   # max_power
    (41, 2, 0x84),   # avg_stroke_count (scale 10)
    (43, 1, 0x00),   # swim_stroke enum
    (44, 2, 0x84),   # pool_length (m, scale 100)
    (47, 2, 0x84),   # num_active_lengths
]


# out-of-range values CLAMP below the invalid sentinel, mirroring the
# reference's write helpers (fit_encoder.dart:853-875 value.clamp(0,
# 0xFE/0xFFFE/0xFFFFFFFE)) — neither silent wrap-around nor a crash, and
# a clamped value can never alias "absent"
def _u8(v) -> int:
    return 0xFF if v is None else min(max(int(round(v)), 0), 0xFE)


def _u16(v) -> int:
    return 0xFFFF if v is None else min(max(int(round(v)), 0), 0xFFFE)


def _u32(v) -> int:
    return 0xFFFFFFFF if v is None else min(max(int(round(v)), 0), 0xFFFFFFFE)


def _i8(v) -> int:
    return 0x7F if v is None else min(max(int(round(v)), -0x80), 0x7E)


def _i32(v) -> int:
    return 0x7FFFFFFF if v is None else min(max(int(round(v)), -0x80000000), 0x7FFFFFFE)


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
    attrs = attrs or {}
    for f, signed in scal:
        v = attrs.get(f"{prefix}extra.{f}")
        try:
            iv = int(round(float(v))) if v is not None else None
        except (TypeError, ValueError):
            iv = None
        if signed:
            # full-range clamp per _writeRawInt32 (fit_encoder.dart:885-890)
            out += struct.pack(
                "<i",
                0x7FFFFFFF if iv is None
                else min(max(iv, -0x80000000), 0x7FFFFFFF),
            )
        else:
            out += struct.pack(
                "<I",
                0xFFFFFFFF if iv is None else min(max(iv, 0), 0xFFFFFFFF),
            )
    for f, n in arrs:
        v = attrs.get(f"{prefix}extra_array.{f}")
        vals: list = []
        if v is not None:
            try:
                vals = [int(round(float(x))) for x in str(v).split(",")]
            except (TypeError, ValueError):
                vals = []
        vals = (vals + [None] * n)[:n]
        for x in vals:
            out += struct.pack("<I", _u32(x))
    return bytes(out)

ACTIVITY_DEF = [
    (253, 4, 0x86),  # timestamp (UTC)
    (0, 4, 0x86),    # total_timer_time ms
    (1, 2, 0x84),    # num_sessions
    (5, 4, 0x86),    # local_timestamp (device-local FIT seconds)
]

LENGTH_DEF = [
    (253, 4, 0x86),  # timestamp (end)
    (2, 4, 0x86),    # start_time
    (3, 4, 0x86),    # total_elapsed_time ms
    (5, 2, 0x84),    # total_strokes
    (6, 2, 0x84),    # avg_speed (scale 1000)
    (7, 1, 0x00),    # swim_stroke
    (12, 1, 0x00),   # length_type (0 idle / 1 active)
]

SET_DEF = [
    (254, 4, 0x86),  # timestamp (set end)
    (6, 4, 0x86),    # start_time
    (0, 4, 0x86),    # duration ms
    (5, 1, 0x02),    # set_type (0 rest / 1 active)
    (3, 2, 0x84),    # repetitions
    (4, 2, 0x84),    # weight (kg, scale 16)
    (7, 2, 0x84),    # category
]

EVENT_DEF = [
    (253, 4, 0x86),  # timestamp
    (0, 1, 0x00),    # event
    (1, 1, 0x00),    # event_type
    (3, 4, 0x86),    # data
]

# channels with a native record-message field (everything else is re-emitted
# as a float64 developer field, matching fit_encoder.dart:473-516)
NATIVE_RECORD_CHANNELS = frozenset(
    {"heart_rate", "cadence", "power", "temperature", "speed", "distance"}
)

SPORT_IDS_INV = {v: k for k, v in SPORTS.items()}


def _fit_secs(ts) -> int:
    return int(pd.Timestamp(ts).timestamp()) - FIT_EPOCH_UNIX


def _fit_secs_or(ts, invalid: int = 0xFFFFFFFF) -> int:
    """NaT/None-safe FIT seconds (pandas nulls arrive as NaT through
    to_dict('records'), which `is not None` does not catch)."""
    if ts is None or pd.isna(ts):
        return invalid
    return _fit_secs(ts)


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


def _attr_num(attrs: dict | None, key: str):
    if not attrs or key not in attrs or attrs[key] is None:
        return None
    try:
        return float(attrs[key])
    except (TypeError, ValueError):
        return None


def _encode_prefix(
    body: bytearray, meta: dict, dev_channels: list[str], first_ts_raw: int
) -> None:
    """file_id -> session -> developer defs (207/206) -> record definition
    — the message prefix shared by the scalar and vectorized encoders."""

    def _meta_uint(key, invalid):
        try:
            v = int(float(meta[key]))
            return v if 0 <= v < invalid else invalid
        except (KeyError, TypeError, ValueError):
            return invalid

    # file_id: type, manufacturer, product
    body += _def_record(0, 0, [(0, 1, 0x00), (1, 2, 0x84), (2, 2, 0x84)])
    body += bytes([0x00, 4]) + struct.pack(
        "<HH",
        _meta_uint("device.manufacturer", 0xFFFF),
        _meta_uint("device.product", 0xFFFF),
    )

    # session: sport + the FULL activity summary (fit_encoder.dart:144-248
    # writeSession) + preserved raw extras — absent values are invalid
    # sentinels so they round-trip as null
    sport_id = SPORT_IDS_INV.get(meta.get("sport"), 0xFF)
    if sport_id != 0xFF or any(k.startswith("session.") for k in meta):
        def sc(key: str, k: float = 1.0):
            v = _attr_num(meta, "session." + key)
            return None if v is None else v * k

        scal, arrs = _extra_encode_plan([meta], prefix="session.")
        body += _def_record(8, 18, SESSION_DEF + _extra_def_fields(scal, arrs))
        body += bytes([0x08]) + struct.pack(
            "<IBBIIIIHHHBBBBHHHBHH",
            first_ts_raw,
            sport_id,
            _u8(sc("sub_sport")),
            _u32(sc("total_elapsed_s", 1000.0)),
            _u32(sc("total_timer_s", 1000.0)),
            _u32(sc("total_distance_m", 100.0)),
            _u32(sc("total_cycles")),
            _u16(sc("calories")),
            _u16(sc("avg_speed_mps", 1000.0)),
            _u16(sc("max_speed_mps", 1000.0)),
            _u8(sc("avg_hr")),
            _u8(sc("max_hr")),
            _u8(sc("avg_cadence")),
            _u8(sc("max_cadence")),
            _u16(sc("avg_power")),
            _u16(sc("max_power")),
            _u16(sc("avg_stroke_count", 10.0)),
            _u8(sc("swim_stroke")),
            _u16(sc("pool_length_m", 100.0)),
            _u16(sc("num_active_lengths")),
        ) + _extra_pack(meta, scal, arrs, prefix="session.")

    # developer-field descriptions must precede the record definition that
    # references them (fit_encoder.dart:479-516)
    if dev_channels:
        body += _def_record(6, 207, [(3, 1, 0x02)])  # developer_data_id
        body += bytes([0x06, 0])  # developer_data_index 0
        for i, name in enumerate(dev_channels):
            nb = utf8_truncate(name)  # G18: 63-byte cap at char boundary
            body += _def_record(
                7, 206,
                [(0, 1, 0x02), (1, 1, 0x02), (2, 1, 0x02), (3, len(nb) + 1, 0x07)],
            )
            body += bytes([0x07, 0, i, 0x89]) + nb + b"\x00"

    body += _def_record(
        1, 20, REC_DEF,
        dev_fields=[(i, 8, 0) for i in range(len(dev_channels))],
    )


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

    lengths = lengths or []
    sets = sets or []
    events = events or []
    meta = meta or {}

    # developer channels: every channel without a native record field,
    # in deterministic name order (write-back per fit_encoder.dart:477-516)
    dev_channels = sorted(
        {c for ch in channels_by_ts.values() for c in ch} - NATIVE_RECORD_CHANNELS
    )

    body = bytearray()
    _encode_prefix(
        body, meta, dev_channels,
        # _or variant: an all-NaT point list maps to the invalid sentinel,
        # matching the vectorized _encode_activity_pdf path byte-for-byte
        _fit_secs_or(points[0]["ts"]) if points else 0xFFFFFFFF,
    )
    for p in points:
        if p.get("ts") is None or pd.isna(p["ts"]):
            continue  # a record message is keyed by its timestamp
        ts_raw = _fit_secs(p["ts"])
        ch = channels_by_ts.get(_ts_key(p["ts"])) or {}
        lat = p.get("lat")
        lon = p.get("lon")
        lat_ok = lat is not None and lat == lat
        lon_ok = lon is not None and lon == lon
        # out-of-range values clamp (reference write helpers), never raise
        lat_semi = _i32(lat / SEMI_TO_DEG) if lat_ok else 0x7FFFFFFF
        lon_semi = _i32(lon / SEMI_TO_DEG) if lon_ok else 0x7FFFFFFF
        ele = p.get("ele")
        alt_raw = _u16((ele + 500.0) * 5.0) if ele is not None and ele == ele else 0xFFFF
        hr = _u8(ch.get("heart_rate")) if "heart_rate" in ch else 0xFF
        cad = _u8(ch.get("cadence")) if "cadence" in ch else 0xFF
        dist = _u32(ch["distance"] * 100.0) if "distance" in ch else 0xFFFFFFFF
        speed = _u16(ch["speed"] * 1000.0) if "speed" in ch else 0xFFFF
        power = _u16(ch.get("power")) if "power" in ch else 0xFFFF
        temp = _i8(ch.get("temperature")) if "temperature" in ch else 0x7F
        body += bytes([0x01]) + struct.pack(
            "<IiiHBBIHHb", ts_raw, lat_semi, lon_semi, alt_raw, hr, cad,
            dist, speed, power, temp,
        )
        for name in dev_channels:
            v = ch.get(name)
            body += struct.pack("<d", float(v) if v is not None else float("nan"))

    return _encode_suffix(
        body, laps, lengths, sets, events, meta,
        _fit_secs_or(points[-1]["ts"]) if points else 0xFFFFFFFF,
    )


def _encode_suffix(
    body: bytearray,
    laps: list[dict],
    lengths: list[dict],
    sets: list[dict],
    events: list[dict],
    meta: dict,
    last_ts_raw: int,
) -> bytes:
    """laps -> lengths -> sets -> events -> activity + header/CRC framing —
    the message suffix shared by the scalar and vectorized encoders."""
    if laps:
        lap_attr_maps = [lap.get("attrs") or {} for lap in laps]
        scal, arrs = _extra_encode_plan(lap_attr_maps)
        body += _def_record(2, 19, LAP_DEF + _extra_def_fields(scal, arrs))
        for lap, attrs in zip(laps, lap_attr_maps):
            s = _fit_secs_or(lap.get("start_ts"))
            e = _fit_secs_or(lap.get("end_ts"))
            el = _attr_num(attrs, "total_elapsed_s")
            if el is not None:
                elapsed_ms = int(round(el * 1000.0))
            else:
                elapsed_ms = (
                    max(0, (e - s) * 1000) if 0xFFFFFFFF not in (s, e) else 0xFFFFFFFF
                )
            dm = lap.get("distance_m")
            dist_cm = int(round(dm * 100.0)) if dm is not None and dm == dm else 0xFFFFFFFF

            def la(key: str, k: float = 1.0):
                v = _attr_num(attrs, key)
                return None if v is None else v * k

            body += bytes([0x02]) + struct.pack(
                "<IIIIIBBBHHHBBBBHHBH",
                e, s, elapsed_ms,
                _u32(la("total_timer_s", 1000.0)),
                dist_cm,
                SPORT_IDS_INV.get(lap.get("sport"), 0xFF),
                _u8(la("event")),
                _u8(la("event_type")),
                _u16(la("calories")),
                _u16(la("avg_speed_mps", 1000.0)),
                _u16(la("max_speed_mps", 1000.0)),
                _u8(la("avg_hr")),
                _u8(la("max_hr")),
                _u8(la("avg_cadence")),
                _u8(la("max_cadence")),
                _u16(la("avg_power")),
                _u16(la("max_power")),
                _u8(la("swim_stroke")),
                _u16(la("num_active_lengths")),
            ) + _extra_pack(attrs, scal, arrs)

    if lengths:
        body += _def_record(3, 101, LENGTH_DEF)
        for ln in lengths:
            a = ln.get("attrs") or {}
            elapsed = _attr_num(a, "total_elapsed_s")
            strokes = _attr_num(a, "total_strokes")
            avg_sp = _attr_num(a, "avg_speed_mps")
            stroke = a.get("swim_stroke")
            ltype = _attr_num(a, "length_type")
            body += bytes([0x03]) + struct.pack(
                "<IIIHHBB",
                _fit_secs_or(ln.get("end_ts")),
                _fit_secs_or(ln.get("start_ts")),
                int(round(elapsed * 1000.0)) if elapsed is not None else 0xFFFFFFFF,
                int(strokes) if strokes is not None else 0xFFFF,
                int(round(avg_sp * 1000.0)) if avg_sp is not None else 0xFFFF,
                int(stroke) if stroke is not None else 0xFF,
                int(ltype) if ltype is not None else 0xFF,
            )

    if sets:
        body += _def_record(4, 225, SET_DEF)
        for st in sets:
            a = st.get("attrs") or {}
            dur = _attr_num(a, "duration_s")
            stype = _attr_num(a, "set_type")
            reps = _attr_num(a, "repetitions")
            wkg = _attr_num(a, "weight_kg")
            cat = _attr_num(a, "category")
            body += bytes([0x04]) + struct.pack(
                "<IIIBHHH",
                _fit_secs_or(st.get("end_ts")),
                _fit_secs_or(st.get("start_ts")),
                int(round(dur * 1000.0)) if dur is not None else 0xFFFFFFFF,
                int(stype) if stype is not None else 0xFF,
                int(reps) if reps is not None else 0xFFFF,
                int(round(wkg * 16.0)) if wkg is not None else 0xFFFF,
                int(cat) if cat is not None else 0xFFFF,
            )

    if events:
        body += _def_record(5, 21, EVENT_DEF)
        for ev in events:
            if ev.get("ts") is None or pd.isna(ev["ts"]):
                continue
            v = ev.get("value")
            # event id is a 1-byte enum: null/NaN/out-of-range -> invalid
            # sentinel rather than a silently wrapped id
            eid = int(v) if (v is not None and v == v and 0 <= v <= 254) else 0xFF
            body += bytes([0x05]) + struct.pack(
                "<IBBI",
                _fit_secs(ev["ts"]),
                eid,
                0,  # event_type: start
                0xFFFFFFFF,
            )

    # activity (34) — re-emitted when decode surfaced activity.* attrs:
    # total_timer_time (the reference's timer fallback), num_sessions, and
    # local_timestamp (UTC ts + stored offset) round-trip losslessly
    act_timer = _attr_num(meta, "activity.total_timer_s")
    act_sessions = _attr_num(meta, "activity.num_sessions")
    act_offset = _attr_num(meta, "activity.local_ts_offset_s")
    if act_timer is not None or act_sessions is not None or act_offset is not None:
        ts_raw = last_ts_raw
        local_raw = (
            ts_raw + int(act_offset)
            if act_offset is not None and ts_raw != 0xFFFFFFFF
            else 0xFFFFFFFF
        )
        body += _def_record(9, 34, ACTIVITY_DEF)
        body += bytes([0x09]) + struct.pack(
            "<IIHI",
            ts_raw,
            int(round(act_timer * 1000.0)) if act_timer is not None else 0xFFFFFFFF,
            int(act_sessions) if act_sessions is not None else 0xFFFF,
            local_raw,
        )

    header = struct.pack("<BBHI4s", 14, 0x20, 2140, len(body), b".FIT")
    header += struct.pack("<H", fit_crc16(header))
    blob = header + bytes(body)
    return blob + struct.pack("<H", fit_crc16(blob))


def _record_block_vec(ts_raw: np.ndarray, cols: dict, dev_channels: list[str]) -> bytes:
    """Vectorized record-message block: one numpy structured array row per
    record (header byte + REC_DEF fields + float64 developer fields),
    written with a single ``.tobytes()`` instead of per-record struct.pack.
    Bit-identical to the scalar loop: same round-half-even, scales, and
    invalid sentinels. ``ts_raw``: int64 FIT seconds per record; ``cols``:
    float64 arrays (NaN = absent) keyed by lat/lon/ele/channel name."""
    n = len(ts_raw)
    dtype = np.dtype(
        [("h", "u1"), ("ts", "<u4"), ("lat", "<i4"), ("lon", "<i4"),
         ("alt", "<u2"), ("hr", "u1"), ("cad", "u1"), ("dist", "<u4"),
         ("speed", "<u2"), ("power", "<u2"), ("temp", "<i1")]
        + [(f"dv{i}", "<f8") for i in range(len(dev_channels))]
    )
    arr = np.zeros(n, dtype)
    arr["h"] = 0x01
    arr["ts"] = ts_raw

    _nan = np.full(n, np.nan)

    def scaled(name, scale, sentinel, lo, hi, pre=None):
        """Rounded+scaled with the reference's sentinel-preserving CLAMP
        (fit_encoder.dart:853-875) — numpy's unsafe cast would otherwise
        silently wrap out-of-range values where the scalar path clamps."""
        v = cols.get(name, _nan)
        if pre is not None:
            v = pre(v)
        return np.where(
            ~np.isnan(v),
            np.clip(np.round(v * scale), float(lo), float(hi)),
            float(sentinel),
        )

    arr["lat"] = scaled("lat", 1.0, 0x7FFFFFFF, -0x80000000, 0x7FFFFFFE,
                        pre=lambda v: v / SEMI_TO_DEG)
    arr["lon"] = scaled("lon", 1.0, 0x7FFFFFFF, -0x80000000, 0x7FFFFFFE,
                        pre=lambda v: v / SEMI_TO_DEG)
    arr["alt"] = scaled("ele", 1.0, 0xFFFF, 0, 0xFFFE,
                        pre=lambda v: (v + 500.0) * 5.0)
    arr["hr"] = scaled("heart_rate", 1.0, 0xFF, 0, 0xFE)
    arr["cad"] = scaled("cadence", 1.0, 0xFF, 0, 0xFE)
    arr["dist"] = scaled("distance", 100.0, 0xFFFFFFFF, 0, 0xFFFFFFFE)
    arr["speed"] = scaled("speed", 1000.0, 0xFFFF, 0, 0xFFFE)
    arr["power"] = scaled("power", 1.0, 0xFFFF, 0, 0xFFFE)
    arr["temp"] = scaled("temperature", 1.0, 0x7F, -0x80, 0x7E)
    for i, name in enumerate(dev_channels):
        arr[f"dv{i}"] = cols.get(name, _nan)  # NaN = absent (round-trips null)
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
    if len(idx) == 0:
        return []
    series = [masked[c][idx] for c in cols]
    lists = [s.tolist() for s in series]
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
    ts_all = _ts_us(col["ts"])  # NaT -> INT64_MIN
    events: list[dict]
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
        dev_channels = [c for c in uniq if c not in NATIVE_RECORD_CHANNELS]
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
    lap_cols = ["lap_id", "start_ts", "end_ts", "distance_m", "sport"]
    span_cols = ["start_ts", "end_ts", "attrs"]
    laps = _span_records(
        masked, sorted_kind_idx(pdf, kind, "lap", ["lap_id", "start_ts"]), lap_cols
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
        first_raw = last_raw = 0xFFFFFFFF
    _encode_prefix(body, meta, dev_channels, first_raw)
    if len(p_ts):
        cols = dict(ch_cols)
        for c in ("lat", "lon", "ele"):
            cols[c] = col[c].to_numpy(dtype=np.float64)[p_idx]
        body += _record_block_vec(ts_raw, cols, dev_channels)
    return _encode_suffix(body, laps, lengths, sets, events, meta, last_raw)


def fit_encode_records(records: DataFrame) -> DataFrame:
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

    return grouped_apply(records, "activity_id", kernel, "activity_id string, payload binary")
