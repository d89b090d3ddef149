"""TCX source + sink.

Parser semantics from the reference (lib/src/parse/tcx_parser.dart):
- multi-<Activity> documents merge into one stream with per-lap sport
  (tcx_parser.dart:71-105)
- lap stats: TotalTimeSeconds, DistanceMeters, Calories, HR wrappers
  (Average/MaximumHeartRateBpm/Value), intensity (tcx_parser.dart:152-177)
- trackpoint channels: HeartRateBpm/Value -> heart_rate, Cadence -> cadence,
  DistanceMeters -> distance; <Extensions><TPX> Speed -> speed,
  Watts -> power, RunCadence -> cadence (tcx_parser.dart:342-364)
- Creator name/product/version -> device metadata (tcx_parser.dart:448-520)

Encoder (lib/src/encode/tcx_encoder.dart): per-lap <Lap> blocks with the
lap's trackpoint window inside <Track> (interval containment join,
tcx_encoder.dart:187-191); laps regroup into per-sport <Activity> blocks
for multisport (tcx_encoder.dart:457-468).
"""

from __future__ import annotations

import io
import xml.etree.ElementTree as ET
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame

from activity_files_spark.sources.gpx import _local, _parse_time, _xml_escape

TPX_TCX_CHANNELS = {"speed": "speed", "watts": "power", "runcadence": "cadence"}
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.kernels import Kernel


def _child_text(el, name: str) -> str | None:
    for c in el:
        if _local(c.tag) == name:
            return c.text
    return None


def _wrapped_value(el, name: str) -> float | None:
    """<Name><Value>x</Value></Name> pattern (HR wrappers)."""
    for c in el:
        if _local(c.tag) == name:
            v = _child_text(c, "value")
            if v is not None:
                try:
                    return float(v)
                except ValueError:
                    return None
    return None


def parse_tcx(activity_id: str, xml: str) -> list[dict]:
    out: list[dict] = []
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as e:
        out.append(
            {"activity_id": activity_id, "kind": "diag",
             "attrs": {"code": "parse.tcx.malformed", "severity": "error", "message": str(e)}}
        )
        return out

    meta: dict[str, str] = {"format": "tcx"}
    seq = 0
    lap_id = 0
    for activity in root.iter():
        if _local(activity.tag) != "activity":
            continue
        sport = (activity.get("Sport") or activity.get("sport") or "").lower() or None
        if sport and "sport" not in meta:
            meta["sport"] = sport
        for el in activity:
            tag = _local(el.tag)
            if tag == "id" and el.text:
                meta.setdefault("tcx.id", el.text.strip())
            elif tag == "creator":
                for c in el:
                    ctag = _local(c.tag)
                    if ctag in ("name", "unitid", "productid") and c.text:
                        meta.setdefault(f"device.{ctag}", c.text.strip())
            elif tag == "lap":
                start = _parse_time(el.get("StartTime") or el.get("starttime"))
                stats: dict[str, str] = {}
                end = None
                total_s = _child_text(el, "totaltimeseconds")
                dist = _child_text(el, "distancemeters")
                cal = _child_text(el, "calories")
                if total_s:
                    stats["total_time_s"] = total_s.strip()
                    if start is not None:
                        try:
                            end = start + pd.Timedelta(seconds=float(total_s))
                        except ValueError:
                            pass
                if cal:
                    stats["calories"] = cal.strip()
                avg_hr = _wrapped_value(el, "averageheartratebpm")
                max_hr = _wrapped_value(el, "maximumheartratebpm")
                if avg_hr is not None:
                    stats["avg_hr"] = repr(avg_hr)
                if max_hr is not None:
                    stats["max_hr"] = repr(max_hr)
                intensity = _child_text(el, "intensity")
                if intensity:
                    stats["intensity"] = intensity.strip()

                pts_ts = []
                for track in el:
                    if _local(track.tag) != "track":
                        continue
                    for tp in track:
                        if _local(tp.tag) != "trackpoint":
                            continue
                        rec, chans = _parse_trackpoint(activity_id, tp, seq)
                        if rec is not None:
                            out.append(rec)
                            pts_ts.append(rec["ts"])
                            seq += 1
                        out.extend(chans)
                real_end = end or (pts_ts[-1] if pts_ts else None)
                out.append(
                    {"activity_id": activity_id, "kind": "lap", "lap_id": lap_id,
                     "start_ts": start, "end_ts": real_end,
                     "distance_m": float(dist) if dist else None,
                     "sport": sport, "attrs": stats or None}
                )
                lap_id += 1
    out.append({"activity_id": activity_id, "kind": "meta",
                "sport": meta.get("sport"), "attrs": meta})
    return out


def _parse_trackpoint(activity_id: str, tp, seq: int):
    ts = None
    lat = lon = ele = None
    chans: list[dict] = []
    for c in tp:
        tag = _local(c.tag)
        if tag == "time" and c.text:
            ts = _parse_time(c.text)
        elif tag == "position":
            la = _child_text(c, "latitudedegrees")
            lo = _child_text(c, "longitudedegrees")
            try:
                lat = float(la) if la else None
                lon = float(lo) if lo else None
            except ValueError:
                pass
        elif tag == "altitudemeters" and c.text:
            try:
                ele = float(c.text)
            except ValueError:
                pass
    if ts is None:
        return None, chans
    # channels (need ts first)
    for c in tp:
        tag = _local(c.tag)
        if tag == "heartratebpm":
            v = _child_text(c, "value")
            if v:
                chans.append(_ch(activity_id, "heart_rate", ts, v))
        elif tag == "cadence" and c.text:
            chans.append(_ch(activity_id, "cadence", ts, c.text))
        elif tag == "distancemeters" and c.text:
            chans.append(_ch(activity_id, "distance", ts, c.text))
        elif tag == "extensions":
            for node in c.iter():
                ntag = _local(node.tag)
                if ntag in TPX_TCX_CHANNELS and node.text:
                    chans.append(_ch(activity_id, TPX_TCX_CHANNELS[ntag], ts, node.text))
    chans = [c for c in chans if c is not None]
    if lat is None and lon is None and ele is None:
        # channel-only trackpoint (no position) — still a point in the
        # reference if it has a timestamp? No: reference keeps points only
        # with position; channels are independent streams.
        return None, chans
    rec = {"activity_id": activity_id, "kind": "point", "seq": seq, "ts": ts,
           "lat": lat, "lon": lon, "ele": ele, "attrs": None}
    return rec, chans


def _ch(activity_id: str, channel: str, ts, text: str) -> dict | None:
    try:
        return {"activity_id": activity_id, "kind": "channel",
                "channel": channel, "ts": ts, "value": float(text)}
    except ValueError:
        return None


# ------------------------------------------------------------------ encoder

def encode_tcx(points, channels_by_ts, laps, sport: str = "Running",
               version: str = "2") -> str:
    """points sorted; channels_by_ts: iso-ts -> {channel: value}; laps:
    dicts(start_ts, end_ts, distance_m, attrs). Points feed the lap whose
    interval contains them (tcx_encoder.dart:187-191). ``version`` selects
    the TCX schema dialect — "2" (default) or "1", which swaps the
    TrainingCenterDatabase namespace/schemaLocation pair
    (encoder_options.dart TcxVersion; tcx_encoder.dart:18-67)."""
    from activity_files_spark.sources.gpx import _iso, _ts_key

    ns = f"http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v{version}"
    xsd = f"http://www.garmin.com/xmlschemas/TrainingCenterDatabasev{version}.xsd"
    buf = io.StringIO()
    buf.write('<?xml version="1.0" encoding="UTF-8"?>\n')
    buf.write(
        f'<TrainingCenterDatabase xmlns="{ns}"'
        f' xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
        f' xsi:schemaLocation="{ns} {xsd}">\n'
        "  <Activities>\n"
    )
    buf.write(f'    <Activity Sport="{_xml_escape(sport.capitalize())}">\n')
    if points:
        buf.write(f"      <Id>{_iso(points[0]['ts'])}</Id>\n")
    if not laps and points:
        laps = [{"start_ts": points[0]["ts"], "end_ts": points[-1]["ts"], "distance_m": None}]
    for lap in laps:
        s, e = pd.Timestamp(lap["start_ts"]), pd.Timestamp(lap["end_ts"])
        buf.write(f'      <Lap StartTime="{_iso(s)}">\n')
        buf.write(f"        <TotalTimeSeconds>{(e - s).total_seconds():g}</TotalTimeSeconds>\n")
        if lap.get("distance_m") is not None and lap["distance_m"] == lap["distance_m"]:
            buf.write(f"        <DistanceMeters>{lap['distance_m']:g}</DistanceMeters>\n")
        buf.write("        <Track>\n")
        for p in points:
            t = pd.Timestamp(p["ts"])
            if not (s <= t <= e):
                continue
            buf.write(f"          <Trackpoint>\n            <Time>{_iso(t)}</Time>\n")
            if p.get("lat") is not None and p["lat"] == p["lat"]:
                buf.write(
                    "            <Position>"
                    f"<LatitudeDegrees>{p['lat']:.6f}</LatitudeDegrees>"
                    f"<LongitudeDegrees>{p['lon']:.6f}</LongitudeDegrees>"
                    "</Position>\n"
                )
            if p.get("ele") is not None and p["ele"] == p["ele"]:
                buf.write(f"            <AltitudeMeters>{p['ele']:.2f}</AltitudeMeters>\n")
            ch = channels_by_ts.get(_ts_key(p["ts"])) or {}
            if "distance" in ch:
                buf.write(f"            <DistanceMeters>{ch['distance']:g}</DistanceMeters>\n")
            if "heart_rate" in ch:
                buf.write(
                    f"            <HeartRateBpm><Value>{int(round(ch['heart_rate']))}</Value></HeartRateBpm>\n"
                )
            if "cadence" in ch:
                buf.write(f"            <Cadence>{int(round(ch['cadence']))}</Cadence>\n")
            tpx = {k: v for k, v in ch.items() if k in ("speed", "power")}
            if tpx:
                buf.write('            <Extensions><TPX xmlns="http://www.garmin.com/xmlschemas/ActivityExtension/v2">')
                if "speed" in tpx:
                    buf.write(f"<Speed>{tpx['speed']:g}</Speed>")
                if "power" in tpx:
                    buf.write(f"<Watts>{int(round(tpx['power']))}</Watts>")
                buf.write("</TPX></Extensions>\n")
            buf.write("          </Trackpoint>\n")
        buf.write("        </Track>\n      </Lap>\n")
    buf.write("    </Activity>\n  </Activities>\n</TrainingCenterDatabase>\n")
    return buf.getvalue()


def tcx_encode_records(
    records: DataFrame, sport: str = "Running", version: str = "2",
    then: Sequence[Kernel] = (),
) -> DataFrame:
    """Unified record stream (RECORD_SCHEMA) -> per-activity TCX documents:
    points, channels and laps; other record kinds are ignored."""
    from activity_files_spark.sources.gpx import _ts_key
    from activity_files_spark.sources.records import (
        channel_map,
        sorted_kind_idx,
        take_records,
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        kind = pdf["kind"].to_numpy()
        pts = take_records(
            pdf, sorted_kind_idx(pdf, kind, "point", ["ts"]),
            ["ts", "lat", "lon", "ele"],
        )
        chmap = channel_map(pdf, kind, _ts_key)
        lp = take_records(
            pdf, sorted_kind_idx(pdf, kind, "lap", ["start_ts"]),
            ["start_ts", "end_ts", "distance_m"],
        )
        xml = encode_tcx(pts, chmap, lp, sport=sport, version=version)
        return pd.DataFrame([{"activity_id": pdf["activity_id"].iloc[0], "xml": xml}])

    # ship only the fields the kernel reads: every unused stream column
    # (null or not) still pays the Arrow -> pandas conversion per row
    used = records.select(
        "activity_id", "kind", "ts", "lat", "lon", "ele", "channel", "value",
        "start_ts", "end_ts", "distance_m",
    )
    return grouped_apply(used, "activity_id", kernel, "activity_id string, xml string", then)
