"""GPX source + sink.

Parser semantics from the reference (lib/src/parse/gpx_parser.dart):
- Garmin TrackPointExtension tags become channels with normalized names
  (gpx_parser.dart:34-46): hr -> heart_rate, cad -> cadence,
  atemp -> temperature, power -> power, speed -> speed; unknown numeric
  extension tags become custom channels keyed by lowercased tag name
  (gpx_parser.dart:283-289).
- each <trkseg> yields a synthetic lap with haversine distance
  (gpx_parser.dart:148-329).
- waypoints preserved (gpx_parser.dart:364-403); multi-<trk> tracks
  concatenated with a track meta record (gpx_parser.dart:351-429).
- trkpt attributes/children beyond lat/lon/ele/time preserved in attrs.
- parser never throws on malformed points: bad rows become diag records
  (parse_result.dart:69-100).

Encoder semantics from lib/src/encode/gpx_encoder.dart: GPX 1.1 skeleton,
TrackPointExtension channel columns via exact-ts join, coordinate rounding
lat/lon 6 dp, ele 2 dp (gpx_encoder.dart:394-429), ISO-8601 UTC times.

Spark shape: one file = one row into the mapInPandas kernel; the XML work
is per-file python (files are small; the reference caps payloads at 64 MB),
the Spark boundary is Arrow batches of flat records.
"""

from __future__ import annotations

import io
import json
import math
import xml.etree.ElementTree as ET
from collections.abc import Sequence
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame

from activity_files_spark.functions.geo import haversine_m_py

# gpx_parser.dart:34-46 — TrackPointExtension tag -> channel id
TPX_CHANNELS = {
    "hr": "heart_rate",
    "heartrate": "heart_rate",
    "cad": "cadence",
    "cadence": "cadence",
    "atemp": "temperature",
    "temp": "temperature",
    "power": "power",
    "speed": "speed",
    "course": "course",
    "depth": "depth",
}
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.kernels import Kernel


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def _split_tag(tag: str) -> tuple[str | None, str]:
    """ElementTree '{uri}local' -> (uri, local); prefixes are not
    recoverable from ET, so the namespace URI is what round-trips
    (models.dart:978-1026 keeps prefix+uri; URI is the semantic part)."""
    if tag.startswith("{"):
        uri, local = tag[1:].split("}", 1)
        return uri, local
    return None, tag


def _ext_node(el) -> dict:
    """One extension element -> JSON-able node (gpx_parser.dart:570-596):
    name, namespace uri, attributes, trimmed text, children (recursive)."""
    ns, local = _split_tag(el.tag)
    d: dict = {"name": local}
    if ns:
        d["ns"] = ns
    attrs = {_split_tag(k)[1]: v for k, v in el.attrib.items()}
    if attrs:
        d["attrs"] = attrs
    txt = (el.text or "").strip()
    if txt:
        d["value"] = txt
    kids = [_ext_node(c) for c in el]
    if kids:
        d["children"] = kids
    return d


def _ext_tree_json(nodes: list) -> str | None:
    """Serialize preserved extension subtrees to a JSON attr value."""
    trees = [_ext_node(n) for n in nodes]
    return json.dumps(trees, separators=(",", ":"), sort_keys=True) if trees else None


def _parse_time(s: str | None):
    if not s:
        return None
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    try:
        dt = datetime.fromisoformat(s)
    except ValueError:
        return None
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def parse_gpx(activity_id: str, xml: str) -> list[dict]:
    """One GPX document -> flat record dicts (see records.py)."""
    out: list[dict] = []
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as e:
        out.append(
            {"activity_id": activity_id, "kind": "diag",
             "attrs": {"code": "parse.gpx.malformed", "severity": "error", "message": str(e)}}
        )
        return out

    meta: dict[str, str] = {"format": "gpx"}
    for k in ("version", "creator"):
        if root.get(k):
            meta[k] = root.get(k)

    seq = 0
    lap_id = 0
    wseq = 0
    route_id = 0
    for el in root:
        tag = _local(el.tag)
        if tag == "metadata":
            for child in el:
                ctag = _local(child.tag)
                if ctag in ("name", "desc", "time") and child.text:
                    meta[f"metadata.{ctag}"] = child.text.strip()
                elif ctag == "extensions":
                    j = _ext_tree_json(list(child))
                    if j:
                        meta["metadata.extensions_json"] = j
        elif tag == "wpt":
            rec = _point_record(activity_id, el, wseq, kind="waypoint")
            if rec:
                out.append(rec)
                wseq += 1
        elif tag == "rte":
            # routes are planned geometry, preserved as structured data with
            # their name/metadata rather than folded into the track
            # (gpx_parser.dart:364-403)
            rmeta: dict[str, str] = {}
            rseq = 0
            for child in el:
                ctag = _local(child.tag)
                if ctag == "rtept":
                    rec = _point_record(activity_id, child, rseq, kind="route_point")
                    if rec is None:
                        out.append(
                            {"activity_id": activity_id, "kind": "diag",
                             "attrs": {"code": "parse.gpx.bad_route_point",
                                       "severity": "warning",
                                       "message": f"rte #{route_id} rtept #{rseq}"}}
                        )
                        continue
                    rec["lap_id"] = route_id
                    out.append(rec)
                    rseq += 1
                elif ctag == "extensions":
                    j = _ext_tree_json(list(child))
                    if j:
                        rmeta["extensions_json"] = j
                elif child.text and child.text.strip():
                    rmeta[ctag] = child.text.strip()
            out.append({"activity_id": activity_id, "kind": "route",
                        "lap_id": route_id, "attrs": rmeta or None})
            route_id += 1
        elif tag == "trk":
            # track count feeds lossy accounting (single-track targets
            # flatten additional <trk> elements — facade.dart:317-327)
            meta["track.count"] = str(int(meta.get("track.count", "0")) + 1)
            trk_meta = {}
            for child in el:
                ctag = _local(child.tag)
                if ctag in ("name", "type", "desc") and child.text:
                    trk_meta[ctag] = child.text.strip()
                if ctag == "extensions":
                    j = _ext_tree_json(list(child))
                    if j:
                        trk_meta["extensions_json"] = j
                if ctag == "trkseg":
                    seg_pts = []
                    for pt in child:
                        if _local(pt.tag) != "trkpt":
                            continue
                        rec = _point_record(activity_id, pt, seq, kind="point")
                        if rec is None:
                            out.append(
                                {"activity_id": activity_id, "kind": "diag",
                                 "attrs": {"code": "parse.gpx.bad_point",
                                           "severity": "warning",
                                           "message": f"trkpt #{seq} unparseable"}}
                            )
                            continue
                        chan_recs, leftover = _channel_records(activity_id, pt, rec["ts"])
                        if leftover:
                            rec["attrs"] = dict(rec["attrs"] or {})
                            rec["attrs"]["extensions_json"] = leftover
                        out.append(rec)
                        out.extend(chan_recs)
                        seg_pts.append(rec)
                        seq += 1
                    if seg_pts:
                        dist = 0.0
                        for a, b in zip(seg_pts, seg_pts[1:]):
                            if None not in (a["lat"], a["lon"], b["lat"], b["lon"]):
                                dist += haversine_m_py(a["lat"], a["lon"], b["lat"], b["lon"])
                        out.append(
                            {"activity_id": activity_id, "kind": "lap", "lap_id": lap_id,
                             "start_ts": seg_pts[0]["ts"], "end_ts": seg_pts[-1]["ts"],
                             "distance_m": dist, "sport": trk_meta.get("type"),
                             # "Segment N" marks a synthetic trkseg lap
                             # (gpx_parser.dart:326) — the auto-fix pipeline's
                             # placeholder detection keys on this name
                             "attrs": {"source": "trkseg",
                                       "name": f"Segment {lap_id + 1}"}}
                        )
                        lap_id += 1
            if trk_meta:
                for k, v in trk_meta.items():
                    meta.setdefault(f"trk.{k}", v)

    sport = meta.get("trk.type")
    out.append({"activity_id": activity_id, "kind": "meta", "sport": sport, "attrs": meta})
    return out


def _point_record(activity_id: str, el, seq: int, kind: str) -> dict | None:
    try:
        lat = float(el.get("lat"))
        lon = float(el.get("lon"))
    except (TypeError, ValueError):
        return None
    ele = None
    ts = None
    attrs = {}
    for child in el:
        ctag = _local(child.tag)
        if ctag == "ele" and child.text:
            try:
                ele = float(child.text)
            except ValueError:
                pass
        elif ctag == "time" and child.text:
            ts = _parse_time(child.text)
        elif ctag in ("hdop", "vdop", "pdop", "sat", "fix", "name", "desc", "sym", "cmt") and child.text:
            attrs[ctag] = child.text.strip()
    return {
        "activity_id": activity_id, "kind": kind, "seq": seq, "ts": ts,
        "lat": lat, "lon": lon, "ele": ele, "attrs": attrs or None,
    }


def _channel_records(activity_id: str, pt, ts) -> tuple[list[dict], str | None]:
    """Extension children of a trkpt -> (channel records, leftover JSON).

    TrackPointExtension subtrees and simple numeric tags are *consumed* as
    channels (gpx_parser.dart:34-46, 283-289); everything else (vendor
    subtrees, non-numeric values) is preserved losslessly as a serialized
    extension tree so encode can re-emit it (gpx_parser.dart:561-596)."""
    recs: list[dict] = []
    leftover_nodes: list = []
    for ext in pt:
        if _local(ext.tag) != "extensions":
            continue
        for child in ext:
            ctag = _local(child.tag)
            if ctag == "trackpointextension":
                # direct TPX children: numeric leaves are consumed as
                # channels; anything else (non-numeric leaf OR a nested
                # subtree) is preserved WHOLE so its ancestor structure
                # survives the round trip
                for node in child:
                    tag = _local(node.tag)
                    val = _num_text(node) if not len(node) else None
                    if ts is not None and val is not None:
                        recs.append(
                            {"activity_id": activity_id, "kind": "channel",
                             "channel": TPX_CHANNELS.get(tag, tag), "ts": ts,
                             "value": val}
                        )
                    else:
                        leftover_nodes.append(node)
            else:
                val = _num_text(child) if not len(child) else None
                if ts is not None and val is not None:
                    # unknown numeric extension tag -> custom channel
                    recs.append(
                        {"activity_id": activity_id, "kind": "channel",
                         "channel": TPX_CHANNELS.get(ctag, ctag), "ts": ts,
                         "value": val}
                    )
                else:
                    leftover_nodes.append(child)
    return recs, _ext_tree_json(leftover_nodes)


def _num_text(node) -> float | None:
    if node.text is None:
        return None
    txt = node.text.strip()
    if not txt:
        return None
    try:
        return float(txt)
    except ValueError:
        return None


# ------------------------------------------------------------------ encoder

_CHANNEL_TO_TPX = {
    "heart_rate": "hr",
    "cadence": "cad",
    "temperature": "atemp",
}


GPX_NAMESPACES = {
    "1.1": "http://www.topografix.com/GPX/1/1",
    "1.0": "http://www.topografix.com/GPX/1/0",
}


def _ext_xml(node: dict, pad: str, parent_ns: str | None) -> str:
    """Re-serialize one preserved extension node (inverse of _ext_node).

    Namespace URIs re-emit as default xmlns declarations whenever the node's
    namespace differs from its parent's (including xmlns="" to escape an
    inherited default) — prefix spelling is not preserved, the URI is."""
    name = node["name"]
    ns = node.get("ns")
    nsattr = ""
    if ns != parent_ns:
        nsattr = f' xmlns="{_xml_escape(ns or "")}"'
    attrs = "".join(
        f' {k}="{_xml_escape(str(v))}"' for k, v in sorted((node.get("attrs") or {}).items())
    )
    kids = node.get("children") or []
    val = node.get("value")
    if not kids and val is None:
        return f"{pad}<{name}{nsattr}{attrs}/>\n"
    s = f"{pad}<{name}{nsattr}{attrs}>"
    if val is not None:
        s += _xml_escape(str(val))
    if kids:
        s += "\n" + "".join(_ext_xml(k, pad + "  ", ns) for k in kids) + pad
    return s + f"</{name}>\n"


def _ext_json_xml(ext_json: str | None, pad: str, parent_ns: str | None) -> str:
    if not ext_json:
        return ""
    try:
        nodes = json.loads(ext_json)
    except (ValueError, TypeError):
        return ""
    return "".join(_ext_xml(n, pad, parent_ns) for n in nodes)


def encode_gpx(
    points: list[dict],
    channels: dict[tuple, dict[str, float]],
    meta: dict | None = None,
    waypoints: list[dict] | None = None,
    routes: list[dict] | None = None,
    version: str = "1.1",
    coord_dp: int = 6,
    ele_dp: int = 2,
) -> str:
    """points: sorted dicts(seq, ts, lat, lon, ele, attrs); channels keyed by
    ts -> {channel: value} (exact-ts association, encoder_utils.dart:9-19).

    Options mirror the reference encoder options (encoder_options.dart:11-42):
    GPX 1.0/1.1 dialect, coordinate precision (default 6 dp), elevation
    precision (default 2 dp); document order is wpt, rte, trk per the GPX
    schema (gpx_encoder.dart). routes: [{attrs: {name, ...meta,
    extensions_json}, points: [point dicts]}] (gpx_parser.dart:364-403).
    Preserved extension trees (``extensions_json`` attrs on points, routes,
    trk./metadata. meta keys) are re-serialized losslessly."""
    meta = meta or {}
    gpx_ns = GPX_NAMESPACES.get(version, GPX_NAMESPACES["1.1"])
    buf = io.StringIO()
    buf.write('<?xml version="1.0" encoding="UTF-8"?>\n')
    tpx_ns = (
        ' xmlns:gpxtpx="http://www.garmin.com/xmlschemas/TrackPointExtension/v1"'
        if version == "1.1"
        else ""
    )
    buf.write(
        '<gpx version="{}" creator="{}" xmlns="{}"{}>\n'.format(
            version, meta.get("creator", "activity_files_spark"), gpx_ns, tpx_ns
        )
    )
    if meta.get("metadata.extensions_json"):
        buf.write("  <metadata>\n    <extensions>\n")
        buf.write(_ext_json_xml(meta["metadata.extensions_json"], "      ", gpx_ns))
        buf.write("    </extensions>\n  </metadata>\n")
    for wp in waypoints or []:
        buf.write(
            f'  <wpt lat="{wp["lat"]:.{coord_dp}f}" lon="{wp["lon"]:.{coord_dp}f}">\n'
        )
        if wp.get("ele") is not None and wp["ele"] == wp["ele"]:
            buf.write(f"    <ele>{wp['ele']:.{ele_dp}f}</ele>\n")
        if _has_ts(wp.get("ts")):
            buf.write(f"    <time>{_iso(wp['ts'])}</time>\n")
        for k in ("name", "desc", "sym"):
            v = (wp.get("attrs") or {}).get(k)
            if v:
                buf.write(f"    <{k}>{_xml_escape(v)}</{k}>\n")
        buf.write("  </wpt>\n")
    for rt in routes or []:
        rmeta = dict(rt.get("attrs") or {})
        buf.write("  <rte>\n")
        for k in sorted(rmeta):
            if k == "extensions_json":
                continue
            buf.write(f"    <{k}>{_xml_escape(rmeta[k])}</{k}>\n")
        if rmeta.get("extensions_json"):
            buf.write("    <extensions>\n")
            buf.write(_ext_json_xml(rmeta["extensions_json"], "      ", gpx_ns))
            buf.write("    </extensions>\n")
        for p in rt.get("points") or []:
            buf.write(
                f'    <rtept lat="{p["lat"]:.{coord_dp}f}" lon="{p["lon"]:.{coord_dp}f}">\n'
            )
            if p.get("ele") is not None and p["ele"] == p["ele"]:
                buf.write(f"      <ele>{p['ele']:.{ele_dp}f}</ele>\n")
            if _has_ts(p.get("ts")):
                buf.write(f"      <time>{_iso(p['ts'])}</time>\n")
            buf.write("    </rtept>\n")
        buf.write("  </rte>\n")
    name = meta.get("metadata.name") or meta.get("trk.name")
    buf.write("  <trk>\n")
    if name:
        buf.write(f"    <name>{_xml_escape(name)}</name>\n")
    if meta.get("trk.type"):
        buf.write(f"    <type>{_xml_escape(meta['trk.type'])}</type>\n")
    if meta.get("trk.extensions_json"):
        buf.write("    <extensions>\n")
        buf.write(_ext_json_xml(meta["trk.extensions_json"], "      ", gpx_ns))
        buf.write("    </extensions>\n")
    buf.write("    <trkseg>\n")
    for p in points:
        lat = f"{p['lat']:.{coord_dp}f}"
        lon = f"{p['lon']:.{coord_dp}f}"
        buf.write(f'      <trkpt lat="{lat}" lon="{lon}">\n')
        if p.get("ele") is not None and not (
            isinstance(p["ele"], float) and math.isnan(p["ele"])
        ):
            buf.write(f"        <ele>{p['ele']:.{ele_dp}f}</ele>\n")
        if _has_ts(p.get("ts")):
            buf.write(f"        <time>{_iso(p['ts'])}</time>\n")
        ch = channels.get(_ts_key(p.get("ts"))) if version == "1.1" else None
        p_ext = (p.get("attrs") or {}).get("extensions_json")
        if ch or p_ext:
            buf.write("        <extensions>\n")
            if ch:
                buf.write("          <gpxtpx:TrackPointExtension>\n")
                for cname in sorted(ch):
                    tag = _CHANNEL_TO_TPX.get(cname, cname)
                    v = ch[cname]
                    sval = f"{int(round(v))}" if cname in ("heart_rate", "cadence", "power") else f"{v:g}"
                    buf.write(f"            <gpxtpx:{tag}>{sval}</gpxtpx:{tag}>\n")
                buf.write("          </gpxtpx:TrackPointExtension>\n")
            buf.write(_ext_json_xml(p_ext, "          ", gpx_ns))
            buf.write("        </extensions>\n")
        buf.write("      </trkpt>\n")
    buf.write("    </trkseg>\n  </trk>\n</gpx>\n")
    return buf.getvalue()



def _has_ts(v) -> bool:
    return v is not None and not pd.isna(v)

def _ts_key(ts):
    return None if ts is None else pd.Timestamp(ts).isoformat()


def _iso(ts) -> str:
    t = pd.Timestamp(ts)
    if t.microsecond:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")
    )


def gpx_encode_records(
    records: DataFrame,
    version: str = "1.1",
    coord_dp: int = 6,
    ele_dp: int = 2,
    then: Sequence[Kernel] = (),
) -> DataFrame:
    """Unified record stream (RECORD_SCHEMA) -> per-activity GPX documents,
    including waypoints, routes (kind=route/route_point, gpx_parser.dart:
    364-403), preserved extension trees, and trk/metadata fields — the
    lossless round-trip path."""

    from activity_files_spark.sources.records import (
        channel_map,
        meta_attrs,
        sorted_kind_idx,
        take_records,
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        kind = pdf["kind"].to_numpy()
        pt_cols = ["seq", "ts", "lat", "lon", "ele", "attrs"]
        pts = take_records(
            pdf, sorted_kind_idx(pdf, kind, "point", ["ts", "seq"]), pt_cols
        )
        chmap = channel_map(pdf, kind, _ts_key)
        wps = take_records(
            pdf, sorted_kind_idx(pdf, kind, "waypoint", ["seq"]), pt_cols
        )
        routes = []
        rp_cols = ["lap_id", "seq", "ts", "lat", "lon", "ele", "attrs"]
        hdr_idx = sorted_kind_idx(pdf, kind, "route", ["lap_id"])
        if len(hdr_idx):
            rpts = take_records(
                pdf, sorted_kind_idx(pdf, kind, "route_point", ["lap_id", "seq"]),
                rp_cols,
            )
            for rid, rattrs in zip(
                pdf["lap_id"].take(hdr_idx).tolist(),
                pdf["attrs"].take(hdr_idx).tolist(),
            ):
                routes.append({
                    "attrs": rattrs if isinstance(rattrs, dict) else None,
                    "points": [p for p in rpts if p["lap_id"] == rid],
                })
        meta = meta_attrs(pdf, kind)
        xml = encode_gpx(pts, chmap, meta=meta, waypoints=wps, routes=routes,
                         version=version, coord_dp=coord_dp, ele_dp=ele_dp)
        return pd.DataFrame([{"activity_id": pdf["activity_id"].iloc[0], "xml": xml}])

    return grouped_apply(records, "activity_id", kernel, "activity_id string, xml string",
                         then)
