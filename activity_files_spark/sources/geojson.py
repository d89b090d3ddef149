"""GeoJSON source + sink.

Parser semantics from the reference (lib/src/parse/geojson_parser.dart):
- Feature / FeatureCollection; LineString coordinates -> points, with
  per-point timestamps from properties.coordinateProperties.times
  (geojson_parser.dart:370-379)
- Point-collection features -> points, per-feature `time` property;
  numeric properties -> channel samples at that time
  (geojson_parser.dart:504-518)
- MultiLineString -> concatenated segments (lap per segment)
- Polygon: exterior ring parsed as a track; holes dropped with a
  `geojson.polygon_holes_dropped` diagnostic (geojson_parser.dart:278-316);
  the exterior ring is ALSO emitted as a geofence record (the polygon side
  of the new engine's PIP join)
- scalar properties preserved as metadata (geojson_parser.dart:356-366)

Encoder (lib/src/encode/geojson_encoder.dart): LineString feature with
regenerated coordinateProperties.times (:84-88) and computed properties
(duration_s); [lon, lat, ele] coordinate order per the GeoJSON spec.
"""

from __future__ import annotations

import json
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame

from activity_files_spark.sources.gpx import _iso, _parse_time
from activity_files_spark.operators.grouped import grouped_apply
from activity_files_spark.operators.kernels import Kernel


def parse_geojson(activity_id: str, text: str) -> list[dict]:
    out: list[dict] = []
    try:
        doc = json.loads(text)
    except (json.JSONDecodeError, TypeError) as e:
        out.append({"activity_id": activity_id, "kind": "diag",
                    "attrs": {"code": "parse.geojson.malformed", "severity": "error",
                              "message": str(e)}})
        return out

    features = []
    if doc.get("type") == "FeatureCollection":
        features = doc.get("features") or []
    elif doc.get("type") == "Feature":
        features = [doc]
    else:
        out.append({"activity_id": activity_id, "kind": "diag",
                    "attrs": {"code": "parse.geojson.unsupported_root", "severity": "error",
                              "message": str(doc.get("type"))}})
        return out

    meta: dict[str, str] = {"format": "geojson"}
    seq = 0
    lap_id = 0
    point_feature_count = 0
    for feat in features:
        geom = (feat or {}).get("geometry") or {}
        props = (feat or {}).get("properties") or {}
        gtype = geom.get("type")
        coords = geom.get("coordinates")
        # scalar props -> metadata (first feature wins, reference keeps orig types)
        for k, v in props.items():
            if isinstance(v, (str, int, float, bool)) and k not in ("time",):
                meta.setdefault(f"prop.{k}", json.dumps(v) if not isinstance(v, str) else v)

        if gtype == "LineString" and coords:
            times = ((props.get("coordinateProperties") or {}).get("times")) or []
            seq, lap_id = _emit_line(out, activity_id, coords, times, seq, lap_id)
        elif gtype == "MultiLineString" and coords:
            times_all = ((props.get("coordinateProperties") or {}).get("times")) or []
            for si, segment in enumerate(coords):
                times = times_all[si] if si < len(times_all) and isinstance(
                    times_all[si], list) else []
                seq, lap_id = _emit_line(out, activity_id, segment, times, seq, lap_id)
        elif gtype == "Point" and coords:
            ts = _parse_time(props.get("time")) if props.get("time") else None
            rec = _coord_record(activity_id, coords, seq, ts)
            if rec:
                out.append(rec)
                seq += 1
                point_feature_count += 1
                if ts is not None:
                    for k, v in props.items():
                        if isinstance(v, (int, float)) and not isinstance(v, bool):
                            out.append({"activity_id": activity_id, "kind": "channel",
                                        "channel": str(k).strip().lower(), "ts": ts,
                                        "value": float(v)})
        elif gtype == "Polygon" and coords:
            exterior = coords[0] if coords else []
            if len(coords) > 1:
                out.append({"activity_id": activity_id, "kind": "diag",
                            "attrs": {"code": "geojson.polygon_holes_dropped",
                                      "severity": "warning",
                                      "message": f"{len(coords) - 1} hole(s) dropped"}})
            ring_attrs = {"ring": json.dumps([[c[0], c[1]] for c in exterior]),
                          "name": str(props.get("name", ""))}
            out.append({"activity_id": activity_id, "kind": "geofence", "attrs": ring_attrs})
            for c in exterior:
                rec = _coord_record(activity_id, c, seq, None)
                if rec:
                    out.append(rec)
                    seq += 1

    out.append({"activity_id": activity_id, "kind": "meta", "attrs": meta})
    return out


def _emit_line(out, activity_id, coords, times, seq, lap_id):
    first = None
    last = None
    for i, c in enumerate(coords):
        ts = _parse_time(times[i]) if i < len(times) else None
        rec = _coord_record(activity_id, c, seq, ts)
        if rec is None:
            continue
        out.append(rec)
        if first is None:
            first = rec
        last = rec
        seq += 1
    if first is not None and first["ts"] is not None and last["ts"] is not None:
        out.append({"activity_id": activity_id, "kind": "lap", "lap_id": lap_id,
                    "start_ts": first["ts"], "end_ts": last["ts"],
                    "attrs": {"source": "linestring"}})
        lap_id += 1
    return seq, lap_id


def _coord_record(activity_id, c, seq, ts):
    try:
        lon, lat = float(c[0]), float(c[1])
    except (TypeError, ValueError, IndexError):
        return None
    ele = None
    if len(c) > 2:
        try:
            ele = float(c[2])
        except (TypeError, ValueError):
            pass
    return {"activity_id": activity_id, "kind": "point", "seq": seq, "ts": ts,
            "lat": lat, "lon": lon, "ele": ele, "attrs": None}


def geojson_geofences(
    files: DataFrame, id_col: str = "activity_id", text_col: str = "text"
) -> DataFrame:
    """Extract polygon geofences: (geofence_id, ring array<struct<lon,lat>>, name)."""

    def kernel(batches):
        for pdf in batches:
            rows = []
            for aid, txt in zip(pdf[id_col], pdf[text_col]):
                gi = 0
                for r in parse_geojson(aid, txt):
                    if r.get("kind") == "geofence":
                        ring = json.loads(r["attrs"]["ring"])
                        rows.append({
                            "geofence_id": f"{aid}_poly{gi}",
                            "ring": [{"lon": float(a), "lat": float(b)} for a, b in ring],
                            "name": r["attrs"].get("name", ""),
                        })
                        gi += 1
            yield pd.DataFrame(
                rows, columns=["geofence_id", "ring", "name"]
            )

    return files.mapInPandas(
        kernel, "geofence_id string, ring array<struct<lon:double,lat:double>>, name string"
    )


# ------------------------------------------------------------------ encoder

def encode_geojson(points: list[dict], meta: dict | None = None) -> str:
    meta = meta or {}
    coords = []
    times = []
    for p in points:
        c = [round(p["lon"], 6), round(p["lat"], 6)]
        if p.get("ele") is not None and p["ele"] == p["ele"]:
            c.append(round(p["ele"], 2))
        coords.append(c)
        times.append(_iso(p["ts"]) if p.get("ts") is not None else None)
    props: dict = {"coordinateProperties": {"times": times}}
    if points and points[0].get("ts") is not None and points[-1].get("ts") is not None:
        dur = (pd.Timestamp(points[-1]["ts"]) - pd.Timestamp(points[0]["ts"])).total_seconds()
        props["duration_s"] = dur
    for k, v in meta.items():
        if k.startswith("prop."):
            props.setdefault(k[5:], v)
    doc = {
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature",
            "geometry": {"type": "LineString", "coordinates": coords},
            "properties": props,
        }],
    }
    return json.dumps(doc, sort_keys=True)


def geojson_encode_records(records: DataFrame, then: Sequence[Kernel] = ()) -> DataFrame:
    """Unified record stream (RECORD_SCHEMA) -> per-activity LineString
    documents over the point rows."""
    from activity_files_spark.sources.records import sorted_kind_idx, take_records

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        kind = pdf["kind"].to_numpy()
        pts = take_records(
            pdf, sorted_kind_idx(pdf, kind, "point", ["ts"]),
            ["ts", "lat", "lon", "ele"],
        )
        return pd.DataFrame([{"activity_id": pdf["activity_id"].iloc[0],
                              "text": encode_geojson(pts)}])

    # only the fields the kernel reads cross into Python (see tcx_encode_records)
    used = records.select("activity_id", "kind", "ts", "lat", "lon", "ele")
    return grouped_apply(used, "activity_id", kernel, "activity_id string, text string", then)


def encode_geojson_points(
    points: list[dict], channels_by_ts: dict | None = None
) -> str:
    """Points-variant encoder (geojson_encoder.dart:91-125): one Point
    feature per trackpoint, channel values as numeric properties."""
    from activity_files_spark.sources.gpx import _ts_key

    channels_by_ts = channels_by_ts or {}
    feats = []
    for p in points:
        coords = [round(p["lon"], 6), round(p["lat"], 6)]
        if p.get("ele") is not None and p["ele"] == p["ele"]:
            coords.append(round(p["ele"], 2))
        props: dict = {}
        if p.get("ts") is not None:
            props["time"] = _iso(p["ts"])
        for k, v in (channels_by_ts.get(_ts_key(p.get("ts"))) or {}).items():
            props[k] = v
        feats.append({"type": "Feature",
                      "geometry": {"type": "Point", "coordinates": coords},
                      "properties": props})
    return json.dumps({"type": "FeatureCollection", "features": feats}, sort_keys=True)


def geojson_encode_points_records(
    records: DataFrame, then: Sequence[Kernel] = (),
) -> DataFrame:
    """Unified record stream (RECORD_SCHEMA) -> per-activity Points-variant
    documents (round-trips through the Point-collection parser, including
    channels)."""
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
        return pd.DataFrame([{"activity_id": pdf["activity_id"].iloc[0],
                              "text": encode_geojson_points(pts, chmap)}])

    used = records.select(
        "activity_id", "kind", "ts", "lat", "lon", "ele", "channel", "value",
    )
    return grouped_apply(used, "activity_id", kernel, "activity_id string, text string", then)
