"""Format sources: parse + lossless round-trip on the reference's canonical
fixtures (test/fixtures/sample_data.dart:20-121 re-expressed): 3 points at
lat 40.0 +0.0005 steps, lon -105.0 -0.0005, ele 1600..1602, ts
2024-03-01T10:00:00Z +10 s, HR 140/142/145, cadence 82/84/86."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from activity_files_spark.sources.csvsrc import csv_encode_df
from activity_files_spark.sources.decode import decode_records
from activity_files_spark.sources.geojson import (
    geojson_encode_records,
    geojson_geofences,
    parse_geojson,
)
from activity_files_spark.sources.gpx import gpx_encode_records, parse_gpx
from activity_files_spark.sources.records import (
    as_records,
    channels_of,
    diagnostics_of,
    laps_of,
    points_of,
    waypoints_of,
)
from activity_files_spark.sources.tcx import parse_tcx, tcx_encode_records

SAMPLE_GPX = """<?xml version="1.0" encoding="UTF-8"?>
<gpx version="1.1" creator="test" xmlns="http://www.topografix.com/GPX/1/1"
     xmlns:gpxtpx="http://www.garmin.com/xmlschemas/TrackPointExtension/v1">
  <metadata><name>Morning Run</name><time>2024-03-01T10:00:00Z</time></metadata>
  <trk><name>Morning Run</name><type>running</type>
    <trkseg>
      <trkpt lat="40.0" lon="-105.0"><ele>1600.0</ele><time>2024-03-01T10:00:00Z</time>
        <extensions><gpxtpx:TrackPointExtension><gpxtpx:hr>140</gpxtpx:hr><gpxtpx:cad>82</gpxtpx:cad></gpxtpx:TrackPointExtension></extensions>
      </trkpt>
      <trkpt lat="40.0005" lon="-105.0005"><ele>1601.0</ele><time>2024-03-01T10:00:10Z</time>
        <extensions><gpxtpx:TrackPointExtension><gpxtpx:hr>142</gpxtpx:hr><gpxtpx:cad>84</gpxtpx:cad></gpxtpx:TrackPointExtension></extensions>
      </trkpt>
      <trkpt lat="40.001" lon="-105.001"><ele>1602.0</ele><time>2024-03-01T10:00:20Z</time>
        <extensions><gpxtpx:TrackPointExtension><gpxtpx:hr>145</gpxtpx:hr><gpxtpx:cad>86</gpxtpx:cad></gpxtpx:TrackPointExtension></extensions>
      </trkpt>
    </trkseg>
  </trk>
</gpx>"""

SAMPLE_TCX = """<?xml version="1.0" encoding="UTF-8"?>
<TrainingCenterDatabase xmlns="http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2">
  <Activities><Activity Sport="Running"><Id>2024-03-01T10:00:00Z</Id>
    <Lap StartTime="2024-03-01T10:00:00Z">
      <TotalTimeSeconds>20</TotalTimeSeconds><DistanceMeters>140.0</DistanceMeters>
      <Calories>12</Calories>
      <AverageHeartRateBpm><Value>142</Value></AverageHeartRateBpm>
      <MaximumHeartRateBpm><Value>145</Value></MaximumHeartRateBpm>
      <Track>
        <Trackpoint><Time>2024-03-01T10:00:00Z</Time>
          <Position><LatitudeDegrees>40.0</LatitudeDegrees><LongitudeDegrees>-105.0</LongitudeDegrees></Position>
          <AltitudeMeters>1600.0</AltitudeMeters><DistanceMeters>0.0</DistanceMeters>
          <HeartRateBpm><Value>140</Value></HeartRateBpm><Cadence>82</Cadence>
        </Trackpoint>
        <Trackpoint><Time>2024-03-01T10:00:10Z</Time>
          <Position><LatitudeDegrees>40.0005</LatitudeDegrees><LongitudeDegrees>-105.0005</LongitudeDegrees></Position>
          <AltitudeMeters>1601.0</AltitudeMeters><DistanceMeters>70.0</DistanceMeters>
          <HeartRateBpm><Value>142</Value></HeartRateBpm><Cadence>84</Cadence>
        </Trackpoint>
        <Trackpoint><Time>2024-03-01T10:00:20Z</Time>
          <Position><LatitudeDegrees>40.001</LatitudeDegrees><LongitudeDegrees>-105.001</LongitudeDegrees></Position>
          <AltitudeMeters>1602.0</AltitudeMeters><DistanceMeters>140.0</DistanceMeters>
          <HeartRateBpm><Value>145</Value></HeartRateBpm><Cadence>86</Cadence>
        </Trackpoint>
      </Track>
    </Lap>
  </Activity></Activities>
</TrainingCenterDatabase>"""

SAMPLE_GEOJSON = """{
  "type": "FeatureCollection",
  "features": [{
    "type": "Feature",
    "geometry": {"type": "LineString",
      "coordinates": [[-105.0, 40.0, 1600.0], [-105.0005, 40.0005, 1601.0], [-105.001, 40.001, 1602.0]]},
    "properties": {"name": "Morning Run",
      "coordinateProperties": {"times": ["2024-03-01T10:00:00Z", "2024-03-01T10:00:10Z", "2024-03-01T10:00:20Z"]}}
  }]
}"""

EXPECTED_PTS = [
    (40.0, -105.0, 1600.0, "2024-03-01 10:00:00"),
    (40.0005, -105.0005, 1601.0, "2024-03-01 10:00:10"),
    (40.001, -105.001, 1602.0, "2024-03-01 10:00:20"),
]
EXPECTED_HR = [140.0, 142.0, 145.0]
EXPECTED_CAD = [82.0, 84.0, 86.0]


def check_points(rows):
    got = sorted(
        ((r["lat"], r["lon"], r["ele"], str(r["ts"])) for r in rows), key=lambda t: t[3]
    )
    assert got == EXPECTED_PTS


def check_channels(rows):
    hr = sorted((str(r["ts"]), r["value"]) for r in rows if r["channel"] == "heart_rate")
    cad = sorted((str(r["ts"]), r["value"]) for r in rows if r["channel"] == "cadence")
    assert [v for _, v in hr] == EXPECTED_HR
    assert [v for _, v in cad] == EXPECTED_CAD


@pytest.fixture
def gpx_df(spark):
    return spark.createDataFrame([("act_000", SAMPLE_GPX)], "activity_id string, xml string")


def test_gpx_parse_canonical(spark, gpx_df):
    rec = decode_records(gpx_df, fmt="gpx", payload_col="xml").cache()
    check_points(points_of(rec).collect())
    check_channels(channels_of(rec).collect())
    laps = laps_of(rec).collect()
    assert len(laps) == 1
    assert str(laps[0]["start_ts"]) == "2024-03-01 10:00:00"
    assert str(laps[0]["end_ts"]) == "2024-03-01 10:00:20"
    assert 120 < laps[0]["distance_m"] < 160  # ~140m on the fixture grid
    assert laps[0]["sport"] == "running"
    assert diagnostics_of(rec).count() == 0


def test_gpx_roundtrip_lossless(spark, gpx_df):
    rec = decode_records(gpx_df, fmt="gpx", payload_col="xml").cache()
    xml2 = gpx_encode_records(
        as_records(points_of(rec), "point")
        .unionByName(as_records(channels_of(rec), "channel"))
    ).collect()[0]["xml"]
    rec2 = decode_records(
        spark.createDataFrame([("act_000", xml2)], "activity_id string, xml string"),
        fmt="gpx", payload_col="xml",
    ).cache()
    check_points(points_of(rec2).collect())
    check_channels(channels_of(rec2).collect())


def test_gpx_malformed_is_diag_not_crash(spark):
    df = spark.createDataFrame(
        [("bad", "<gpx><unclosed"), ("badpt", '<gpx><trk><trkseg><trkpt lat="x" lon="y"/></trkseg></trk></gpx>')],
        "activity_id string, xml string",
    )
    rec = decode_records(df, fmt="gpx", payload_col="xml").cache()
    diags = {r["activity_id"]: dict(r["attrs"]) for r in diagnostics_of(rec).collect()}
    assert diags["bad"]["code"] == "parse.gpx.malformed"
    assert diags["badpt"]["code"] == "parse.gpx.bad_point"
    assert points_of(rec).count() == 0


def test_tcx_parse_canonical(spark):
    df = spark.createDataFrame([("act_000", SAMPLE_TCX)], "activity_id string, xml string")
    rec = decode_records(df, fmt="tcx", payload_col="xml").cache()
    check_points(points_of(rec).collect())
    check_channels(channels_of(rec).collect())
    dist = sorted(
        (str(r["ts"]), r["value"])
        for r in channels_of(rec).collect()
        if r["channel"] == "distance"
    )
    assert [v for _, v in dist] == [0.0, 70.0, 140.0]
    laps = laps_of(rec).collect()
    assert len(laps) == 1
    lap = laps[0]
    assert lap["distance_m"] == 140.0
    assert str(lap["start_ts"]) == "2024-03-01 10:00:00"
    assert str(lap["end_ts"]) == "2024-03-01 10:00:20"
    stats = dict(lap["attrs"])
    assert stats["avg_hr"] == "142.0" and stats["max_hr"] == "145.0"
    assert stats["calories"] == "12"


def test_tcx_roundtrip_lossless(spark):
    df = spark.createDataFrame([("act_000", SAMPLE_TCX)], "activity_id string, xml string")
    rec = decode_records(df, fmt="tcx", payload_col="xml").cache()
    xml2 = tcx_encode_records(
        as_records(points_of(rec), "point")
        .unionByName(as_records(channels_of(rec), "channel"))
        .unionByName(as_records(laps_of(rec), "lap")),
        sport="Running",
    ).collect()[0]["xml"]
    rec2 = decode_records(
        spark.createDataFrame([("act_000", xml2)], "activity_id string, xml string"),
        fmt="tcx", payload_col="xml",
    ).cache()
    check_points(points_of(rec2).collect())
    check_channels(channels_of(rec2).collect())
    assert laps_of(rec2).collect()[0]["distance_m"] == 140.0


def test_geojson_linestring_with_times(spark):
    df = spark.createDataFrame([("act_000", SAMPLE_GEOJSON)], "activity_id string, text string")
    rec = decode_records(df, fmt="geojson", payload_col="text").cache()
    check_points(points_of(rec).collect())
    laps = laps_of(rec).collect()
    assert len(laps) == 1 and str(laps[0]["start_ts"]) == "2024-03-01 10:00:00"


def test_geojson_roundtrip(spark):
    df = spark.createDataFrame([("act_000", SAMPLE_GEOJSON)], "activity_id string, text string")
    rec = decode_records(df, fmt="geojson", payload_col="text").cache()
    text2 = geojson_encode_records(
        as_records(points_of(rec), "point")
    ).collect()[0]["text"]
    rec2 = decode_records(
        spark.createDataFrame([("act_000", text2)], "activity_id string, text string"),
        fmt="geojson", payload_col="text",
    )
    check_points(points_of(rec2).collect())


def test_geojson_point_collection_props_to_channels():
    doc = """{"type":"FeatureCollection","features":[
      {"type":"Feature","geometry":{"type":"Point","coordinates":[-105.0,40.0]},
       "properties":{"time":"2024-03-01T10:00:00Z","heart_rate":140,"note":"x"}},
      {"type":"Feature","geometry":{"type":"Point","coordinates":[-105.0005,40.0005]},
       "properties":{"time":"2024-03-01T10:00:10Z","heart_rate":142}}]}"""
    recs = parse_geojson("a", doc)
    pts = [r for r in recs if r["kind"] == "point"]
    chans = [r for r in recs if r["kind"] == "channel"]
    assert len(pts) == 2
    assert [(c["channel"], c["value"]) for c in chans] == [("heart_rate", 140.0), ("heart_rate", 142.0)]
    meta = [r for r in recs if r["kind"] == "meta"][0]
    assert meta["attrs"]["prop.note"] == "x"


def test_geojson_polygon_geofence_and_holes_diag(spark):
    doc = """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[
      [[-105.0008,40.0002],[-105.0002,40.0002],[-105.0002,40.0008],[-105.0008,40.0008],[-105.0008,40.0002]],
      [[-105.0006,40.0004],[-105.0004,40.0004],[-105.0004,40.0006],[-105.0006,40.0006],[-105.0006,40.0004]]]},
      "properties":{"name":"fence"}}"""
    df = spark.createDataFrame([("gf", doc)], "activity_id string, text string")
    gf = geojson_geofences(df).collect()
    assert len(gf) == 1
    assert len(gf[0]["ring"]) == 5
    assert gf[0]["ring"][0]["lon"] == -105.0008
    rec = decode_records(df, fmt="geojson", payload_col="text")
    diags = [dict(r["attrs"]) for r in diagnostics_of(rec).collect()]
    assert any(d["code"] == "geojson.polygon_holes_dropped" for d in diags)


def test_csv_roundtrip_with_custom_channel(spark, tmp_path):
    csv = (
        "timestamp,latitude,longitude,elevation,heart_rate,cadence,my_sensor\n"
        "2024-03-01T10:00:00Z,40.0,-105.0,1600.0,140,82,1.5\n"
        "2024-03-01T10:00:10Z,40.0005,-105.0005,1601.0,142,84,2.5\n"
        "2024-03-01T10:00:20Z,40.001,-105.001,1602.0,145,86,3.5\n"
    )
    p = tmp_path / "a.csv"
    p.write_text(csv)
    files = spark.read.format("binaryFile").load(str(p)).select(
        F.lit("act_000").alias("activity_id"), F.col("content").alias("payload")
    )
    rec = decode_records(files, fmt="csv").cache()
    points = points_of(rec)
    check_points(points.collect())
    ch = channels_of(rec)
    check_channels(ch.collect())
    custom = sorted(r["value"] for r in ch.filter(F.col("channel") == "my_sensor").collect())
    assert custom == [1.5, 2.5, 3.5]
    wide = csv_encode_df(points, ch)
    assert "my_sensor" in wide.columns  # sorted extra channel column
    rows = wide.orderBy("timestamp").collect()
    assert rows[0]["heart_rate"] == 140.0 and rows[2]["my_sensor"] == 3.5


def test_gpx_10_encoder_dialect_and_precision(spark, gpx_df):
    from activity_files_spark.sources.gpx import encode_gpx

    rec = decode_records(gpx_df, fmt="gpx", payload_col="xml").cache()
    pts = sorted(
        (r.asDict() for r in points_of(rec).collect()), key=lambda r: r["seq"]
    )
    xml10 = encode_gpx(pts, {}, version="1.0", coord_dp=4, ele_dp=0)
    assert 'version="1.0"' in xml10 and "GPX/1/0" in xml10
    assert 'lat="40.0005"' in xml10  # 4 dp
    assert "<ele>1601</ele>" in xml10  # 0 dp
    assert "gpxtpx" not in xml10  # no TPX namespace in the 1.0 dialect
    # still reparses losslessly at the reduced precision
    rec2 = decode_records(
        spark.createDataFrame([("v10", xml10)], "activity_id string, xml string"),
        fmt="gpx", payload_col="xml",
    )
    assert points_of(rec2).count() == 3


def test_gpx_encoder_waypoints(spark):
    from activity_files_spark.sources.gpx import encode_gpx, parse_gpx

    wps = [{"lat": 40.5, "lon": -105.5, "ele": 1700.0,
            "ts": None, "attrs": {"name": "Summit", "sym": "Peak"}}]
    xml = encode_gpx([], {}, waypoints=wps)
    recs = parse_gpx("w", xml)
    wp = [r for r in recs if r["kind"] == "waypoint"]
    assert len(wp) == 1
    assert wp[0]["lat"] == 40.5 and wp[0]["attrs"]["name"] == "Summit"


def test_geojson_points_variant_roundtrip(spark):
    from activity_files_spark.sources.geojson import geojson_encode_points_records

    df = spark.createDataFrame([("act_000", SAMPLE_GPX)], "activity_id string, xml string")
    rec = decode_records(df, fmt="gpx", payload_col="xml").cache()
    text = geojson_encode_points_records(
        as_records(points_of(rec), "point")
        .unionByName(as_records(channels_of(rec), "channel"))
    ).collect()[0]["text"]
    rec2 = decode_records(
        spark.createDataFrame([("act_000", text)], "activity_id string, text string"),
        fmt="geojson", payload_col="text",
    ).cache()
    check_points(points_of(rec2).collect())
    check_channels(channels_of(rec2).collect())


GPX_ROUTE_EXT = """<?xml version="1.0" encoding="UTF-8"?>
<gpx version="1.1" creator="vendor-app" xmlns="http://www.topografix.com/GPX/1/1"
     xmlns:gpxtpx="http://www.garmin.com/xmlschemas/TrackPointExtension/v1"
     xmlns:vnd="http://example.com/vendor/v2">
  <metadata>
    <extensions>
      <vnd:source device="sim-7"><vnd:firmware>2.1</vnd:firmware></vnd:source>
    </extensions>
  </metadata>
  <rte>
    <name>Morning commute</name>
    <desc>planned</desc>
    <rtept lat="40.0" lon="-105.0"><ele>1600.0</ele></rtept>
    <rtept lat="40.1" lon="-105.1"><ele>1610.5</ele></rtept>
    <rtept lat="40.2" lon="-105.2"/>
  </rte>
  <trk>
    <name>actual</name>
    <type>running</type>
    <trkseg>
      <trkpt lat="40.0" lon="-105.0">
        <ele>1600.0</ele><time>2024-03-01T10:00:00Z</time>
        <extensions>
          <gpxtpx:TrackPointExtension>
            <gpxtpx:hr>140</gpxtpx:hr>
          </gpxtpx:TrackPointExtension>
          <vnd:telemetry mode="live"><vnd:battery>87</vnd:battery><vnd:status>ok</vnd:status></vnd:telemetry>
        </extensions>
      </trkpt>
      <trkpt lat="40.0005" lon="-105.0005">
        <ele>1601.0</ele><time>2024-03-01T10:00:10Z</time>
      </trkpt>
    </trkseg>
  </trk>
</gpx>
"""


def test_gpx_route_parsed():
    """<rte> routes parse as structured route/route_point records
    (gpx_parser.dart:364-403), not folded into the track."""
    recs = parse_gpx("r1", GPX_ROUTE_EXT)
    assert [r for r in recs if r["kind"] == "diag"] == []
    routes = [r for r in recs if r["kind"] == "route"]
    rpts = [r for r in recs if r["kind"] == "route_point"]
    assert len(routes) == 1
    assert routes[0]["attrs"]["name"] == "Morning commute"
    assert routes[0]["attrs"]["desc"] == "planned"
    assert [(p["seq"], p["lat"], p["ele"]) for p in rpts] == [
        (0, 40.0, 1600.0), (1, 40.1, 1610.5), (2, 40.2, None)]
    # track still parses independently of the route
    assert sum(1 for r in recs if r["kind"] == "point") == 2


def test_gpx_extension_tree_preserved_roundtrip():
    """Vendor extension subtrees (metadata-level and trkpt-level) survive
    parse -> encode -> parse losslessly, with namespace URIs and attributes
    intact (gpx_parser.dart:561-596, models.dart:978-1026). Routes survive
    the same round trip."""
    import json
    from activity_files_spark.sources.gpx import encode_gpx

    r1 = parse_gpx("r1", GPX_ROUTE_EXT)
    meta1 = [r for r in r1 if r["kind"] == "meta"][0]["attrs"]
    # vendor tree captured on the first point
    p0 = [r for r in r1 if r["kind"] == "point"][0]
    tree = json.loads(p0["attrs"]["extensions_json"])
    assert tree == [{
        "name": "telemetry", "ns": "http://example.com/vendor/v2",
        "attrs": {"mode": "live"},
        "children": [
            {"name": "battery", "ns": "http://example.com/vendor/v2", "value": "87"},
            {"name": "status", "ns": "http://example.com/vendor/v2", "value": "ok"},
        ]}]
    assert "metadata.extensions_json" in meta1
    # hr consumed as a channel, not duplicated into the preserved tree
    assert [r["value"] for r in r1 if r["kind"] == "channel"] == [140.0]

    # encode the full stream back and re-parse: fixed point
    chmap = {}
    from activity_files_spark.sources.gpx import _ts_key
    for r in r1:
        if r["kind"] == "channel":
            chmap.setdefault(_ts_key(r["ts"]), {})[r["channel"]] = r["value"]
    routes = [{
        "attrs": [r for r in r1 if r["kind"] == "route"][0]["attrs"],
        "points": [r for r in r1 if r["kind"] == "route_point"],
    }]
    xml2 = encode_gpx(
        [r for r in r1 if r["kind"] == "point"], chmap, meta=meta1,
        waypoints=[], routes=routes,
    )
    r2 = parse_gpx("r1", xml2)
    assert [r for r in r2 if r["kind"] == "diag"] == []
    p0b = [r for r in r2 if r["kind"] == "point"][0]
    assert json.loads(p0b["attrs"]["extensions_json"]) == tree
    meta2 = [r for r in r2 if r["kind"] == "meta"][0]["attrs"]
    assert meta2["metadata.extensions_json"] == meta1["metadata.extensions_json"]
    assert [r["value"] for r in r2 if r["kind"] == "channel"] == [140.0]
    routes2 = [r for r in r2 if r["kind"] == "route"]
    rpts2 = [(p["seq"], p["lat"], p["lon"], p["ele"])
             for p in r2 if p["kind"] == "route_point"]
    assert routes2[0]["attrs"]["name"] == "Morning commute"
    assert rpts2 == [(0, 40.0, -105.0, 1600.0), (1, 40.1, -105.1, 1610.5),
                     (2, 40.2, -105.2, None)]


def test_as_records_widens_split_tables(spark):
    """as_records: point, channel and lap tables widen to exactly
    RECORD_SCHEMA, and the split-table extractors return the input rows."""
    from activity_files_spark.sources.records import RECORD_SCHEMA

    t0, t1 = datetime(2024, 3, 1, 10, 0, 0), datetime(2024, 3, 1, 10, 0, 10)
    pts = spark.createDataFrame(
        [("a", 0, t0, 40.0, -105.0, 1600.0, {"k": "v"}),
         ("a", 1, t1, 40.0005, -105.0005, None, None)],
        "activity_id string, seq long, ts timestamp, lat double, lon double, "
        "ele double, attrs map<string,string>",
    )
    chs = spark.createDataFrame(
        [("a", "heart_rate", t0, 140.0), ("a", "cadence", t1, 84.0)],
        "activity_id string, channel string, ts timestamp, value double",
    )
    laps = spark.createDataFrame(
        [("a", 0, t0, t1, 70.0, "running", {"calories": "12"})],
        "activity_id string, lap_id int, start_ts timestamp, end_ts timestamp, "
        "distance_m double, sport string, attrs map<string,string>",
    )
    want = [(f.name, f.dataType) for f in spark.createDataFrame([], RECORD_SCHEMA).schema]
    stream = None
    for df, kind, split in ((pts, "point", points_of), (chs, "channel", channels_of),
                            (laps, "lap", laps_of)):
        w = as_records(df, kind)
        assert [(f.name, f.dataType) for f in w.schema] == want
        assert split(w).collect() == df.collect()
        stream = w if stream is None else stream.unionByName(w)
    assert sorted(points_of(stream).collect()) == sorted(pts.collect())
    assert sorted(channels_of(stream).collect()) == sorted(chs.collect())
    assert laps_of(stream).collect() == laps.collect()


def test_gpx_encode_records_stream(spark):
    """gpx_encode_records: the unified stream (points/channels/waypoints/
    routes/meta) encodes per activity and re-parses identically."""
    from activity_files_spark.sources.gpx import gpx_encode_records
    from activity_files_spark.sources.records import records_frame, RECORD_SCHEMA

    rows = parse_gpx("a1", GPX_ROUTE_EXT)
    rec_df = spark.createDataFrame(records_frame(rows), RECORD_SCHEMA)
    out = gpx_encode_records(rec_df).collect()
    assert len(out) == 1
    back = parse_gpx("a1", out[0]["xml"])
    assert sum(1 for r in back if r["kind"] == "route") == 1
    assert sum(1 for r in back if r["kind"] == "route_point") == 3
    assert sum(1 for r in back if r["kind"] == "point") == 2
    assert [r for r in back if r["kind"] == "diag"] == []


def test_tcx_v1_dialect_roundtrip():
    """TcxVersion.v1 dialect: v1 namespace + schemaLocation pair
    (tcx_encoder.dart:18-67); parser is namespace-agnostic so the document
    round-trips identically."""
    from datetime import datetime
    from activity_files_spark.sources.tcx import encode_tcx, parse_tcx

    pts = [{"ts": datetime(2024, 3, 1, 10, 0, i), "lat": 40.0 + i * 1e-4,
            "lon": -105.0, "ele": 1600.0} for i in range(3)]
    xml1 = encode_tcx(pts, {}, [], version="1")
    assert 'TrainingCenterDatabase/v1"' in xml1
    assert "TrainingCenterDatabasev1.xsd" in xml1
    xml2 = encode_tcx(pts, {}, [])
    assert 'TrainingCenterDatabase/v2"' in xml2
    r1 = parse_tcx("a", xml1)
    r2 = parse_tcx("a", xml2)
    p1 = [(r["lat"], r["lon"]) for r in r1 if r["kind"] == "point"]
    p2 = [(r["lat"], r["lon"]) for r in r2 if r["kind"] == "point"]
    assert p1 == p2 and len(p1) == 3
    assert [r for r in r1 if r["kind"] == "diag"] == []


def test_gpx_nested_tpx_subtree_preserved():
    """Review regression: a non-numeric NESTED subtree under
    TrackPointExtension keeps its ancestor structure through the round
    trip (previously its leaves were orphaned)."""
    import json
    xml = """<?xml version="1.0"?>
    <gpx version="1.1" xmlns="http://www.topografix.com/GPX/1/1"
         xmlns:gpxtpx="http://www.garmin.com/xmlschemas/TrackPointExtension/v1">
      <trk><trkseg>
        <trkpt lat="40.0" lon="-105.0"><time>2024-03-01T10:00:00Z</time>
          <extensions><gpxtpx:TrackPointExtension>
            <gpxtpx:hr>140</gpxtpx:hr>
            <gpxtpx:foo><gpxtpx:bar>x</gpxtpx:bar></gpxtpx:foo>
          </gpxtpx:TrackPointExtension></extensions>
        </trkpt>
      </trkseg></trk>
    </gpx>"""
    recs = parse_gpx("a", xml)
    assert [r["value"] for r in recs if r["kind"] == "channel"] == [140.0]
    p = [r for r in recs if r["kind"] == "point"][0]
    tree = json.loads(p["attrs"]["extensions_json"])
    assert tree == [{
        "name": "foo",
        "ns": "http://www.garmin.com/xmlschemas/TrackPointExtension/v1",
        "children": [{"name": "bar",
                      "ns": "http://www.garmin.com/xmlschemas/TrackPointExtension/v1",
                      "value": "x"}],
    }]
