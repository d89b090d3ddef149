"""XML encoding + namespace dialect goldens — the reference tolerates
BOM'd UTF-16/UTF-32 XML and namespace-prefix soup end-to-end
(activity_files_facade.dart:2051-2126 `_parseBytesWithBom`; gpx/tcx
parsers resolve by local name). These push the repo's one BOM-priority
decoder (sources/detect.decode_text, run per file by
sources/decode.decode_records) and the namespace-agnostic parsers through
the same encodings.
"""

import argparse

from pyspark.sql import functions as F

from activity_files_spark.sources.decode import decode_records
from activity_files_spark.sources.detect import decode_text, detect_format_py
from activity_files_spark.sources.gpx import parse_gpx
from activity_files_spark.sources.records import meta_of, points_of

GPX = """<?xml version="1.0"?>
<gpx version="1.1" creator="t" xmlns="http://www.topografix.com/GPX/1/1">
  <trk><trkseg>
    <trkpt lat="40.0" lon="-105.0"><ele>1600.5</ele><time>2024-03-01T10:00:00Z</time></trkpt>
    <trkpt lat="40.001" lon="-105.001"><ele>1601.5</ele><time>2024-03-01T10:00:10Z</time></trkpt>
  </trkseg></trk>
</gpx>"""


def _files(spark, payload: bytes):
    return spark.createDataFrame([("f", payload)], "activity_id string, payload binary")


def _assert_two_points(spark, payload: bytes):
    rec = decode_records(_files(spark, payload), fmt="gpx")
    pts = points_of(rec).orderBy("seq").collect()
    assert len(pts) == 2
    assert abs(pts[0]["lat"] - 40.0) < 1e-9
    assert pts[0]["ele"] == 1600.5
    return pts


def test_utf16_le_bom_gpx(spark):
    # python 'utf-16' emits the LE BOM
    _assert_two_points(spark, GPX.encode("utf-16"))


def test_utf16_be_bom_gpx(spark):
    _assert_two_points(spark, b"\xfe\xff" + GPX.encode("utf-16-be"))


def test_utf32_le_bom_gpx(spark):
    _assert_two_points(spark, b"\xff\xfe\x00\x00" + GPX.encode("utf-32-le"))


def test_utf32_be_bom_gpx(spark):
    _assert_two_points(spark, b"\x00\x00\xfe\xff" + GPX.encode("utf-32-be"))


def test_utf8_sig_bom_gpx(spark):
    _assert_two_points(spark, b"\xef\xbb\xbf" + GPX.encode("utf-8"))


def test_bom_wins_over_declared_encoding(spark):
    """facade parity: the BOM overrides the caller's --encoding choice —
    decoding a UTF-16LE file with charset ISO-8859-1 still works."""
    _assert_two_points(spark, GPX.encode("utf-16"))
    rec = decode_records(
        _files(spark, GPX.encode("utf-16")), fmt="gpx", charset="ISO-8859-1"
    )
    assert points_of(rec).count() == 2


def test_latin1_declared_encoding_no_bom(spark):
    """No BOM: the declared charset applies (a latin-1 creator name with a
    non-ASCII byte survives)."""
    xml = GPX.replace('creator="t"', 'creator="café"').encode("latin-1")
    rec = decode_records(_files(spark, xml), fmt="gpx", charset="ISO-8859-1")
    assert points_of(rec).count() == 2


def test_detect_format_sniffs_through_utf16_bom():
    assert detect_format_py(GPX.encode("utf-16")) == "gpx"
    assert detect_format_py(b"\x00\x00\xfe\xff" + GPX.encode("utf-32-be")) == "gpx"


GPX_PREFIX_SOUP = """<?xml version="1.0"?>
<g:gpx version="1.1" creator="soup" xmlns:g="http://www.topografix.com/GPX/1/1"
       xmlns:w="http://weird.example/ns">
  <g:trk><g:trkseg>
    <g:trkpt lat="40.0" lon="-105.0"><g:ele>1600.5</g:ele>
      <g:time>2024-03-01T10:00:00Z</g:time></g:trkpt>
    <g:trkpt lat="40.001" lon="-105.001"><g:ele>1601.5</g:ele>
      <g:time>2024-03-01T10:00:10Z</g:time></g:trkpt>
  </g:trkseg></g:trk>
</g:gpx>"""


def test_gpx_namespace_prefix_soup(spark):
    """Every element carries an explicit prefix: local-name matching must
    resolve them (gpx_parser.dart matches by local name)."""
    rec = decode_records(
        spark.createDataFrame([("p", GPX_PREFIX_SOUP)], "activity_id string, xml string"),
        fmt="gpx", payload_col="xml",
    )
    pts = points_of(rec).orderBy("seq").collect()
    assert len(pts) == 2
    assert pts[1]["ele"] == 1601.5


TCX_PREFIX_SOUP = """<?xml version="1.0"?>
<t:TrainingCenterDatabase
    xmlns:t="http://www.garmin.com/xmlschemas/TrainingCenterDatabase/v2">
  <t:Activities><t:Activity Sport="Running"><t:Id>x</t:Id>
    <t:Lap StartTime="2024-03-01T10:00:00Z"><t:TotalTimeSeconds>10</t:TotalTimeSeconds>
      <t:Track><t:Trackpoint><t:Time>2024-03-01T10:00:00Z</t:Time>
        <t:Position><t:LatitudeDegrees>40.0</t:LatitudeDegrees>
        <t:LongitudeDegrees>-105.0</t:LongitudeDegrees></t:Position>
      </t:Trackpoint></t:Track>
    </t:Lap>
  </t:Activity></t:Activities>
</t:TrainingCenterDatabase>"""


def test_tcx_namespace_prefix_soup_utf16(spark):
    """Prefix soup AND a UTF-16 BOM at once — the full dialect gauntlet."""
    rec = decode_records(_files(spark, TCX_PREFIX_SOUP.encode("utf-16")), fmt="tcx")
    pts = points_of(rec).collect()
    assert len(pts) == 1
    assert abs(pts[0]["lat"] - 40.0) < 1e-9


def _load(spark, path, encoding="utf8"):
    from activity_files_spark.cli import _load_records

    args = argparse.Namespace(input=str(path), from_fmt="auto", encoding=encoding)
    return _load_records(spark, args)


def test_cli_load_records_utf16_file(spark, tmp_path):
    """End-to-end through the CLI loader: a BOM'd UTF-16 .gpx on disk with
    the DEFAULT --encoding parses to points."""
    p = tmp_path / "ride.gpx"
    p.write_bytes(GPX.encode("utf-16"))
    rec = _load(spark, p)
    assert rec.filter(F.col("kind") == "point").count() == 2


def test_decode_text_strips_exactly_one_bom():
    assert decode_text(b"\xef\xbb\xbfa") == "a"
    assert decode_text(b"\xef\xbb\xbf\xef\xbb\xbfa") == "\ufeffa"
    assert decode_text(b"\xff\xfe\x00\x00" + "\ufeffa".encode("utf-32-le")) == "\ufeffa"


def test_invalid_byte_under_default_encoding_never_throws(spark, tmp_path):
    """A latin-1 'Café' GPX next to a good one, read with the default
    --encoding (UTF-8): the bad byte becomes U+FFFD, the directory validates
    (rc 0), both activities parse and the good file's points are unchanged."""
    from activity_files_spark.cli import main

    d = tmp_path / "in"
    d.mkdir()
    (d / "good.gpx").write_bytes(GPX.encode("utf-8"))
    cafe = GPX.replace('creator="t"', 'creator="Café"')
    (d / "cafe.gpx").write_bytes(cafe.encode("latin-1"))
    assert main(["validate", "--input", str(d)]) == 0
    rec = _load(spark, d)
    creators = {
        r["activity_id"].rsplit("/", 1)[-1]: r["attrs"]["creator"]
        for r in meta_of(rec).collect()
    }
    assert creators == {"good.gpx": "t", "cafe.gpx": "Caf\ufffd"}
    by_file = {"good.gpx": [], "cafe.gpx": []}
    for r in points_of(rec).orderBy("seq").collect():
        by_file[r["activity_id"].rsplit("/", 1)[-1]].append(
            (r["seq"], r["ts"], r["lat"], r["lon"], r["ele"]))
    want = [(r["seq"], r["ts"], r["lat"], r["lon"], r["ele"])
            for r in parse_gpx("good", GPX) if r["kind"] == "point"]
    assert by_file["good.gpx"] == want
    assert len(by_file["cafe.gpx"]) == 2


def test_bomless_utf16_encoding_is_big_endian(spark, tmp_path):
    """--encoding utf16 on a payload without a BOM reads big-endian, like
    the JVM's UTF-16 charset (Python's 'utf-16' would read it
    little-endian and turn every character into garbage)."""
    p = tmp_path / "ride.gpx"
    p.write_bytes(GPX.encode("utf-16-be"))
    rec = _load(spark, p, encoding="utf16")
    pts = points_of(rec).orderBy("seq").collect()
    assert len(pts) == 2 and pts[0]["ele"] == 1600.5


def test_bomless_utf16_detects_under_declared_charset(spark):
    """An extension-less UTF-16 payload without a BOM is sniffed through
    the declared charset, not as UTF-8, and parses to the UTF-8 file's
    points."""
    def points(payload, charset):
        rec = decode_records(_files(spark, payload), charset=charset)
        return [(r["seq"], r["ts"], r["lat"], r["lon"], r["ele"])
                for r in points_of(rec).orderBy("seq").collect()]

    want = points(GPX.encode("utf-8"), "utf-8")
    assert len(want) == 2
    for charset in ("utf-16-be", "utf-16-le"):
        assert points(GPX.encode(charset), charset) == want
