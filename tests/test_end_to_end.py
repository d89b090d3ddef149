"""SURVEY §7 step-2 integration slice, end to end in one test:

GPX fixture text -> Arrow-kernel geometry extraction -> normalization
(sort/dedup/trim) -> quadkey cell encode -> PIP join against a broadcast
geofence -> kNN match against the image table -> image invariants — every
stage the north-star pipeline chains, on the reference's canonical fixture
grid, with hand-derivable expectations."""

from pyspark.sql import functions as F

from activity_files_spark.data.images import synth_images
from activity_files_spark.functions.quadkey import quadkey_py
from activity_files_spark.operators.normalize import sort_dedup, trim_invalid
from activity_files_spark.operators.spatial import knn_join, knn_join_brute, pip_join
from activity_files_spark.operators.tiling import tile_assign, validate_images
from activity_files_spark.sources.decode import decode_records
from activity_files_spark.sources.records import points_of


DIRTY_GPX = """<?xml version="1.0"?>
<gpx version="1.1" creator="t" xmlns="http://www.topografix.com/GPX/1/1">
 <trk><trkseg>
  <trkpt lat="40.0" lon="-105.0"><ele>1600</ele><time>2024-03-01T10:00:00Z</time></trkpt>
  <trkpt lat="91.0" lon="-105.0"><ele>1600</ele><time>2024-03-01T10:00:05Z</time></trkpt>
  <trkpt lat="40.0005" lon="-105.0005"><ele>-500</ele><time>2024-03-01T10:00:10Z</time></trkpt>
  <trkpt lat="40.0005" lon="-105.0005"><ele>1601</ele><time>2024-03-01T10:00:10Z</time></trkpt>
  <trkpt lat="40.001" lon="-105.001"><ele>1602</ele><time>2024-03-01T10:00:20Z</time></trkpt>
 </trkseg></trk>
</gpx>"""


def test_gpx_to_pip_to_knn_slice(spark):
    # 1. parse (whole-file Arrow kernel)
    rec = decode_records(
        spark.createDataFrame([("act_000", DIRTY_GPX)], "activity_id string, xml string"),
        fmt="gpx", payload_col="xml",
    ).cache()
    raw_pts = points_of(rec)
    assert raw_pts.count() == 5

    # 2. normalize: dup ts -> last wins; lat 91 dropped; ele -500 cleared
    pts = trim_invalid(sort_dedup(raw_pts))
    rows = {r["seq"]: r for r in pts.collect()}
    assert sorted(rows) == [0, 3, 4]
    assert rows[3]["ele"] == 1601.0  # last-wins kept the good duplicate

    # 3. tile assign on the ladder — matches pure-python goldens
    tiles = tile_assign(pts, resolutions=[8, 12], id_col="seq").collect()
    for t in tiles:
        p = rows[t["seq"]]
        assert t["quadkey"] == quadkey_py(p["lat"], p["lon"], t["zoom"])

    # 4. PIP join: fixture rect contains exactly the middle point
    polys = [{"geofence_id": "gf", "ring": [
        (-105.0008, 40.0002), (-105.0002, 40.0002),
        (-105.0002, 40.0008), (-105.0008, 40.0008)]}]
    hits = pip_join(pts, polys).collect()
    assert [h["seq"] for h in hits] == [3]

    # 5. kNN: nearest images (fixture grid shares the coordinate frame)
    imgs = synth_images(spark, 50, partitions=2).select(
        F.col("image_id").alias("point_id"), "lat", "lon"
    )
    qs = pts.select(F.col("seq").alias("query_id"), "lat", "lon")
    fast = {(r["query_id"], r["rank"]): r["point_id"]
            for r in knn_join(qs, imgs, k=3, z=14).collect()}
    brute = {(r["query_id"], r["rank"]): r["point_id"]
             for r in knn_join_brute(qs, imgs, k=3).collect()}
    assert fast == brute
    # the track point at (40.0005,-105.0005) sits exactly on image 1's cell
    assert fast[(3, 1)] == "img_000000000001"

    # 6. image invariants hold for the joined neighbors
    diag = validate_images(synth_images(spark, 50, partitions=2))
    assert diag.filter(~F.col("ok")).count() == 0
