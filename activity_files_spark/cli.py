"""spark-submit entry point (S14 — the reference CLI re-expressed).

Usage (package the library with --py-files):

    zip -r engine.zip activity_files_spark
    spark-submit --py-files engine.zip spark_main.py convert \\
        --input /data/raw --from auto --to gpx --output /data/out
    spark-submit ... spark_main.py validate --input /data/raw --from auto --report /data/diag
    spark-submit ... spark_main.py tile --images /data/images.parquet --resolutions 8,10,12 \\
        --geofences /data/geofences.json --output /data/tiles --manifest /data/ckpt

(spark-submit takes an application file, not a module; `spark_main.py` at the
repo root is the one-file launcher, proven zip-only importable by
tests/test_spark_submit.py.)

Reference: bin/activity_files.dart:37-394 (convert/validate commands).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from activity_files_spark.operators.materialize import materialize


# accepted --encoding names -> Python codec (reference: Dart Encoding
# names); a BOM in the payload overrides the choice (detect.decode_text)
_CHARSETS = {
    "utf8": "utf-8", "utf-8": "utf-8",
    "latin1": "iso-8859-1", "iso-8859-1": "iso-8859-1",
    "ascii": "ascii",
    # BOM-less UTF-16 is big-endian, as the JVM's UTF-16 charset reads it
    "utf16": "utf-16-be", "utf-16": "utf-16-be",
    "utf16le": "utf-16-le", "utf16be": "utf-16-be",
}


def _load_records(spark, args):
    """Read every input file once and decode it into the record stream:
    ``--from`` or per-file detection picks the parser, ``--encoding``
    decodes text formats without a BOM (FIT is binary, unaffected)."""
    from activity_files_spark.sources.decode import decode_records

    charset = _CHARSETS.get((getattr(args, "encoding", "utf8") or "utf8").lower())
    if charset is None:
        raise SystemExit(
            f"unsupported --encoding (choose from {sorted(_CHARSETS)})"
        )
    files = spark.read.format("binaryFile").load(args.input).select(
        F.col("path").alias("activity_id"), F.col("content").alias("payload")
    )
    fmt = None if args.from_fmt == "auto" else args.from_fmt
    return decode_records(files, fmt=fmt, charset=charset)


def cmd_convert(spark, args) -> int:
    from activity_files_spark.operators.normalize import sort_dedup, trim_invalid
    from activity_files_spark.sources.records import (
        as_records,
        channels_of,
        laps_of,
        points_of,
    )

    records = materialize(_load_records(spark, args), eager=False)
    autofix_diags = None
    if getattr(args, "autofix", False):
        # the reference's declarative pipeline (facade:1472-1501): request ->
        # autofix chain -> export, with before/after diff diagnostics
        from activity_files_spark.plans.autofix import AutoFixOptions, auto_fix

        sports = records.filter(F.col("kind") == "meta").select(
            "activity_id", "sport"
        )
        fixed = auto_fix(
            points_of(records),
            channels=channels_of(records),
            laps=laps_of(records),
            sports=sports,
            options=AutoFixOptions(
                auto_lap_by_distance=getattr(args, "auto_lap", False)
            ),
        )
        points, channels, laps = fixed["points"], fixed["channels"], fixed["laps"]
        autofix_diags = fixed["diagnostics"].select(
            "activity_id", "code", "severity",
            F.col("message").alias("detail"),
            F.lit(None).cast("string").alias("fix"),
        )
    else:
        points = trim_invalid(sort_dedup(points_of(records)))
        channels = channels_of(records)
        laps = laps_of(records)
    # encoder-side channel association (channel_mapper.dart + EncoderOptions
    # maxDelta): snap each channel's nearest sample within tolerance onto the
    # final point timestamps; identity on already-aligned data
    from activity_files_spark.operators.asof import snap_channels_to_points

    overrides = {
        ch: getattr(args, attr)
        for ch, attr in (("heart_rate", "hr_max_delta"),
                         ("cadence", "cadence_max_delta"),
                         ("power", "power_max_delta"),
                         ("temperature", "temp_max_delta"))
        if getattr(args, attr, None) is not None
    }
    # channel-name set from the materialized records (not the heavy
    # post-autofix plan), plus the channels autofix recomputes; timer events
    # are punctual markers, not samples — they bypass snapping untouched
    names = {
        r["channel"]
        for r in records.filter(F.col("kind") == "channel")
        .select("channel").distinct().collect()
        if r["channel"] and r["channel"] != "event"
    }
    if getattr(args, "autofix", False):
        names |= {"distance", "speed"}
    event_rows = channels.filter(F.col("channel") == "event")
    snapped = snap_channels_to_points(
        points, channels.filter(F.col("channel") != "event"),
        tolerances=overrides,
        default_tol_s=getattr(args, "max_delta_seconds", 5.0),
        channel_names=sorted(names),
    ) if names else channels.filter(F.col("channel") != "event")
    channels = snapped.unionByName(
        event_rows.select("activity_id", "ts", "channel", "value")
    )

    # one record stream for every encoder; GPX keeps no laps and the
    # GeoJSON LineString no channels, so those two take a prefix of it
    pts = as_records(points, "point")
    track = pts.unionByName(as_records(channels, "channel"))
    stream = track.unionByName(as_records(laps, "lap"))
    if args.to_fmt == "gpx":
        # GPX keeps no lap structure (lossy.laps_dropped reports it), but
        # standalone waypoints, routes, and metadata survive gpx -> gpx:
        # the normalized points/channels rejoin the source stream's
        # waypoint/route/meta records (reference gpx_encoder.dart:125-130
        # writes wpt/rte before tracks)
        from activity_files_spark.sources.gpx import gpx_encode_records

        enc = gpx_encode_records(
            track.unionByName(records.filter(
                F.col("kind").isin("waypoint", "route", "route_point", "meta")
            )),
            version=getattr(args, "gpx_version", "1.1"),
            coord_dp=getattr(args, "precision_latlon", 6),
            ele_dp=getattr(args, "precision_ele", 2),
        )
        payload_col = "xml"
    elif args.to_fmt == "tcx":
        from activity_files_spark.sources.tcx import tcx_encode_records

        enc = tcx_encode_records(stream, version=getattr(args, "tcx_version", "2"))
        payload_col = "xml"
    elif args.to_fmt == "geojson":
        from activity_files_spark.sources.geojson import geojson_encode_records

        enc = geojson_encode_records(pts)
        payload_col = "text"
    elif args.to_fmt == "fit":
        from activity_files_spark.sources.fit import fit_encode_records

        enc = fit_encode_records(stream)
        payload_col = "payload"
    elif args.to_fmt == "csv":
        from activity_files_spark.sources.csvsrc import csv_encode_text_df

        enc = csv_encode_text_df(points, channels)
        payload_col = "text"
    else:
        print(f"unsupported --to {args.to_fmt}", file=sys.stderr)
        return 2
    # the write, the count, the report write, and the counts collect would
    # otherwise each re-execute the full (autofix) pipeline
    enc = materialize(enc.select("activity_id", F.col(payload_col)), eager=False)
    enc.write.mode("overwrite").parquet(args.output)
    # target-format loss accounting (facade.dart:299-382): what the source
    # carried that `--to` cannot represent is reported, never silent
    from activity_files_spark.operators.validation import lossy_diagnostics

    diags = lossy_diagnostics(records, args.to_fmt)
    if autofix_diags is not None:
        diags = diags.unionByName(autofix_diags)
    diags = materialize(diags, eager=False)
    if getattr(args, "report", None):
        diags.write.mode("overwrite").parquet(args.report)
    counts = {
        r["code"]: r["n"]
        for r in diags.groupBy("code").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({
        "converted": enc.count(), "to": args.to_fmt, "output": args.output,
        "diagnostics": counts,
    }))
    return 0


def cmd_validate(spark, args) -> int:
    from activity_files_spark.operators.validation import validate_all
    from activity_files_spark.sources.records import (
        channels_of,
        diagnostics_of,
        laps_of,
        points_of,
    )

    records = materialize(_load_records(spark, args), eager=False)
    diags = validate_all(
        points_of(records), channels_of(records), laps_of(records),
        gap_warn_s=getattr(args, "gap_threshold", 300.0),
    )
    parse_diags = diagnostics_of(records).select(
        "activity_id",
        F.col("attrs")["code"].alias("code"),
        F.col("attrs")["severity"].alias("severity"),
        F.col("attrs")["message"].alias("detail"),
    )
    all_diags = diags.unionByName(parse_diags)
    if args.report:
        all_diags.write.mode("overwrite").parquet(args.report)
    counts = {r["severity"]: r["n"] for r in all_diags.groupBy("severity").agg(F.count("*").alias("n")).collect()}
    print(json.dumps({"diagnostics": counts}))
    return 1 if args.strict and counts.get("error", 0) > 0 else 0


def cmd_tile(spark, args) -> int:
    from activity_files_spark.operators.spatial import pip_join
    from activity_files_spark.operators.tiling import tile_assign, validate_images
    from activity_files_spark.plans.manifest import Manifest

    resolutions = [int(z) for z in args.resolutions.split(",")]
    m = Manifest(spark, args.manifest) if args.manifest else None

    def load():
        return spark.read.parquet(args.images)

    def tiles():
        imgs = load().select("image_id", "lat", "lon")
        return tile_assign(imgs, resolutions=resolutions)

    if m:
        tiles_df = m.run_stage("tiles", tiles, inputs=[args.images],
                               config={"resolutions": resolutions})
    else:
        tiles_df = tiles()
    tiles_df.write.mode("overwrite").partitionBy("zoom").parquet(args.output)

    result = {"tiles": tiles_df.count(), "output": args.output}
    if args.geofences:
        with open(args.geofences) as f:
            polys = json.load(f)
        hits = pip_join(load().select("image_id", "lat", "lon"), polys)
        result["pip_rows"] = hits.count()
    if args.validate:
        bad = validate_images(load()).filter(~F.col("ok")).count()
        result["invalid_images"] = bad
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="activity_files_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("convert")
    c.add_argument("--input", required=True)
    c.add_argument("--from", dest="from_fmt", default="auto")
    c.add_argument("--to", dest="to_fmt", required=True)
    c.add_argument("--output", required=True)
    c.add_argument("--report", default=None,
                   help="optional parquet path for lossy.*/autofix.* diagnostics")
    c.add_argument("--autofix", action="store_true",
                   help="run the auto-fix chain (sort+dedup, trim, recompute "
                        "distance/speed, gap-fill) before encoding")
    c.add_argument("--auto-lap", dest="auto_lap", action="store_true",
                   help="with --autofix: generate distance-split laps when "
                        "missing (1 km run / 5 km bike)")
    # encoder options (reference bin/activity_files.dart:313-360)
    c.add_argument("--encoding", default="utf8",
                   help="text encoding for GPX/TCX/CSV/GeoJSON inputs")
    c.add_argument("--max-delta-seconds", dest="max_delta_seconds",
                   type=float, default=5.0,
                   help="channel-to-point association tolerance")
    for ch in ("hr", "cadence", "power", "temp"):
        c.add_argument(f"--{ch}-max-delta", dest=f"{ch}_max_delta",
                       type=float, default=None)
    c.add_argument("--gpx-version", default="1.1", choices=["1.0", "1.1"])
    c.add_argument("--tcx-version", dest="tcx_version", default="2",
                   choices=["1", "2"])
    c.add_argument("--precision-latlon", dest="precision_latlon",
                   type=int, default=6)
    c.add_argument("--precision-ele", dest="precision_ele", type=int, default=2)

    v = sub.add_parser("validate")
    v.add_argument("--input", required=True)
    v.add_argument("--from", dest="from_fmt", default="auto")
    v.add_argument("--report", default=None)
    v.add_argument("--strict", action="store_true")
    v.add_argument("--gap-threshold", dest="gap_threshold", type=float,
                   default=300.0,
                   help="seconds between points before a gap warning "
                        "(reference bin/activity_files.dart:244)")

    t = sub.add_parser("tile")
    t.add_argument("--images", required=True)
    t.add_argument("--resolutions", default="8,10,12")
    t.add_argument("--geofences", default=None)
    t.add_argument("--output", required=True)
    t.add_argument("--manifest", default=None)
    t.add_argument("--validate", action="store_true")

    args = ap.parse_args(argv)
    from activity_files_spark.session import get_spark

    spark = get_spark("activity_files_spark_cli")
    if args.cmd == "convert":
        return cmd_convert(spark, args)
    if args.cmd == "validate":
        return cmd_validate(spark, args)
    if args.cmd == "tile":
        return cmd_tile(spark, args)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
