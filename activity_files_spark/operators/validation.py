"""Validation operators — the reference's constraint system
(lib/src/validation.dart:295-698) as DataFrame assertions emitting a
diagnostics table (activity_id, code, severity, message-ish attrs).

All pure window/filter expressions; union of the individual check outputs.
Codes and thresholds pinned to the reference:
- point ordering / duplicate ts (validation.dart:357-371)
- gaps > 5 min warn (validation.dart:373-384)
- coordinate/elevation range & finiteness (validation.dart:390-422)
- channel ranges: HR in [20,260] warn, power >= 0 error, distance >= 0
  error, distance non-decreasing warn (+1e-9 slack), non-finite error
  (validation.dart:474-533)
- lap boundaries: inverted, overlap, outside point envelope
  (validation.dart:185-288)
- channel edge cases: empty / single sample (validation.dart:653-698)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from activity_files_spark.functions.time import ts_seconds


def _diag(df: DataFrame, key, code: str, severity: str, detail) -> DataFrame:
    return df.select(
        F.col(key).cast("string").alias("activity_id"),
        F.lit(code).alias("code"),
        F.lit(severity).alias("severity"),
        detail.cast("string").alias("detail"),
    )


def validate_points(points: DataFrame, key: str = "activity_id", gap_warn_s: float = 300.0) -> DataFrame:
    """Ordering, duplicates, gaps, coordinate/elevation ranges."""
    w = Window.partitionBy(key).orderBy("seq")
    prev_ts = F.lag("ts").over(w)
    base = points.withColumn("_prev", prev_ts)
    out_of_order = _diag(
        base.filter(F.col("ts") < F.col("_prev")), key,
        "validation.point_order", "error", F.col("seq"),
    )
    dup_ts = _diag(
        base.filter(F.col("ts") == F.col("_prev")), key,
        "validation.duplicate_timestamp", "error", F.col("seq"),
    )
    wt = Window.partitionBy(key).orderBy("ts")
    gap = ts_seconds(F.col("ts")) - F.lag(ts_seconds(F.col("ts"))).over(wt)
    gaps = _diag(
        points.withColumn("_gap", gap).filter(F.col("_gap") > gap_warn_s), key,
        "validation.time_gap", "warning", F.round(F.col("_gap"), 3),
    )
    bad_coord = _diag(
        points.filter(
            F.isnan("lat") | F.isnan("lon")
            | (F.col("lat") < -90) | (F.col("lat") > 90)
            | (F.col("lon") < -180) | (F.col("lon") > 180)
        ),
        key, "validation.coordinate_range", "error", F.col("seq"),
    )
    checks = [out_of_order, dup_ts, gaps, bad_coord]
    if "ele" in points.columns:
        checks.append(
            _diag(
                points.filter(F.col("ele").isNotNull() & (F.isnan("ele") | (F.col("ele") < -500) | (F.col("ele") > 10000))),
                key, "validation.elevation_range", "warning", F.col("seq"),
            )
        )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def validate_channels(channels: DataFrame, key: str = "activity_id") -> DataFrame:
    """Channel value-range + monotonicity + cardinality checks."""
    ch = channels
    hr = _diag(
        ch.filter((F.col("channel") == "heart_rate") & ((F.col("value") < 20) | (F.col("value") > 260))),
        key, "validation.heart_rate_range", "warning", F.col("value"),
    )
    power = _diag(
        ch.filter((F.col("channel") == "power") & (F.col("value") < 0)),
        key, "validation.power_negative", "error", F.col("value"),
    )
    dist_neg = _diag(
        ch.filter((F.col("channel") == "distance") & (F.col("value") < 0)),
        key, "validation.distance_negative", "error", F.col("value"),
    )
    w = Window.partitionBy(key, "channel").orderBy("ts")
    dist_mono = _diag(
        ch.filter(F.col("channel") == "distance")
        .withColumn("_prev", F.lag("value").over(w))
        .filter(F.col("value") + 1e-9 < F.col("_prev")),
        key, "validation.distance_decreasing", "warning", F.col("value"),
    )
    non_finite = _diag(
        ch.filter(F.isnan("value") | (F.abs(F.col("value")) > 1.5e308)),
        key, "validation.value_not_finite", "error", F.col("channel"),
    )
    singles = _diag(
        ch.groupBy(key, "channel").agg(F.count("*").alias("_n")).filter(F.col("_n") == 1),
        key, "validation.channel_single_sample", "info", F.col("channel"),
    )
    out = hr
    for c in (power, dist_neg, dist_mono, non_finite, singles):
        out = out.unionByName(c)
    return out


def validate_laps(laps: DataFrame, points: DataFrame, key: str = "activity_id") -> DataFrame:
    """Lap boundary checks: inverted, overlapping, outside point envelope."""
    inverted = _diag(
        laps.filter(F.col("end_ts") < F.col("start_ts")), key,
        "validation.lap_inverted", "error", F.col("lap_id"),
    )
    w = Window.partitionBy(key).orderBy("start_ts")
    overlap = _diag(
        laps.withColumn("_prev_end", F.lag("end_ts").over(w))
        .filter(F.col("start_ts") < F.col("_prev_end")),
        key, "validation.lap_overlap", "warning", F.col("lap_id"),
    )
    env = points.groupBy(key).agg(F.min("ts").alias("_t0"), F.max("ts").alias("_t1"))
    outside = _diag(
        laps.join(F.broadcast(env), key)
        .filter((F.col("end_ts") < F.col("_t0")) | (F.col("start_ts") > F.col("_t1"))),
        key, "validation.lap_outside_envelope", "warning", F.col("lap_id"),
    )
    return inverted.unionByName(overlap).unionByName(outside)


def validate_all(
    points: DataFrame,
    channels: DataFrame | None = None,
    laps: DataFrame | None = None,
    key: str = "activity_id",
    gap_warn_s: float = 300.0,
) -> DataFrame:
    out = validate_points(points, key, gap_warn_s=gap_warn_s)
    if channels is not None:
        out = out.unionByName(validate_channels(channels, key))
    if laps is not None:
        out = out.unionByName(validate_laps(laps, points, key))
    return out


# Full public FIT-SDK manufacturer id -> display name table
# (models.dart:40-220); valid id range 1..65534 (validation.dart:564-646)
MANUFACTURER_IDS = {
    1: "Garmin", 2: "Garmin FR405 ANTFS", 3: "Zephyr", 4: "Dayton", 5: "IDT",
    6: "SRM", 7: "Quarq", 8: "iBike", 9: "Saris", 10: "Spark HK",
    11: "Tanita", 12: "Echowell", 13: "Dynastream OEM", 14: "Nautilus",
    15: "Dynastream", 16: "Timex", 17: "Metrigear", 18: "Xelic",
    19: "Beurer", 20: "Cardiosport", 21: "A&D", 22: "HMM", 23: "Suunto",
    24: "Thita Elektronik", 25: "GPulse", 26: "Clean Mobile",
    27: "Pedal Brain", 28: "Peaksware", 29: "Saxonar", 30: "LeMond Fitness",
    31: "Dexcom", 32: "Wahoo Fitness", 33: "Octane Fitness",
    34: "Archinoetics", 35: "The Hurt Box", 36: "Citizen Systems",
    37: "Magellan", 38: "Osynce", 39: "Holux", 40: "Concept2",
    42: "One Giant Leap", 43: "Ace Sensor", 44: "Brim Brothers",
    45: "Xplova", 46: "Perception Digital", 47: "BF1systems", 48: "Pioneer",
    49: "Spantec", 50: "Metalogics", 51: "4iiiis", 52: "Seiko Epson",
    53: "Seiko Epson OEM", 54: "Ifor Powell", 55: "Maxwell Guider",
    56: "Star Trac", 57: "Breakaway", 58: "Alatech Technology Ltd",
    59: "MIO Technology Europe", 60: "Rotor", 61: "Geonaute", 62: "ID Bike",
    63: "Specialized", 64: "Wtek", 65: "Physical Enterprises",
    66: "North Pole Engineering", 67: "Bkool", 68: "Cateye",
    69: "Stages Cycling", 70: "Sigmasport", 71: "TomTom", 72: "Peripedal",
    73: "Wattbike", 76: "Moxy", 77: "Ciclosport", 78: "Powerbahn",
    79: "Acorn Projects APS", 80: "Lifebeam", 81: "Bontrager", 82: "Wellgo",
    83: "Scosche", 84: "Magura", 85: "Woodway", 86: "Elite",
    87: "Nielsen Kellerman", 88: "DK City", 89: "Tacx",
    90: "Direction Technology", 91: "Magtonic", 92: "1partCarbon",
    93: "Inside Ride Technologies", 94: "Sound Of Motion", 95: "Stryd",
    96: "ICG", 97: "MiPulse", 98: "BSX Athletics", 99: "Look",
    100: "Campagnolo SRL", 101: "Body Bike Smart", 102: "Praxisworks",
    103: "Limits Technology", 104: "Topaction Technology", 105: "Cosinuss",
    106: "Fitcare", 107: "Magene", 108: "Giant Manufacturing Co",
    109: "Tigrasport", 110: "Salutron", 111: "Technogym",
    112: "Bryton Sensors", 113: "Latitude Limited",
    114: "Soaring Technology", 115: "Igpsport", 116: "Thinkrider",
    117: "Gopher Sport", 118: "Waterrower", 119: "Orangetheory",
    120: "Inpeak", 121: "Kinetic", 122: "Johnson Health Tech",
    123: "Polar Electro", 124: "Seesense", 125: "NCI Technology",
    126: "iQsquare", 127: "Leomo", 128: "iFit.com", 129: "Coros Byte",
    130: "Versa Design", 131: "Chileaf", 132: "Cycplus", 255: "Development",
    257: "Healthandlife", 258: "Lezyne", 259: "Scribe Labs", 260: "Zwift",
    261: "Watteam", 262: "Recon", 263: "Favero Electronics", 264: "Dynovelo",
    265: "Strava", 266: "Precor", 267: "Bryton", 268: "SRAM", 269: "Navman",
    270: "Cobi", 271: "Spivi", 272: "MIO Magellan", 273: "Evesports",
    274: "Sensitivus Gauge", 275: "Podoon", 276: "Life Time Fitness",
    277: "Falco e-Motors", 278: "Minoura", 279: "Cycliq", 280: "Luxottica",
    281: "TrainerRoad", 282: "The Sufferfest", 283: "Fullspeedahead",
    284: "Virtualtraining", 285: "Feedbacksports", 286: "Omata", 287: "VDO",
    288: "Magneticdays", 289: "Hammerhead", 290: "Kinetic by Kurt",
    291: "Shapelog", 292: "Dabuziduo", 293: "Jetblack", 294: "Coros",
    295: "Virtugo", 296: "Velosense", 297: "Cycligentinc", 298: "Trailforks",
    299: "Mahle Ebikemotion", 300: "Nurvv", 301: "Microprogram",
    302: "Zone5cloud", 303: "Greenteg", 304: "Yamaha Motors",
    5759: "Actigraphcorp",
}


def validate_devices(meta: DataFrame, key: str = "activity_id") -> DataFrame:
    """Device metadata checks: FIT manufacturer id in [1, 65534]; known-id
    name cross-check against the broadcast manufacturer table."""
    dev = meta.filter(F.col("attrs")["device.manufacturer"].isNotNull()).select(
        F.col(key),
        F.col("attrs")["device.manufacturer"].cast("int").alias("_mid"),
    )
    bad_range = _diag(
        dev.filter(F.col("_mid").isNull() | (F.col("_mid") < 1) | (F.col("_mid") > 65534)),
        key, "validation.device_id_range", "error", F.col("_mid"),
    )
    spark = meta.sparkSession
    lookup = spark.createDataFrame(
        [(k, v) for k, v in MANUFACTURER_IDS.items()], "mid int, name string"
    )
    unknown = _diag(
        dev.filter((F.col("_mid") >= 1) & (F.col("_mid") <= 65534))
        .join(F.broadcast(lookup), dev["_mid"] == lookup["mid"], "left_anti"),
        key, "validation.device_id_unknown", "info", F.col("_mid"),
    )
    return bad_range.unionByName(unknown)


# ---------------------------------------------------------------- lossy

def lossy_diagnostics(
    records: DataFrame, to_fmt: str, key: str = "activity_id"
) -> DataFrame:
    """Target-format loss accounting (facade.dart:299-382): info diagnostics
    for data the record stream carries that ``to_fmt`` cannot represent, so
    conversion loss is reported instead of silent. Only FULL drops are
    flagged (features a target writes in some form — GPX channel extensions,
    GeoJSON lap aggregates — are not).

    Codes (severity info):
      lossy.multi_track_flattened  to != gpx, source has > 1 track
      lossy.sets_dropped           to != fit, strength sets present
      lossy.events_dropped         to != fit, timer events present
      lossy.lengths_dropped        to != fit, pool-swim lengths present
      lossy.sessions_dropped       to != fit, > 1 session present
      lossy.summary_dropped        to != fit, session summary stats present
      lossy.laps_dropped           to in {gpx, csv}, laps present

    One distributed aggregate over the stream -> conditional explode; no
    driver-side work.
    """
    fmt = to_fmt.lower()
    per = records.groupBy(key).agg(
        F.count(F.when(F.col("kind") == "set", 1)).alias("_sets"),
        F.count(F.when((F.col("kind") == "channel")
                       & (F.col("channel") == "event"), 1)).alias("_events"),
        F.count(F.when(F.col("kind") == "length", 1)).alias("_lengths"),
        F.count(F.when(F.col("kind") == "lap", 1)).alias("_laps"),
        F.max(F.when(F.col("kind") == "meta",
                     F.coalesce(F.col("attrs")["session.count"].cast("int"),
                                F.lit(0)))).alias("_sessions"),
        F.max(F.when(F.col("kind") == "meta",
                     F.coalesce(F.col("attrs")["track.count"].cast("int"),
                                F.lit(0)))).alias("_tracks"),
        F.max(F.when(F.col("kind") == "meta",
                     (F.col("attrs")["session.total_distance_m"].isNotNull()
                      | F.col("attrs")["session.total_elapsed_s"].isNotNull())
                     .cast("int"))).alias("_summary"),
    )

    to_fit = "Export to FIT to preserve it."
    checks = []
    if fmt != "gpx":
        checks.append((
            F.col("_tracks") > 1, "lossy.multi_track_flattened",
            F.concat(F.lit("Source contains "), F.col("_tracks") - 1,
                     F.lit(f" additional track(s); the {fmt} format cannot "
                           "represent multiple tracks, so all tracks are "
                           "merged into one during encoding.")),
            "Export to GPX to preserve the multi-track structure.",
        ))
    if fmt != "fit":
        checks.extend([
            (F.col("_sets") > 0, "lossy.sets_dropped",
             F.concat(F.col("_sets"),
                      F.lit(f" strength-training set(s) cannot be represented"
                            f" in {fmt} and are dropped.")), to_fit),
            (F.col("_events") > 0, "lossy.events_dropped",
             F.concat(F.col("_events"),
                      F.lit(f" timer event(s) cannot be represented in {fmt}"
                            " and are dropped.")), to_fit),
            (F.col("_lengths") > 0, "lossy.lengths_dropped",
             F.concat(F.col("_lengths"),
                      F.lit(f" pool-swim length(s) cannot be represented in"
                            f" {fmt} and are dropped.")), to_fit),
            (F.col("_sessions") > 1, "lossy.sessions_dropped",
             F.concat(F.col("_sessions") - 1,
                      F.lit(f" additional session(s) cannot be represented"
                            f" in {fmt} and are dropped.")), to_fit),
            (F.col("_summary") == 1, "lossy.summary_dropped",
             F.lit(f"The session summary statistics are not written to {fmt}."),
             to_fit),
        ])
    if fmt in ("gpx", "csv"):
        checks.append((
            F.col("_laps") > 0, "lossy.laps_dropped",
            F.concat(F.col("_laps"),
                     F.lit(f" lap(s) cannot be represented in {fmt} and are"
                           " dropped.")),
            "Export to TCX or FIT to preserve laps.",
        ))

    structs = [
        F.when(cond, F.struct(
            F.lit(code).alias("code"),
            msg.cast("string").alias("message"),
            F.lit(fix).alias("fix"),
        ))
        for cond, code, msg, fix in checks
    ]
    if not structs:
        return per.select(
            F.col(key),
            F.lit(None).cast("string").alias("code"),
            F.lit("info").alias("severity"),
            F.lit(None).cast("string").alias("detail"),
            F.lit(None).cast("string").alias("fix"),
        ).limit(0)
    exploded = per.select(
        F.col(key),
        F.explode(F.filter(F.array(*structs), lambda s: s.isNotNull())).alias("_d"),
    )
    return exploded.select(
        key,
        F.col("_d.code").alias("code"),
        F.lit("info").alias("severity"),
        F.col("_d.message").alias("detail"),
        F.col("_d.fix").alias("fix"),
    )
