"""One decode pass per input file: payload rows -> the record stream.

The reference has one parse path (activity_files_facade.dart): detect the
format, decode the text with BOM priority, parse into one activity IR.
:func:`decode_records` is that path as a single mapInPandas kernel: each
row takes the given format or the one ``detect.detect_format_py`` names,
text formats are decoded by ``detect.decode_text`` unless the payload is
already a string, and :data:`PARSERS` picks the parser. A payload whose
format cannot be detected becomes a ``detect.unknown_format`` diag record;
parsers never throw on malformed data (parse_result.dart:69-100).
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame

from activity_files_spark.operators.kernels import Kernel, map_kernels
from activity_files_spark.sources.csvsrc import parse_csv
from activity_files_spark.sources.detect import decode_text, detect_format_py
from activity_files_spark.sources.fit import parse_fit
from activity_files_spark.sources.geojson import parse_geojson
from activity_files_spark.sources.gpx import parse_gpx
from activity_files_spark.sources.records import (
    RECORD_SCHEMA,
    normalize_records,
    records_frame,
)
from activity_files_spark.sources.tcx import parse_tcx


def _parse_geojson_track(activity_id: str, text: str) -> list[dict]:
    # polygon rings also come out as geofence records, which feed the PIP
    # join (geojson.geojson_geofences), not the activity stream
    return [r for r in parse_geojson(activity_id, text) if r.get("kind") != "geofence"]


# format -> parse(activity_id, payload): record dicts, or one frame of
# partial records (CSV). FIT parses the raw bytes, the others decoded text.
PARSERS = {
    "gpx": parse_gpx,
    "tcx": parse_tcx,
    "geojson": _parse_geojson_track,
    "csv": parse_csv,
    "fit": parse_fit,
}


def _parse_payload(activity_id: str, payload, fmt: str | None, charset: str):
    fmt = fmt or detect_format_py(payload, activity_id, charset)
    if fmt is None:
        return [{"activity_id": activity_id, "kind": "diag",
                 "attrs": {"code": "detect.unknown_format", "severity": "error",
                           "message": "format not detectable"}}]
    if fmt != "fit" and not isinstance(payload, str):
        payload = decode_text(payload, charset)
    return PARSERS[fmt](activity_id, payload)


def decode_records(
    files: DataFrame,
    fmt: str | None = None,
    charset: str = "utf-8",
    payload_col: str = "payload",
) -> DataFrame:
    """(activity_id, payload) rows -> record stream (records.RECORD_SCHEMA).

    ``fmt``: one of :data:`PARSERS` for every row, or None to detect each
    row's format from its binary payload and its activity_id (a path's
    extension wins). ``charset``: Python codec for text payloads without a
    BOM. ``payload_col``: binary, or string for text formats (the encoders
    write ``xml``, ``text`` or ``payload``)."""
    return map_kernels(
        files.select("activity_id", payload_col),
        decode_records_kernel(fmt, charset, payload_col),
    )


def decode_records_kernel(
    fmt: str | None = None,
    charset: str = "utf-8",
    payload_col: str = "payload",
) -> Kernel:
    """:func:`decode_records` as a kernel, to chain behind the kernel that
    writes the documents (an encoder's ``then=``); arguments as there."""
    if fmt is not None and fmt not in PARSERS:
        raise ValueError(f"unknown format {fmt!r} (choose from {sorted(PARSERS)})")

    def kernel(batches):
        for pdf in batches:
            rows: list[dict] = []
            frames: list[pd.DataFrame] = []
            for aid, payload in zip(pdf["activity_id"], pdf[payload_col]):
                out = _parse_payload(aid, payload, fmt, charset)
                if isinstance(out, pd.DataFrame):
                    frames.append(out)
                else:
                    rows.extend(out)
            if not frames:
                yield records_frame(rows)
                continue
            frames.append(records_frame(rows))
            with warnings.catch_warnings():
                # all-NA columns of the partial frames: normalize_records
                # coerces every dtype afterward
                warnings.simplefilter("ignore", FutureWarning)
                yield normalize_records(
                    pd.concat([f for f in frames if len(f)], ignore_index=True)
                )

    return Kernel(kernel, RECORD_SCHEMA)
