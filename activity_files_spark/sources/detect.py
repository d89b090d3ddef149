"""Format auto-detection and BOM-priority text decoding (S1).

Reference semantics (activity_files_facade.dart:1707-1729, 1866-2049):
extension map first, then content sniff of a bounded prefix (128 KiB):
XML root element -> gpx/tcx, GeoJSON markers, CSV header heuristic
(timestamp+latitude+longitude), FIT magic (binary or base64), BOM-aware
text decode (facade:2051-2126).

``detect_format_py`` names the format of one payload and ``decode_text`` is
the one BOM-priority decoder; both run per file inside
:func:`activity_files_spark.sources.decode.decode_records`.
"""

from __future__ import annotations

import base64
import binascii

SNIFF_BYTES = 128 * 1024  # facade:30

EXTENSION_MAP = {
    ".gpx": "gpx", ".tcx": "tcx", ".fit": "fit", ".csv": "csv",
    ".json": "geojson", ".geojson": "geojson",
}

_BOMS = [
    (b"\xff\xfe\x00\x00", "utf-32-le"), (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"), (b"\xfe\xff", "utf-16-be"),
    (b"\xef\xbb\xbf", "utf-8"),
]


def decode_text(data: bytes, charset: str = "utf-8") -> str:
    """BOM-priority decode (facade:2051-2126 `_parseBytesWithBom`): a
    UTF-32/16/8 BOM always wins over ``charset``, which applies only to
    payloads without one. Undecodable bytes become U+FFFD, never an
    exception, and exactly one leading U+FEFF is stripped (a second one is
    document content)."""
    enc = next((e for bom, e in _BOMS if data.startswith(bom)), charset)
    text = data.decode(enc, "replace")
    return text[1:] if text.startswith("\ufeff") else text


def detect_format_py(
    payload: bytes, filename: str | None = None, charset: str = "utf-8"
) -> str | None:
    """Return one of gpx/tcx/fit/csv/geojson, or None if undetectable.
    The FIT magic is checked on the raw bytes; the text sniffs read the
    prefix through :func:`decode_text`, so a BOM wins and ``charset``
    applies to BOM-less text."""
    if filename:
        for ext, fmt in EXTENSION_MAP.items():
            if filename.lower().endswith(ext):
                return fmt
    head = payload[:SNIFF_BYTES]
    if len(head) >= 12 and head[0] in (12, 14) and head[8:12] == b".FIT":
        return "fit"
    text = decode_text(head, charset).lstrip("\ufeff \t\r\n")
    low = text[:4096].lower()
    if low.startswith("<?xml") or low.startswith("<"):
        if "<gpx" in low:
            return "gpx"
        if "trainingcenterdatabase" in low:
            return "tcx"
        return None
    if low.startswith("{") or low.startswith("["):
        if '"featurecollection"' in low or '"feature"' in low or '"geometry"' in low:
            return "geojson"
        return None
    first_line = low.splitlines()[0] if low else ""
    if "timestamp" in first_line and "latitude" in first_line and "longitude" in first_line:
        return "csv"
    # base64-encoded FIT (facade:1878-1991)
    compact = "".join(text[:512].split())
    if compact:
        try:
            raw = base64.b64decode(compact[: 4 * (len(compact) // 4)], validate=True)
            if len(raw) >= 12 and raw[0] in (12, 14) and raw[8:12] == b".FIT":
                return "fit"
        except (binascii.Error, ValueError):
            pass
    return None
