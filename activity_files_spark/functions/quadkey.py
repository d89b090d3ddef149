"""Quadkey (Web-Mercator tile) res-ladder cell index.

Four synchronized implementations of the SAME formula so every tier can be
cross-checked bit-for-bit:

- :func:`quadkey_py`   — pure-Python golden (pins fixtures)
- :func:`quadkey_np`   — numpy vectorized (inside Arrow UDF kernels)
- :func:`quadkey_col`  — native Spark Column expression (whole-stage codegen;
  the zero-Python production path)
- :func:`quadkey_sql`  — ANSI-SQL text (DuckDB oracle)

Tile math is the standard Web-Mercator scheme:
    x = floor((lon + 180) / 360 * 2^z)
    y = floor((0.5 - ln((1+sin φ)/(1-sin φ)) / (4π)) * 2^z)
clamped to [0, 2^z-1]; the quadkey digit at level i (MSB-first) is
bit(x, z-i) + 2*bit(y, z-i).

The reference engine has no tiling (it is a per-file track parser); this is
the north-rule spatial core built fresh. Latitude is clamped to the Mercator
valid range ±85.05112878.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.05112878


def merc_px_py(lat: float, lon: float, z: int) -> tuple[float, float]:
    """CONTINUOUS web-mercator coordinates in tile units at zoom ``z``
    (pixel units when ``z`` is a pixel zoom): :func:`tile_xy_py` before its
    floor and clamp. The one Python projection; polygon rasterization
    ray-casts in this frame."""
    lat = min(max(lat, -MAX_LAT), MAX_LAT)
    scale = float(1 << z)
    x = (lon + 180.0) / 360.0 * scale
    sin_lat = math.sin(lat * math.pi / 180.0)
    y = (0.5 - math.log((1.0 + sin_lat) / (1.0 - sin_lat)) / (4.0 * math.pi)) * scale
    return x, y


def tile_xy_py(lat: float, lon: float, z: int) -> tuple[int, int]:
    n = 1 << z
    x, y = merc_px_py(lat, lon, z)
    return min(max(math.floor(x), 0), n - 1), min(max(math.floor(y), 0), n - 1)


def quadkey_py(lat: float, lon: float, z: int) -> str:
    x, y = tile_xy_py(lat, lon, z)
    digits = []
    for i in range(z, 0, -1):
        digits.append(str(((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1)))
    return "".join(digits)


def tile_xy_np(lat: np.ndarray, lon: np.ndarray, z: int) -> tuple[np.ndarray, np.ndarray]:
    lat = np.clip(lat, -MAX_LAT, MAX_LAT)
    n = np.int64(1) << z
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    sin_lat = np.sin(lat * np.pi / 180.0)
    y = np.floor((0.5 - np.log((1.0 + sin_lat) / (1.0 - sin_lat)) / (4.0 * np.pi)) * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def quadkey_np(lat: np.ndarray, lon: np.ndarray, z: int) -> np.ndarray:
    x, y = tile_xy_np(lat, lon, z)
    out = np.empty(len(x), dtype=object)
    # digit extraction vectorized per level; string assembly via char matrix
    chars = np.empty((z, len(x)), dtype="<U1")
    for i in range(z, 0, -1):
        d = ((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1)
        chars[z - i] = np.char.mod("%d", d)
    for j in range(len(x)):
        out[j] = "".join(chars[:, j])
    return out


def mercator_xy01_col(lat: Column, lon: Column) -> tuple[Column, Column]:
    """Unit-square web-mercator projection (x01, y01) as Column
    expressions, latitude clamped to +-MAX_LAT; tile indexes at any zoom
    derive from it with :func:`tile_index_col`."""
    lat_c = F.greatest(F.least(lat, F.lit(MAX_LAT)), F.lit(-MAX_LAT))
    x01 = (lon + F.lit(180.0)) / F.lit(360.0)
    sin_lat = F.sin(lat_c * F.lit(math.pi) / F.lit(180.0))
    y01 = F.lit(0.5) - F.log(
        (F.lit(1.0) + sin_lat) / (F.lit(1.0) - sin_lat)
    ) / F.lit(4.0 * math.pi)
    return x01, y01


def tile_index_col(v01: Column, z: int) -> Column:
    """floor(v01 * 2^z) clamped to [0, 2^z - 1], as a long Column."""
    n = 1 << z
    t = F.floor(v01 * F.lit(float(n))).cast("long")
    return F.greatest(F.least(t, F.lit(n - 1)), F.lit(0))


def tile_xy_col(lat: Column, lon: Column, z: int) -> tuple[Column, Column]:
    """Native Column expressions for (tile_x, tile_y) at zoom z."""
    x01, y01 = mercator_xy01_col(lat, lon)
    return tile_index_col(x01, z), tile_index_col(y01, z)


def quadkey_col(lat: Column, lon: Column, z: int) -> Column:
    """Quadkey string as a pure Column expression (2z bit-ops, codegen'd)."""
    x, y = tile_xy_col(lat, lon, z)
    digits = []
    for i in range(z, 0, -1):
        d = (
            F.shiftright(x, i - 1).bitwiseAND(F.lit(1))
            + F.shiftright(y, i - 1).bitwiseAND(F.lit(1)) * F.lit(2)
        )
        digits.append(d.cast("string"))
    return F.concat(*digits)


def tile_xy_sql(lat: str, lon: str, z: int) -> tuple[str, str]:
    """ANSI-SQL text twins of the tile x/y expressions (for DuckDB oracles)."""
    n = 1 << z
    lat_c = f"greatest(least({lat}, {MAX_LAT}), -{MAX_LAT})"
    x = f"greatest(least(CAST(floor((({lon}) + 180.0) / 360.0 * {float(n)}) AS BIGINT), {n - 1}), 0)"
    sin_lat = f"sin({lat_c} * pi() / 180.0)"
    y = (
        f"greatest(least(CAST(floor((0.5 - ln((1.0 + {sin_lat}) / (1.0 - {sin_lat}))"
        f" / (4.0 * pi())) * {float(n)}) AS BIGINT), {n - 1}), 0)"
    )
    return x, y


def quadkey_digits_sql(x_col: str, y_col: str, z: int) -> str:
    """SQL concat expression building the quadkey string from integer tile
    columns ``x_col``/``y_col`` (use with a CTE exposing those columns)."""
    digits = []
    for i in range(z, 0, -1):
        digits.append(
            f"CAST((({x_col} >> {i - 1}) & 1) + 2 * (({y_col} >> {i - 1}) & 1) AS VARCHAR)"
        )
    return " || ".join(digits)


def quadkey_sql(lat: str, lon: str, z: int) -> str:
    """Self-contained DuckDB scalar expression (correlated subquery form)."""
    x, y = tile_xy_sql(lat, lon, z)
    concat = quadkey_digits_sql("qx", "qy", z)
    return f"(SELECT {concat} FROM (SELECT {x} AS qx, {y} AS qy) _qk)"


def cell_id_py(lat: float, lon: float, z: int) -> int:
    """Packed-long cell id: (x << z) | y. Equivalent key to the quadkey
    string at the same zoom (bijective), ~16x cheaper to build/compare —
    the hot-path join key. Use the string quadkey for the res ladder /
    display; convert via cell_id <-> (x, y) <-> quadkey."""
    x, y = tile_xy_py(lat, lon, z)
    return (x << z) | y


def cell_id_col(lat: Column, lon: Column, z: int) -> Column:
    """Packed-long cell id as a native Column expression."""
    x, y = tile_xy_col(lat, lon, z)
    return F.shiftleft(x, z).bitwiseOR(y)


def cell_id_sql(lat: str, lon: str, z: int) -> str:
    """DuckDB twin of :func:`cell_id_col` (single scalar expression)."""
    x, y = tile_xy_sql(lat, lon, z)
    return f"(({x}) << {z}) | ({y})"


def quadkey_from_cell_id_col(cell_id: Column, z: int) -> Column:
    """Quadkey string from a packed cell id (Column expression). Build the
    string on the small post-aggregation side, never per input row."""
    x = F.shiftright(cell_id, z)
    y = cell_id.bitwiseAND(F.lit((1 << z) - 1))
    digits = []
    for i in range(z, 0, -1):
        d = (
            F.shiftright(x, i - 1).bitwiseAND(F.lit(1))
            + F.shiftright(y, i - 1).bitwiseAND(F.lit(1)) * F.lit(2)
        )
        digits.append(d.cast("string"))
    return F.concat(*digits)


def cell_id_to_quadkey(cell_id: int, z: int) -> str:
    """Convert a packed cell id back to its quadkey string."""
    x, y = cell_id >> z, cell_id & ((1 << z) - 1)
    return "".join(
        str(((x >> (i - 1)) & 1) + 2 * ((y >> (i - 1)) & 1)) for i in range(z, 0, -1)
    )


def tile_bounds_py(x: int, y: int, z: int) -> tuple[float, float, float, float]:
    """(lon_w, lat_s, lon_e, lat_n) of tile (x, y) at zoom z."""
    n = 1 << z

    def lon_of(xx: float) -> float:
        return xx / n * 360.0 - 180.0

    def lat_of(yy: float) -> float:
        t = math.pi * (1.0 - 2.0 * yy / n)
        return math.degrees(math.atan(math.sinh(t)))

    return lon_of(x), lat_of(y + 1), lon_of(x + 1), lat_of(y)
