"""H3-style hexagonal cell index (axial coordinates, res ladder).

A from-scratch hex binning — NOT the H3 library (which is not available
here): pointy-top hexagons on the (lon, lat) plane, resolution r has
circumradius ``BASE_DEG / 2**r`` degrees (aperture-4 ladder). Cell id packs
(res, q, r) into one long. Like the quadkey module, four synchronized
implementations are kept bit-identical (pure-python golden / numpy /
Column expression / SQL twin), and the FIXTURES.md §7 goldens are pinned
from the pure-python kernel.

Hex math (public knowledge, e.g. Red Blob Games hexagon guide):
  fractional axial coords of point (x, y) for circumradius s:
      q = (sqrt(3)/3 * x - 1/3 * y) / s
      r = (2/3 * y) / s
  cube rounding with floor(v + 0.5) (NOT banker's round — consistent
  half-up in every engine), largest-residual correction.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

BASE_DEG = 1.0
_OFF = 1 << 25  # q/r offset so packed components are non-negative
SQRT3 = math.sqrt(3.0)


def _size(res: int) -> float:
    return BASE_DEG / (1 << res)


def hex_cell_py(lat: float, lon: float, res: int) -> int:
    s = _size(res)
    q = (SQRT3 / 3.0 * lon - lat / 3.0) / s
    r = (2.0 / 3.0 * lat) / s
    x, z = q, r
    y = -x - z
    rx = math.floor(x + 0.5)
    ry = math.floor(y + 0.5)
    rz = math.floor(z + 0.5)
    dx, dy, dz = abs(rx - x), abs(ry - y), abs(rz - z)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    return (res << 52) | ((int(rx) + _OFF) << 26) | (int(rz) + _OFF)


def hex_cell_np(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    s = _size(res)
    q = (SQRT3 / 3.0 * lon - lat / 3.0) / s
    r = (2.0 / 3.0 * lat) / s
    x, z = q, r
    y = -x - z
    rx = np.floor(x + 0.5)
    ry = np.floor(y + 0.5)
    rz = np.floor(z + 0.5)
    dx, dy, dz = np.abs(rx - x), np.abs(ry - y), np.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    fix_z = ~fix_x & ~fix_y
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(fix_z, -rx - ry, rz)
    return (
        (np.int64(res) << 52)
        | ((rx.astype(np.int64) + _OFF) << 26)
        | (rz.astype(np.int64) + _OFF)
    )


def hex_cell_col(lat: Column, lon: Column, res: int) -> Column:
    s = _size(res)
    q = (F.lit(SQRT3) / F.lit(3.0) * lon - lat / F.lit(3.0)) / F.lit(s)
    r = (F.lit(2.0) / F.lit(3.0) * lat) / F.lit(s)
    x, z = q, r
    y = -x - z
    rx = F.floor(x + F.lit(0.5)).cast("double")
    ry = F.floor(y + F.lit(0.5)).cast("double")
    rz = F.floor(z + F.lit(0.5)).cast("double")
    dx, dy, dz = F.abs(rx - x), F.abs(ry - y), F.abs(rz - z)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    rx2 = F.when(fix_x, -ry - rz).otherwise(rx)
    ry2 = F.when(fix_y, -rx - rz).otherwise(ry)
    rz2 = F.when(~fix_x & ~fix_y, -rx2 - ry2).otherwise(rz)
    return (
        F.shiftleft(F.lit(res).cast("long"), 52)
        .bitwiseOR(F.shiftleft(rx2.cast("long") + F.lit(_OFF), 26))
        .bitwiseOR(rz2.cast("long") + F.lit(_OFF))
    )


def hex_cell_sql(lat: str, lon: str, res: int) -> str:
    """DuckDB twin (CTE-free scalar; caller may inline)."""
    s = _size(res)
    q = f"(({SQRT3!r} / 3.0 * ({lon}) - ({lat}) / 3.0) / {s!r})"
    r = f"((2.0 / 3.0 * ({lat})) / {s!r})"
    x, z = q, r
    y = f"(-{x} - {z})"
    rx = f"CAST(floor({x} + 0.5) AS DOUBLE)"
    ry = f"CAST(floor({y} + 0.5) AS DOUBLE)"
    rz = f"CAST(floor({z} + 0.5) AS DOUBLE)"
    dx = f"abs({rx} - {x})"
    dy = f"abs({ry} - {y})"
    dz = f"abs({rz} - {z})"
    fix_x = f"({dx} > {dy} AND {dx} > {dz})"
    fix_y = f"(NOT {fix_x} AND {dy} > {dz})"
    rx2 = f"(CASE WHEN {fix_x} THEN -{ry} - {rz} ELSE {rx} END)"
    ry2 = f"(CASE WHEN {fix_y} THEN -{rx} - {rz} ELSE {ry} END)"
    rz2 = f"(CASE WHEN NOT {fix_x} AND NOT {fix_y} THEN -{rx2} - {ry2} ELSE {rz} END)"
    return (
        f"((CAST({res} AS BIGINT) << 52)"
        f" | ((CAST({rx2} AS BIGINT) + {_OFF}) << 26)"
        f" | (CAST({rz2} AS BIGINT) + {_OFF}))"
    )


def hex_center_py(cell_id: int) -> tuple[float, float]:
    """(lat, lon) of the cell center."""
    res = cell_id >> 52
    q = ((cell_id >> 26) & ((1 << 26) - 1)) - _OFF
    r = (cell_id & ((1 << 26) - 1)) - _OFF
    s = _size(res)
    # inverse of the axial transform: x = s*sqrt3*(q + r/2); y = s*3/2*r
    x = s * SQRT3 * (q + r / 2.0)
    y = s * 1.5 * r
    return y, x
