"""WGS84 geodesy: geodetic -> ECEF and straight-line (chord) distance.

The reference scores coincidences with the straight-line distance between
station coordinates (libmuonpi ``coordinate::transformation<double,
WGS84>::straight_distance``, called from reference
src/analysis/coincidence.cpp:20-24). Standard public WGS84 math.

Two implementations with identical arithmetic:
- scalar ``math`` (used by the golden model and the per-cluster kernel)
- Spark Column expressions (JVM-side; used for SQL-path distance predicates)
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column

from ..constants import WGS84_A, WGS84_E2


def ecef_scalar(lat_deg: float, lon_deg: float, h: float) -> tuple[float, float, float]:
    """Scalar geodetic -> ECEF (pure math module — IEEE double, same
    arithmetic as the column path; hot in the clustering kernel)."""
    lat = math.radians(lat_deg)
    lon = math.radians(lon_deg)
    sin_lat = math.sin(lat)
    n = WGS84_A / math.sqrt(1.0 - WGS84_E2 * sin_lat * sin_lat)
    x = (n + h) * math.cos(lat) * math.cos(lon)
    y = (n + h) * math.cos(lat) * math.sin(lon)
    z = (n * (1.0 - WGS84_E2) + h) * sin_lat
    return x, y, z


def straight_distance_scalar(lat1, lon1, h1, lat2, lon2, h2) -> float:
    """Scalar chord distance in meters."""
    x1, y1, z1 = ecef_scalar(lat1, lon1, h1)
    x2, y2, z2 = ecef_scalar(lat2, lon2, h2)
    return math.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2)


def _ecef_cols(lat: Column, lon: Column, h: Column) -> tuple[Column, Column, Column]:
    lat_r = F.radians(lat)
    lon_r = F.radians(lon)
    sin_lat = F.sin(lat_r)
    n = F.lit(WGS84_A) / F.sqrt(F.lit(1.0) - F.lit(WGS84_E2) * sin_lat * sin_lat)
    x = (n + h) * F.cos(lat_r) * F.cos(lon_r)
    y = (n + h) * F.cos(lat_r) * F.sin(lon_r)
    z = (n * F.lit(1.0 - WGS84_E2) + h) * sin_lat
    return x, y, z


def straight_distance_col(
    lat1: Column, lon1: Column, h1: Column, lat2: Column, lon2: Column, h2: Column
) -> Column:
    """Chord distance as a JVM-side column expression (whole-stage codegen)."""
    x1, y1, z1 = _ecef_cols(lat1, lon1, h1)
    x2, y2, z2 = _ecef_cols(lat2, lon2, h2)
    return F.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2 + (z1 - z2) ** 2)


def geohash_col(lat: Column, lon: Column, precision: int = 6) -> Column:
    """Geohash as a flat JVM column expression (no UDF): the interleaved
    geohash bits ARE the binary expansions of the scaled coordinates, so
    each of the 5*precision bits is one shift-and-mask of two quantized
    integers (an unrolled bisection would build an exponentially-growing
    expression tree). Used by the F5 anonymization projection (reference
    include/sink/mqtt.h:156-158 — truncate to max_geohash_length)."""
    base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    total = precision * 5
    nlon = (total + 1) // 2
    nlat = total // 2
    lon_q = F.least(F.lit((1 << nlon) - 1), F.floor((lon + 180.0) / 360.0 * (1 << nlon))).cast("long")
    lat_q = F.least(F.lit((1 << nlat) - 1), F.floor((lat + 90.0) / 180.0 * (1 << nlat))).cast("long")

    def bit(k: int) -> Column:  # k-th interleaved bit, 0-based, even=lon
        if k % 2 == 0:
            return F.shiftright(lon_q, nlon - 1 - k // 2).bitwiseAND(F.lit(1))
        return F.shiftright(lat_q, nlat - 1 - k // 2).bitwiseAND(F.lit(1))

    chars = []
    for c in range(precision):
        idx = sum(bit(c * 5 + j) * (1 << (4 - j)) for j in range(5))
        chars.append(F.substr(F.lit(base32), (idx + 1).cast("int"), F.lit(1)))
    return F.concat(*chars)
