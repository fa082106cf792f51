"""Geospatial column functions — native Catalyst expressions, zero UDFs.

The reference wrapped these in row-at-a-time Python UDFs
(``extract_coordinates_udf`` at ``preprocess.py:50``,
``geodesic_to_cartesian_udf`` at ``preprocess.py:57``), which breaks
whole-stage codegen and costs a JVM⇄Python round trip per row. Every
function here is a pure Column expression: codegen'd, vectorized,
reorderable by Catalyst, and therefore free at 100 TB in a way a Python
UDF never is.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# WGS84 ellipsoid (reference _util.py:58-79)
WGS84_A = 6378137.0  # semi-major axis, meters
WGS84_INV_F = 298.257223563  # inverse flattening
WGS84_F = 1.0 / WGS84_INV_F
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)  # first eccentricity squared
DEFAULT_HEIGHT_M = 124.0  # fixed antenna height used by the reference
EARTH_RADIUS_KM = 6371.0


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def wkt_point_lonlat(position: Column | str) -> Column:
    """WKT ``POINT(lon lat)`` string → ``array<double>[lon, lat]``.

    Native rewrite of the reference's regex UDF (``preprocess.py:46-50``):
    strip letters/parens, split, cast — same regex class, no Python.

    Malformed input degrades to NULL instead of failing the task (the
    reference's UDF — and a plain ``cast`` under ANSI mode — would throw,
    killing the stage on one bad record; at 100 TB that is unacceptable).
    Mirrors ``from_json`` PERMISSIVE semantics.

    Filter pushdown and CollapseProject copy this expression into every
    consumer of lon and lat (30 ``regexp_replace`` nodes in entry point B's
    plan). A caller that reads the result more than once evaluates it
    behind a Generate barrier, ``explode(array(wkt_point_lonlat(...)))``,
    so it runs once per row: see ``plans.preprocess.preprocess_positions``,
    and ``schemas.decode_json_envelope`` for the same idiom on
    ``from_json``. A null or malformed position still yields that one row,
    with a null array. No higher-order functions: interpreted
    transform/filter/exists cost ~10 µs/row, while split/element_at/try_cast
    is codegen'd.
    """
    cleaned = F.trim(F.regexp_replace(_c(position), "[a-zA-Z()]", ""))
    parts = F.split(cleaned, r"\s+")
    lon = F.element_at(parts, 1).try_cast("double")
    lat = F.element_at(parts, 2).try_cast("double")
    ok = (F.size(parts) == 2) & lon.isNotNull() & lat.isNotNull()
    return F.when(ok, F.array(lon, lat))


def _prime_vertical_radius(lat_rad: Column) -> Column:
    return F.lit(WGS84_A) / F.sqrt(1.0 - F.lit(WGS84_E2) * F.pow(F.sin(lat_rad), 2))


def ecef_x(lon_deg: Column | str, lat_deg: Column | str) -> Column:
    """Geodetic → geocentric (ECEF) X in meters (reference _util.py:58-79).

    ``x = (N(φ) + h) · cosφ · cosλ`` with the reference's fixed
    h = DEFAULT_HEIGHT_M = 124 m.
    """
    lat = F.radians(_c(lat_deg))
    lon = F.radians(_c(lon_deg))
    return (_prime_vertical_radius(lat) + F.lit(DEFAULT_HEIGHT_M)) * F.cos(lat) * F.cos(lon)


def ecef_y(lon_deg: Column | str, lat_deg: Column | str) -> Column:
    """Geodetic → geocentric (ECEF) Y in meters: ``(N(φ) + h) · cosφ · sinλ``."""
    lat = F.radians(_c(lat_deg))
    lon = F.radians(_c(lon_deg))
    return (_prime_vertical_radius(lat) + F.lit(DEFAULT_HEIGHT_M)) * F.cos(lat) * F.sin(lon)


def haversine_km(
    lon1: Column | str, lat1: Column | str, lon2: Column | str, lat2: Column | str
) -> Column:
    """Great-circle distance in km.

    The reference imported ``haversine`` and never called it
    (``preprocess.py:6``); the intended use — per-vessel step distance with
    ``lag()`` — is served natively here.
    """
    p1, p2 = F.radians(_c(lat1)), F.radians(_c(lat2))
    dphi = F.radians(_c(lat2)) - F.radians(_c(lat1))
    dlmb = F.radians(_c(lon2)) - F.radians(_c(lon1))
    a = F.pow(F.sin(dphi / 2), 2) + F.cos(p1) * F.cos(p2) * F.pow(F.sin(dlmb / 2), 2)
    return F.lit(2.0 * EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def path_angle_deg(
    x_prev2: Column | str,
    y_prev2: Column | str,
    x_prev: Column | str,
    y_prev: Column | str,
    x: Column | str,
    y: Column | str,
) -> Column:
    """Turn angle (degrees, [0, 180]) at T-1 of the path T-2 → T-1 → T0.

    The reference's declared path-angle feature (README.md:48,
    images/path_angle.png): the angle between the incoming and outgoing
    segments, from atan2 headings of the two vectors.
    """
    h1 = F.atan2(_c(y_prev) - _c(y_prev2), _c(x_prev) - _c(x_prev2))
    h2 = F.atan2(_c(y) - _c(y_prev), _c(x) - _c(x_prev))
    d = F.degrees(F.abs(h2 - h1))
    return F.when(d > 180.0, 360.0 - d).otherwise(d)


def affine_coefficients(
    corners_lonlat: list[tuple[float, float]], width_px: int, height_px: int
) -> tuple[float, float, float, float, float, float]:
    """Plain-Python (driver-side) affine geo→pixel coefficients.

    The reference computed these per-point inside a UDF with a 2×2 matrix
    inversion (``_util.py:8-56``); they are constants of the raster, so the
    rebuild computes them ONCE on the driver and applies them as a linear
    Column expression (:func:`apply_affine`). Corners are
    [(lon_min, lat_min), (lon_max, lat_max)].
    """
    (lon0, lat0), (lon1, lat1) = corners_lonlat
    sx = width_px / (lon1 - lon0)
    sy = height_px / (lat1 - lat0)
    # pixel row grows downward: flip latitude axis
    return (sx, 0.0, -lon0 * sx, 0.0, -sy, lat1 * sy)


def apply_affine(
    lon: Column | str, lat: Column | str, coeffs: tuple[float, float, float, float, float, float]
) -> tuple[Column, Column]:
    """Apply precomputed affine coefficients as a native linear expression."""
    a, b, c, d, e, f = coeffs
    px = F.lit(a) * _c(lon) + F.lit(b) * _c(lat) + F.lit(c)
    py = F.lit(d) * _c(lon) + F.lit(e) * _c(lat) + F.lit(f)
    return px, py
