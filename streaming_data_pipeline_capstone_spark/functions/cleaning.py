"""Data-cleaning column functions (SURVEY §2.2 P6/P9/P10, §2.3 F6).

The reference's cleaning layer: the South China Sea bounding-box filter
(``preprocess.py:54``), the AIS sentinel values visible-but-unhandled in
its output (true_heading 511.0 / rate_of_turn -128.0 = "not available"),
the README-declared speed-spike repair (README.md:50) and the
rate-of-turn decode (README.md:52,78).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# South China Sea bbox corners — reference _util.py:6 / preprocess.py:54.
# Strict inequalities preserved exactly (SURVEY §7).
BBOX_LAT = (7.0, 23.0)
BBOX_LON = (105.0, 123.0)

HEADING_NOT_AVAILABLE = 511.0
ROT_NOT_AVAILABLE = -128.0
SPEED_SPIKE_KNOTS = 102.2  # AIS max encodable SOG; anything ≥ is a spike


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def bbox_filter(lat: Column | str, lon: Column | str) -> Column:
    """Conjunctive strict-range predicate on BBOX_LAT / BBOX_LON (reference
    preprocess.py:54)."""
    la, lo = _c(lat), _c(lon)
    return (
        (la > F.lit(BBOX_LAT[0]))
        & (la < F.lit(BBOX_LAT[1]))
        & (lo > F.lit(BBOX_LON[0]))
        & (lo < F.lit(BBOX_LON[1]))
    )


def null_sentinels(col: Column | str, *sentinels: float) -> Column:
    """Replace AIS "not available" sentinel values with NULL (P10)."""
    c = _c(col)
    return F.when(c.isin(*[F.lit(s) for s in sentinels]), F.lit(None)).otherwise(c)


def rot_decode(rot_sensor: Column | str) -> Column:
    """AIS rate-of-turn decode: ``sign(x) · (|x| / 4.733)²`` deg/min.

    Inverse of ``ROT_AIS = 4.733 · sqrt(ROT_sensor)`` (reference
    README.md:52,78, images/rate_of_turn conversion equation.png),
    preserving sign.
    """
    c = _c(rot_sensor)
    return F.signum(c) * F.pow(F.abs(c) / F.lit(4.733), F.lit(2.0))


def spike_repair(
    df: DataFrame,
    key: str,
    order_col: str,
    value_col: str,
    is_spike: Column | None = None,
) -> DataFrame:
    """Replace spike values with the previous valid per-key recording.

    Reference README.md:50: "replace sudden speed increase (110 knots)
    with previous valid recording". Implemented as null-out + per-key
    forward fill — one window over (key, order), no UDF, no self-join.
    """
    if is_spike is None:
        is_spike = _c(value_col) >= F.lit(SPEED_SPIKE_KNOTS)
    w = (
        Window.partitionBy(key)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    nulled = F.when(is_spike, F.lit(None)).otherwise(_c(value_col))
    return df.withColumn(value_col, F.last(nulled, ignorenulls=True).over(w))
