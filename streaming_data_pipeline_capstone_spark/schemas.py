"""Explicit schemas — applied on read, never inferred.

The reference imposes schemas on untyped Kafka bytes with hand-built
``StructType``s (reference ``preprocess.py:22-39`` for the 17-column AIS
wire schema, ``predict_path.py:23-32`` for the 9-column processed schema).
Those two schemas are reproduced here verbatim-in-spirit, plus the
driver-provided testdata schemas and the envelope codecs (JSON ⇄ struct).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# -- AIS wire schema (17 cols) — reference preprocess.py:22-39 ---------------
# Round-6 scale change: mmsi is LongType. The reference used int32 (real
# 9-digit MMSIs fit; its data dictionary README.md:64 even calls it a
# string) and rounds 1-5 preserved that quirk — but the sf100 decade's
# 10^10 key space overflows int32 under ANSI casts, and a 100 TB
# pipeline keys entities on 64-bit ids. Oracles cast BIGINT in lockstep.
AIS_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("timestamp_utc", T.StringType(), True),
        T.StructField("mmsi", T.LongType(), True),
        T.StructField("position", T.StringType(), True),  # WKT POINT(lon lat)
        T.StructField("navigation_status", T.DoubleType(), True),
        T.StructField("speed_over_ground", T.DoubleType(), True),
        T.StructField("course_over_ground", T.DoubleType(), True),
        T.StructField("message_type", T.IntegerType(), True),
        T.StructField("source_identifier", T.StringType(), True),
        T.StructField("position_verified", T.IntegerType(), True),
        T.StructField("position_latency", T.IntegerType(), True),
        T.StructField("raim_flag", T.IntegerType(), True),
        T.StructField("vessel_name", T.StringType(), True),
        T.StructField("vessel_type", T.StringType(), True),
        T.StructField("timestamp_offset_seconds", T.IntegerType(), True),
        T.StructField("true_heading", T.DoubleType(), True),
        T.StructField("rate_of_turn", T.DoubleType(), True),
        T.StructField("repeat_indicator", T.IntegerType(), True),
    ]
)

# -- processed / kinematic schema (9 cols) — reference predict_path.py:23-32 -
AIS_PROCESSED_SCHEMA = T.StructType(
    [
        T.StructField("mmsi", T.LongType(), True),
        T.StructField("timestamp_utc", T.TimestampType(), True),
        T.StructField("speed_over_ground", T.DoubleType(), True),
        T.StructField("course_over_ground", T.DoubleType(), True),
        T.StructField("rate_of_turn", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("cartesian_x", T.DoubleType(), True),
        T.StructField("cartesian_y", T.DoubleType(), True),
    ]
)

# -- driver testdata tables (TESTDATA.md / FIXTURES.md §4) -------------------
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp format with a literal trailing Z — reference preprocess.py:65.
TS_FORMAT_Z = "yyyy-MM-dd HH:mm:ss'Z'"


# -- envelope codecs (Kafka value bytes ⇄ typed struct) ----------------------
def decode_json_envelope(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Kafka-style ``value`` bytes/string → typed columns.

    Native equivalent of the reference's decode chain (``preprocess.py:42-44``):
    CAST(value AS STRING) → from_json(schema) → flatten.  Malformed records
    degrade to nulls (from_json PERMISSIVE), matching observed reference
    behavior (nulls in images/preprocessed_streaming_set.PNG).

    The flatten goes through ``inline(array(parsed))`` — a Generate — rather
    than ``select("message.*")``. A plain struct-field select lets the
    optimizer split the parse into one pruned ``from_json`` PER FIELD and
    then substitute that copy into every downstream predicate/projection
    (pipeline_preprocess_full's plan carried 22 ``from_json`` nodes, each
    re-evaluating the full upstream value expression). Generate is an
    optimizer barrier for its child expression, so the value string is
    parsed exactly ONCE per row; null/malformed handling is unchanged
    (``inline(array(x))`` emits one all-null row for a null struct, the
    same as flattening it — pinned in tests/test_preprocess.py). Measured
    at sf0.1: the preprocess chain 2.36 s → 1.37 s with identical output.
    ``plans.preprocess.preprocess_positions`` puts the WKT position parse
    behind the same kind of barrier, ``explode(array(wkt_point_lonlat(...)))``.
    """
    msg = F.from_json(F.col("value").cast("string"), schema)
    return df.select(F.inline(F.array(msg)))


def encode_json_envelope(df: DataFrame) -> DataFrame:
    """All columns → single JSON ``value`` string (reference preprocess.py:68)."""
    return df.select(F.to_json(F.struct(*df.columns)).alias("value"))


def parse_ts_z(col: Column | str) -> Column:
    """Parse ``yyyy-MM-dd HH:mm:ss'Z'`` strings (reference preprocess.py:64-65)."""
    return F.to_timestamp(col, TS_FORMAT_Z)


def format_ts_z(col: Column | str) -> Column:
    """Inverse of :func:`parse_ts_z` — render with the literal Z suffix."""
    return F.date_format(col, TS_FORMAT_Z)
