"""The AIS preprocessing pipeline (reference entry point B, preprocess.py).

Same logical chain as the reference (SURVEY §3.2) — decode → prune →
coordinates → bbox filter → ECEF → timestamp parse — plus the declared-but-
dormant pieces implemented as intended: sentinel null-out, message-type
filter (README.md:39), rate-of-turn decode (README.md:52), and the
watermarked sliding kinematic aggregation (preprocess.py:78-88).

Works identically on batch and streaming DataFrames: every step is an
incremental-safe narrow/windowed transformation, so the same function
serves `spark.read` fixtures and `spark.readStream` Kafka/file topics.

Unlike the reference, there are ZERO Python UDFs here — the two UDFs it
used (preprocess.py:50,57) are native expressions, so the bbox filter can
push down / reorder and whole-stage codegen survives end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.functions.cleaning import (
    HEADING_NOT_AVAILABLE,
    ROT_NOT_AVAILABLE,
    bbox_filter,
    null_sentinels,
    rot_decode,
)
from streaming_data_pipeline_capstone_spark.functions.geo import ecef_x, ecef_y, wkt_point_lonlat
from streaming_data_pipeline_capstone_spark.operators.windows import sliding_time_agg
from streaming_data_pipeline_capstone_spark.schemas import (
    AIS_WIRE_SCHEMA,
    decode_json_envelope,
    parse_ts_z,
)

# AIS position-report message types the pipeline keeps (reference README.md:39)
POSITION_MESSAGE_TYPES = (1, 2, 3, 18, 27)


def preprocess_positions(wire: DataFrame, decode_rot: bool = False) -> DataFrame:
    """17-column wire frame → 9-column processed kinematic frame.

    Mirrors reference preprocess.py:42-65 with the dormant cleaning steps
    turned on. Output schema = AIS_PROCESSED_SCHEMA (+ true_heading kept
    nulled-if-sentinel for downstream features).

    The WKT position is parsed once per row:
    ``explode(array(wkt_point_lonlat(position)))`` is a Generate, an
    optimizer barrier, so the bbox Filter and the ECEF Project above it
    read the generated ``[lon, lat]`` instead of each getting its own copy
    of the parse. ``decode_json_envelope`` uses the same idiom for
    ``from_json``. A null or malformed position yields one row with a null
    ``[lon, lat]``, which the bbox filter drops.
    """
    df = (
        wire.filter(F.col("message_type").isin(*POSITION_MESSAGE_TYPES))
        .select(
            "timestamp_utc",
            "mmsi",
            "speed_over_ground",
            "course_over_ground",
            "true_heading",
            "rate_of_turn",
            F.explode(F.array(wkt_point_lonlat("position"))).alias("lonlat"),
        )
        .withColumn("longitude", F.col("lonlat").getItem(0))
        .withColumn("latitude", F.col("lonlat").getItem(1))
        .filter(bbox_filter("latitude", "longitude"))
        .withColumn("cartesian_x", ecef_x("longitude", "latitude"))
        .withColumn("cartesian_y", ecef_y("longitude", "latitude"))
        .withColumn("timestamp_utc", parse_ts_z("timestamp_utc"))
        .withColumn("true_heading", null_sentinels("true_heading", HEADING_NOT_AVAILABLE))
        .withColumn("rate_of_turn", null_sentinels("rate_of_turn", ROT_NOT_AVAILABLE))
    )
    if decode_rot:
        df = df.withColumn("rate_of_turn", rot_decode("rate_of_turn"))
    return df.select(
        "mmsi",
        "timestamp_utc",
        "speed_over_ground",
        "course_over_ground",
        "rate_of_turn",
        "longitude",
        "latitude",
        "cartesian_x",
        "cartesian_y",
        "true_heading",
    )


def preprocess_from_envelope(envelope: DataFrame, decode_rot: bool = False) -> DataFrame:
    """Kafka-style value bytes → processed frame (the full entry point B)."""
    return preprocess_positions(
        decode_json_envelope(envelope, AIS_WIRE_SCHEMA), decode_rot=decode_rot
    )


def kinematic_aggs(processed: DataFrame, watermark: str | None = None) -> DataFrame:
    """The dormant sliding kinematic rollup (reference preprocess.py:78-88).

    avg(speed/course/rot) per (2-min window sliding 1 min, mmsi), carrying
    the latest position per group. The reference used order-dependent
    ``last()``; the rebuild uses ``max_by(col, timestamp)`` for determinism
    (documented deviation, SURVEY §2.5 A2).
    """
    aggs = [
        F.avg("speed_over_ground").alias("avg_speed_over_ground"),
        F.avg("course_over_ground").alias("avg_course_over_ground"),
        F.avg("rate_of_turn").alias("avg_rate_of_turn"),
        F.max_by("longitude", "timestamp_utc").alias("last_longitude"),
        F.max_by("latitude", "timestamp_utc").alias("last_latitude"),
        F.max_by("cartesian_x", "timestamp_utc").alias("last_cartesian_x"),
        F.max_by("cartesian_y", "timestamp_utc").alias("last_cartesian_y"),
    ]
    return sliding_time_agg(
        processed,
        ts_col="timestamp_utc",
        key="mmsi",
        aggs=aggs,
        watermark=watermark,
    )
