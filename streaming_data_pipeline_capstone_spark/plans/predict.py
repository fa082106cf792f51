"""The stateful recent-positions pipeline (reference entry point C,
predict_path.py) — plus the declared-but-unbuilt feature/scoring stage.

The reference's intent (SURVEY §3.3, recovered from broken T-SQL):
consume the kinematic stream, maintain the 3 most recent positions per
vessel across micro-batches, persist snapshots.
``recent_positions_stream`` does this as one JVM streaming aggregate
(``streaming.state.last_k_per_key_stream``): the state lives in the
executors' state store, each micro-batch writes and emits only the
vessels it touched, and no Python runs in the micro-batch. Its batch
twin is ``operators.windows.last_k_per_key``.

Feature stage: per-vessel step distance (haversine), path angle over the
last three positions (excluding interpolated points — the provenance
flag from gap-fill), region dummies, and a pandas_udf scorer stub where
the reference planned its MLlib/TensorFlow model (README.md:94-98).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.functions.cleaning import bbox_filter
from streaming_data_pipeline_capstone_spark.functions.geo import haversine_km, path_angle_deg
from streaming_data_pipeline_capstone_spark.streaming.state import last_k_per_key_stream

KINEMATIC_VALUE_COLS = [
    "speed_over_ground",
    "course_over_ground",
    "rate_of_turn",
    "longitude",
    "latitude",
    "cartesian_x",
    "cartesian_y",
]


def recent_positions_stream(processed: DataFrame) -> DataFrame:
    """Streaming last-3 positions per vessel, state in the JVM state store."""
    return last_k_per_key_stream(
        processed, key="mmsi", ts_col="timestamp_utc", value_cols=KINEMATIC_VALUE_COLS, k=3
    )


def step_features(positions: DataFrame) -> DataFrame:
    """Per-vessel kinematic features over consecutive positions.

    Interpolated points (is_interpolated=1, from gap-fill) contribute to
    continuity but are EXCLUDED from path-angle inputs per README.md:48.
    """
    has_flag = "is_interpolated" in positions.columns
    flag = F.col("is_interpolated") if has_flag else F.lit(0)

    w = Window.partitionBy("mmsi").orderBy("timestamp_utc")
    df = positions.withColumn("__interp", flag)

    # step distance uses every point (continuity)
    df = df.withColumn("prev_lon", F.lag("longitude").over(w)).withColumn(
        "prev_lat", F.lag("latitude").over(w)
    )
    df = df.withColumn(
        "step_km",
        F.round(haversine_km("prev_lon", "prev_lat", "longitude", "latitude"), 6),
    )

    # path angle over REAL points only
    real = df.filter(F.col("__interp") == 0)
    wr = Window.partitionBy("mmsi").orderBy("timestamp_utc")
    real = (
        real.withColumn("x1", F.lag("cartesian_x", 2).over(wr))
        .withColumn("y1", F.lag("cartesian_y", 2).over(wr))
        .withColumn("x2", F.lag("cartesian_x", 1).over(wr))
        .withColumn("y2", F.lag("cartesian_y", 1).over(wr))
    )
    real = real.withColumn(
        "path_angle_deg",
        F.round(path_angle_deg("x1", "y1", "x2", "y2", "cartesian_x", "cartesian_y"), 6),
    )
    angle = real.select("mmsi", "timestamp_utc", "path_angle_deg")
    out = df.join(angle, ["mmsi", "timestamp_utc"], "left")

    # region dummy (F9): inside the reference bbox or not
    out = out.withColumn(
        "in_region", F.when(bbox_filter("latitude", "longitude"), 1).otherwise(0)
    )
    return out.drop("prev_lon", "prev_lat", "x1", "y1", "x2", "y2", "__interp")


def path_score(speed: Column, angle: Column) -> Column:
    """U-3 scorer stub: the reference's never-built MLlib/TensorFlow
    trajectory predictor (README.md:5-6,94,98), hosted the 100 TB-safe
    way — an Arrow-batched pandas_udf. The model is a deterministic
    placeholder, ``round(speed·0.1 + angle·0.01, 6)`` with a null angle
    read as 0; swap the body for a real model's predict.

    The UDF is built per call: a module-level ``@pandas_udf`` needs an
    active SparkSession at import time."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score(speed: pd.Series, angle: pd.Series) -> pd.Series:
        return (speed * 0.1 + angle.fillna(0.0) * 0.01).round(6)

    return score(speed, angle)


def score_paths(features: DataFrame) -> DataFrame:
    """Add ``path_score`` (:func:`path_score`, a null speed read as 0)."""
    speed = F.coalesce(F.col("speed_over_ground"), F.lit(0.0))
    return features.withColumn("path_score", path_score(speed, F.col("path_angle_deg")))
