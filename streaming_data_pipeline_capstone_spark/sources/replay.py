"""Deterministic stream replay (replaces the reference's TCP pair).

The reference replayed its corpus through a hand-rolled socket server at
≤100 msg/s (``server.py:43-100``, 10 ms sleep per row) into a Kafka
producer client (``client.py``). For tests and local development the
engine replays a batch DataFrame as a sequence of files that a
file-stream source consumes one-per-micro-batch — same unbounded
semantics, fully deterministic, no sockets, no sleeps.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_data_pipeline_capstone_spark.sources.readers import read_stream_files


def replay_to_files(
    df: DataFrame,
    path: str,
    num_chunks: int,
    order_col: str | None = None,
) -> T.StructType:
    """Split ``df`` into ``num_chunks`` parquet chunk directories under
    ``path`` in ``order_col`` order (chunk i = micro-batch i). Returns the
    schema for the matching stream reader.

    Rows never visit the driver: chunk ids derive from a
    ``row_number``-over-order window (executor-side, one ordered task —
    the price of deterministic global chunking) and land via a single
    ``partitionBy("chunk")`` write. Only ``count()`` comes back to the
    driver. The file-stream source orders files by modification time, so
    after the parallel write each chunk's files are re-stamped with
    ascending mtimes to pin micro-batch order deterministically.
    """
    from pyspark.sql import Window

    os.makedirs(path, exist_ok=True)
    schema = df.schema
    total = df.count()
    n = max(1, (total + num_chunks - 1) // num_chunks)
    order = F.col(order_col) if order_col else F.monotonically_increasing_id()
    w = Window.orderBy(order)
    chunk = F.lpad(
        F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(n)).cast("string"),
        5,
        "0",
    )
    (
        df.withColumn("chunk", chunk)
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(path)
    )
    # Deterministic replay order: FileStreamSource admits files sorted by
    # mtime; a single write stamps them near-identically, so re-stamp
    # chunk k at base+k seconds (metadata-only, local FS).
    base = int(os.stat(path).st_mtime)
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("chunk="):
            continue
        k = int(entry.split("=", 1)[1])
        cdir = os.path.join(path, entry)
        for fname in os.listdir(cdir):
            os.utime(os.path.join(cdir, fname), (base + k, base + k))
    return schema


def stream_from_replay(
    spark: SparkSession, path: str, schema: T.StructType, files_per_trigger: int = 1
) -> DataFrame:
    """File-stream source over a replay directory: each trigger consumes
    ``files_per_trigger`` chunks — the deterministic Kafka stand-in."""
    return read_stream_files(
        spark,
        f"{path}/chunk=*",
        schema,
        fmt="parquet",
        max_files_per_trigger=files_per_trigger,
    )


def ais_wire_from_events(events: DataFrame) -> DataFrame:
    """Dress the testdata ``events`` table as the reference's AIS wire JSON
    envelope (the ``position_history`` topic's message shape).

    Deterministic pseudo lon/lat derive from the integer keys (exact in
    fp64). Longitudes sit inside the reference bbox; latitudes span
    5.5-24.5, so the bbox filter drops the rows outside 7-23. Message types
    cycle through the kept position-report set; AIS "not available"
    sentinels (511 heading, -128 ROT) are injected on a fixed cadence.
    """
    from streaming_data_pipeline_capstone_spark.schemas import (
        encode_json_envelope,
        format_ts_z,
    )

    # a real position_history topic has many partitions; the testdata
    # parquet is one row group → spread the CPU-bound JSON codec chain
    # (r15 fix: the old rdd.getNumPartitions() guard counted byte-range
    # splits — 32 even when every row sits in one split — so it never
    # fired; spread_small_input detects actual input size)
    from streaming_data_pipeline_capstone_spark.operators.skew import (
        spread_small_input,
    )

    events = spread_small_input(events)

    lon = F.lit(105.0) + (F.col("user_id") % 18).cast("double") + F.lit(0.25)
    lat = F.lit(5.0) + (F.col("event_id") % 20).cast("double") + F.lit(0.5)
    mt = F.element_at(
        F.array(*[F.lit(t) for t in (1, 2, 3, 18, 27)]),
        (F.col("event_id") % 5 + 1).cast("int"),
    )
    wire = events.select(
        format_ts_z(F.col("ts")).alias("timestamp_utc"),
        F.col("user_id").cast("long").alias("mmsi"),
        F.concat(F.lit("POINT("), lon, F.lit(" "), lat, F.lit(")")).alias("position"),
        mt.alias("message_type"),
        F.col("value").alias("speed_over_ground"),
        (F.col("value") * 7 % 360).alias("course_over_ground"),
        F.when(F.col("event_id") % 9 == 0, 511.0)
        .otherwise(F.col("value") % 360)
        .alias("true_heading"),
        F.when(F.col("event_id") % 11 == 0, -128.0)
        .otherwise(F.col("value") % 20 - 10)
        .alias("rate_of_turn"),
        (F.col("event_id") % 16).cast("double").alias("navigation_status"),
    )
    return encode_json_envelope(wire)
