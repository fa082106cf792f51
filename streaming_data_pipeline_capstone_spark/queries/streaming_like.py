"""Oracle-checked batch twins of the streaming aggregations (SURVEY §2.9).

Structured Streaming's windowed aggregations run the same logical plan in
batch mode — so the driver's DuckDB oracle can verify the window SEMANTICS
(boundaries, assignment, aggregation) in batch, while tests/test_streaming.py
verifies the incremental/watermark behavior on real streams.

The sliding-window oracle expands each event into its two member windows
(size 2 min / slide 1 min ⇒ exactly 2) via unnest — the set-based
equivalent of Spark's window assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.windows import sliding_time_agg
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table
from streaming_data_pipeline_capstone_spark.streaming.state import gap_fill_interpolate


# -- A1-A2: sliding 2-min/1-min window aggregation (preprocess.py:78-88) -----
@register(
    "stream_sliding_avg",
    """
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events
    ), expanded AS (
      SELECT unnest([
               time_bucket(INTERVAL '1 minute', ts),
               time_bucket(INTERVAL '1 minute', ts) - INTERVAL '1 minute'
             ]) AS window_start,
             event_type, value
      FROM e
    )
    SELECT window_start,
           window_start + INTERVAL '2 minutes' AS window_end,
           event_type,
           COUNT(*) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM expanded
    GROUP BY window_start, event_type
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    agg = sliding_time_agg(
        events,
        ts_col="ts",
        key="event_type",
        aggs=[
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        ],
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "event_type",
        "n_events",
        "avg_value",
    )


# -- T4 extension: session windows (gap-based) --------------------------------
@register(
    "stream_session_windows",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '5 minutes' AS session_end,
           COUNT(*) AS n_events,
           round(avg(value), 6) AS avg_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 5-minute inactivity gap — Spark's native
    session_window; the oracle is the classic gaps-and-islands rewrite."""
    events = read_table(spark, sf_dir, "events")
    agg = events.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), "user_id"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )
    return agg.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        "avg_value",
    )


# -- A1 on the AIS twin: per-key sliding kinematic averages -------------------
@register(
    "stream_sliding_per_key",
    """
    WITH e AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events
      WHERE user_id <= 10
    ), expanded AS (
      SELECT unnest([
               time_bucket(INTERVAL '1 minute', ts),
               time_bucket(INTERVAL '1 minute', ts) - INTERVAL '1 minute'
             ]) AS window_start,
             user_id, ts, value
      FROM e
    )
    SELECT window_start, user_id,
           round(avg(value), 6) AS avg_value,
           max_by(value, ts) AS last_value
    FROM expanded
    GROUP BY window_start, user_id
    """,
)
def stream_sliding_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dormant kinematic rollup shape (avg + deterministic last per
    (window, key)) on the events stand-in, keyed like mmsi."""
    events = read_table(spark, sf_dir, "events").filter(F.col("user_id") <= 10)
    agg = sliding_time_agg(
        events,
        ts_col="ts",
        key="user_id",
        aggs=[
            F.round(F.avg("value"), 6).alias("avg_value"),
            F.max_by("value", "ts").alias("last_value"),
        ],
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        "user_id",
        "avg_value",
        "last_value",
    )


# -- T7: gap-fill interpolation, batch form (reference README.md:46) ----------
@register(
    "stream_gap_fill",
    """
    WITH e AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
    ), lagged AS (
      SELECT user_id, ts, value,
             lag(ts) OVER w AS prev_ts,
             lag(value) OVER w AS prev_val
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), synth AS (
      SELECT user_id,
             unnest(generate_series(prev_ts + INTERVAL 4 HOUR,
                                    ts - INTERVAL 1 MICROSECOND,
                                    INTERVAL 4 HOUR)) AS sts,
             ts AS cur_ts, prev_ts, value, prev_val
      FROM lagged
      WHERE prev_ts IS NOT NULL AND ts > prev_ts + INTERVAL 8 HOUR
    )
    SELECT user_id, ts, value, 0 AS is_interpolated FROM e
    UNION ALL
    SELECT user_id, sts AS ts,
           round(prev_val + (value - prev_val)
                 * (CAST(epoch_us(sts) - epoch_us(prev_ts) AS DOUBLE)
                    / CAST(epoch_us(cur_ts) - epoch_us(prev_ts) AS DOUBLE)), 6) AS value,
           1 AS is_interpolated
    FROM synth
    """,
)
def stream_gap_fill(spark, sf_dir):
    """Per-user linear interpolation into gaps > 8 h, one point every 4 h —
    the batch twin of streaming/state.py:gap_fill_stream."""
    events = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return gap_fill_interpolate(
        events, key="user_id", ts_col="ts", value_cols=["value"],
        gap="8 hours", step="4 hours",
    )
