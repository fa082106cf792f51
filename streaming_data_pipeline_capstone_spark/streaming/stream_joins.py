"""Stream-stream joins with event-time bounds.

The reference only ever joins a stream against a static frame
(``predict_path.py:30-38`` — positions × region features). Structured
Streaming also supports joining TWO unbounded streams when both sides are
watermarked and the join condition bounds how far apart matching events
can be in event time — that bound is what lets each side's buffered state
be evicted instead of growing forever. This module packages that pattern.

Scale behavior: both sides shuffle on the join key; per-key buffered rows
are bounded by (watermark + interval width) × arrival rate, held in the
executor state store (RocksDB-capable, same provider the last-K state
uses). No driver state, no unbounded buffers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_lag: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Inner-join two event streams on ``key`` where the right event lands
    within ``± max_lag`` of the left event (event time).

    Both inputs must carry their own event-time column; each gets its own
    watermark. The time-range predicate is REQUIRED for state cleanup —
    without it Spark must buffer every past row of both streams.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.expr(f"l.{left_ts} - INTERVAL {max_lag}"))
        & (F.col(f"r.{right_ts}") <= F.expr(f"l.{left_ts} + INTERVAL {max_lag}"))
    )
    return l.join(r, cond)
