"""Window / analytic operators (SURVEY §2.5-§2.7).

The reference's core stateful semantics — "keep the 3 most recent positions
per vessel" (``predict_path.py:60-66``, written in broken T-SQL; intended
semantics recovered) and the dormant sliding kinematic averages
(``preprocess.py:78-88``) — re-expressed as native window / group
operations.

Scale notes (100 TB): ``row_number() over (partition by key)`` is a single
hash exchange on the key followed by a per-partition sort — no driver-side
state, no collect. Key cardinality (vessels / users) spreads across
executors; skewed keys are handled by AQE. The sliding-window aggregation
is a map-side-combinable hash aggregate after one exchange on
(window, key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_k_per_key(
    df: DataFrame,
    key: str | list[str],
    order_col: str,
    k: int = 3,
    tiebreak: str | None = None,
) -> DataFrame:
    """Keep the ``k`` most recent rows per key (reference predict_path.py:60-66).

    The reference ranked by descending time with nondeterministic ties; here
    ties are broken by ``tiebreak`` (documented deviation, SURVEY §7) so the
    result is deterministic and oracle-checkable.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.desc(order_col)]
    if tiebreak is not None:
        order.append(F.desc(tiebreak))
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def sliding_time_agg(
    df: DataFrame,
    ts_col: str,
    key: str | list[str],
    aggs: list[Column],
    window_duration: str = "2 minutes",
    slide_duration: str = "1 minute",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding event-time window aggregation.

    The reference's dormant kinematic rollup (``preprocess.py:78-88``):
    2-minute window, 1-minute slide, 5-minute watermark, keyed by mmsi,
    averaging speed/course/rate-of-turn. Works identically on batch and
    streaming DataFrames; pass ``watermark`` only on streams.
    """
    keys = [key] if isinstance(key, str) else list(key)
    src = df.withWatermark(ts_col, watermark) if watermark else df
    win = F.window(ts_col, window_duration, slide_duration)
    return src.groupBy(win.alias("window"), *keys).agg(*aggs)
