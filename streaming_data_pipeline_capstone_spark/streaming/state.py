"""Stateful streaming operators (SURVEY §2.9 T5/T7) — executor-side state.

The reference kept its "last 3 positions per vessel" state in a DRIVER-
side global temp view, truncated and rewritten with (broken) T-SQL every
micro-batch (``predict_path.py:49-70``). That design caps out at one
driver's memory and serializes every batch through it. Here the same
semantics run on executors, partitioned by key:

- ``last_k_per_key_stream``: a JVM streaming aggregate keyed by the
  vessel/user id, Spark's bounded ``CollectTopK`` in update mode. State
  per key is one priority queue of ≤ k structs in the state store (HDFS
  by default, RocksDB through conf); the micro-batch shuffles once on
  the key, writes and emits only the keys it touched, and runs no
  Python.
- ``gap_fill_interpolate``: the declared-but-never-built interpolation
  (reference README.md:46, Mao et al.): synthesize per-key points when
  the inter-event gap exceeds a threshold. The batch form is pure native
  exprs (sequence + explode + linear blend) and is oracle-checkable; the
  streaming form keeps the last event per key in state and emits
  synthetic points when the next event arrives.

Synthetic rows carry ``is_interpolated = 1`` — the provenance flag the
path-angle feature needs to exclude them (README.md:48, SURVEY §7 hard
part #2).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.classic.column import Column as JvmColumn
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


# ---------------------------------------------------------------------------
# T5: last-K rows per key, streaming
# ---------------------------------------------------------------------------
def last_k_per_key_stream(
    stream_df: DataFrame,
    key: str,
    ts_col: str,
    value_cols: list[str],
    k: int = 3,
) -> DataFrame:
    """Streaming 'keep the K most recent rows per key'.

    Output (update semantics): after each micro-batch, the current top-K
    rows of every key that batch touched, ``rn`` = 1 (newest) .. K.

    A JVM streaming aggregate, no Python in the micro-batch:
    ``groupBy(key).agg(collect_top_k(struct(ts, *values), k))``, then a
    ``posexplode`` into ranked rows. The aggregation buffer is Spark's
    bounded priority queue, so the state store holds at most K structs
    per key. ``ts`` is the struct's first field, so the K largest structs
    are the K newest rows.

    Timestamp ties are broken by the value columns, in order (the larger
    struct ranks first), so the result does not depend on arrival order.
    A Spark without ``CollectTopK`` fails when this is called: there is no
    second path.
    """
    top = _collect_top_k(stream_df.sparkSession, F.struct(ts_col, *value_cols), k)
    return (
        stream_df.groupBy(key)
        .agg(top.alias("__top"))
        .select(key, F.posexplode("__top").alias("__pos", "__row"))
        .select(
            key,
            *[F.col("__row")[c].alias(c) for c in [ts_col, *value_cols]],
            (F.col("__pos") + 1).alias("rn"),
        )
    )


def _collect_top_k(spark: SparkSession, struct: Column, k: int) -> Column:
    """Spark's built-in ``CollectTopK`` aggregate: the ``k`` largest values
    of ``struct``, largest first. Spark names it in neither SQL nor the
    DataFrame API, so it is built through the JVM gateway."""
    jvm = spark._jvm
    utils = jvm.org.apache.spark.sql.classic.ExpressionUtils
    agg = jvm.org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
        utils.expression(struct._jc), k, False
    )
    return JvmColumn(utils.column(agg))


# ---------------------------------------------------------------------------
# T7: gap-fill interpolation — batch form (native, oracle-checkable)
# ---------------------------------------------------------------------------
def gap_fill_interpolate(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_cols: list[str],
    gap: str = "60 seconds",
    step: str = "60 seconds",
) -> DataFrame:
    """Insert linearly-interpolated per-key rows into gaps larger than
    ``gap``, one synthetic row every ``step`` (reference README.md:46).

    Pure narrow ops after ONE window shuffle on the key: lag → sequence →
    explode → linear blend. Original rows get is_interpolated=0,
    synthetic rows 1.
    """
    w = Window.partitionBy(key).orderBy(ts_col)
    prev_cols = {c: F.lag(c).over(w) for c in value_cols}
    prev_ts = F.lag(ts_col).over(w)

    base = df.select(
        key,
        ts_col,
        *value_cols,
        prev_ts.alias("__prev_ts"),
        *[prev_cols[c].alias(f"__prev_{c}") for c in value_cols],
    )

    gap_i = F.expr(f"INTERVAL {gap}")
    step_i = F.expr(f"INTERVAL {step}")
    synth_ts = F.sequence(
        F.col("__prev_ts") + step_i,
        F.col(ts_col) - F.expr("INTERVAL 1 microsecond"),
        step_i,
    )
    gappy = base.filter(
        F.col("__prev_ts").isNotNull() & (F.col(ts_col) > F.col("__prev_ts") + gap_i)
    ).select(
        key,
        F.explode(synth_ts).alias("__sts"),
        F.col(ts_col).alias("__cur_ts"),
        "__prev_ts",
        *[F.col(c) for c in value_cols],
        *[F.col(f"__prev_{c}") for c in value_cols],
    )
    frac = (
        (F.unix_micros("__sts") - F.unix_micros("__prev_ts")).cast("double")
        / (F.unix_micros("__cur_ts") - F.unix_micros("__prev_ts")).cast("double")
    )
    synth = gappy.select(
        key,
        F.col("__sts").alias(ts_col),
        *[
            F.round(
                F.col(f"__prev_{c}") + (F.col(c) - F.col(f"__prev_{c}")) * frac, 6
            ).alias(c)
            for c in value_cols
        ],
        F.lit(1).alias("is_interpolated"),
    )
    original = df.select(key, ts_col, *value_cols, F.lit(0).alias("is_interpolated"))
    return original.unionByName(synth)


# ---------------------------------------------------------------------------
# T7: gap-fill — streaming form (keyed state, event-time aware)
# ---------------------------------------------------------------------------
def gap_fill_stream(
    stream_df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    gap_seconds: int = 60,
    step_seconds: int = 60,
) -> DataFrame:
    """Streaming twin of gap_fill_interpolate for one value column.

    State per key = last seen (ts, value). When a new event arrives with
    a gap > gap_seconds, the synthetic in-between points are emitted
    together with it (append semantics). Late/duplicate events (ts ≤ last
    seen) pass through unfilled — the watermark upstream bounds them.
    """
    key_field = stream_df.schema[key]
    val_field = stream_df.schema[value_col]
    out_schema = T.StructType(
        [
            key_field,
            T.StructField(ts_col, T.TimestampType()),
            T.StructField(value_col, val_field.dataType),
            T.StructField("is_interpolated", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("last_ts_us", T.LongType()), T.StructField("last_val", T.DoubleType())]
    )
    gap_us = gap_seconds * 1_000_000
    step_us = step_seconds * 1_000_000

    def update(
        key_tuple: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last_ts, last_val = (state.get if state.exists else (None, None))
        rows: list[tuple[Any, int, float, int]] = []
        events: list[tuple[int, float]] = []
        for pdf in batches:
            ts_us = pdf[ts_col].astype("datetime64[us]").astype("int64").tolist()
            events.extend(zip(ts_us, pdf[value_col].tolist(), strict=True))
        for ts_us, val in sorted(events):
            if last_ts is not None and ts_us > last_ts + gap_us:
                s = last_ts + step_us
                while s < ts_us:
                    frac = (s - last_ts) / (ts_us - last_ts)
                    rows.append(
                        (key_tuple[0], s, last_val + (val - last_val) * frac, 1)
                    )
                    s += step_us
            if last_ts is None or ts_us > last_ts:
                last_ts, last_val = ts_us, float(val)
            rows.append((key_tuple[0], ts_us, float(val), 0))
        state.update((last_ts, last_val))
        out = pd.DataFrame(rows, columns=[key, ts_col, value_col, "is_interpolated"])
        out[ts_col] = pd.to_datetime(out[ts_col], unit="us")
        yield out

    return stream_df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
