"""Stateful streaming operators (SURVEY §2.9 T5/T7) — executor-side state.

The reference kept its "last 3 positions per vessel" state in a DRIVER-
side global temp view, truncated and rewritten with (broken) T-SQL every
micro-batch (``predict_path.py:49-70``). That design caps out at one
driver's memory and serializes every batch through it. Here the same
semantics run on executors, partitioned by key:

- ``last_k_per_key_stream``: applyInPandasWithState keyed by the vessel/
  user id. State per key is one tiny struct of arrays (≤ k rows); the
  micro-batch shuffles once on the key, state lives in the state store
  (HDFS/RocksDB-backed on a cluster), and a 1000-executor job holds
  100M+ keys without the driver seeing any of them.
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
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
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
    rows for every key that changed. State schema: parallel arrays of
    epoch-micros and values — bounded at K entries per key.
    """
    key_field = stream_df.schema[key]
    value_fields = [stream_df.schema[c] for c in value_cols]

    out_schema = T.StructType(
        [
            key_field,
            T.StructField(ts_col, T.TimestampType()),
            *value_fields,
            T.StructField("rn", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.ArrayType(T.LongType())),
            *[T.StructField(f"v_{f.name}", T.ArrayType(f.dataType)) for f in value_fields],
        ]
    )

    def update(
        key_tuple: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stored = state.get
            ts_list = list(stored[0])
            vals: list[list[Any]] = [list(col) for col in stored[1:]]
        else:
            ts_list, vals = [], [[] for _ in value_cols]

        for pdf in batches:
            ts_us = (pdf[ts_col].astype("datetime64[us]").astype("int64")).tolist()
            ts_list.extend(ts_us)
            for i, c in enumerate(value_cols):
                vals[i].extend(pdf[c].tolist())

        # rank by recency, keep K — the window/rank semantics of
        # reference predict_path.py:60-66, per key, executor-side
        order = sorted(range(len(ts_list)), key=lambda i: ts_list[i], reverse=True)[:k]
        ts_list = [ts_list[i] for i in order]
        vals = [[v[i] for i in order] for v in vals]
        state.update((ts_list, *vals))

        out = pd.DataFrame(
            {
                key: [key_tuple[0]] * len(ts_list),
                ts_col: pd.to_datetime(pd.Series(ts_list), unit="us"),
                **{c: vals[i] for i, c in enumerate(value_cols)},
                "rn": list(range(1, len(ts_list) + 1)),
            }
        )
        yield out

    return stream_df.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
