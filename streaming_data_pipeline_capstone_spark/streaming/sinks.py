"""Streaming sinks (SURVEY §2.1 S2/S5/S6/S10, §2.9 T1/T2).

Kafka / file / memory writers with checkpoint management, plus
the foreachBatch escape hatch. The reference's sink layering bug — it
chained ``.foreachBatch(...).format("csv")`` and discovered empirically
that the last one wins (``predict_path.py:94-95``) — can't happen here:
one function per sink, checkpoint location always explicit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from streaming_data_pipeline_capstone_spark.schemas import encode_json_envelope


def _with_trigger(w: DataStreamWriter, available_now: bool) -> DataStreamWriter:
    return w.trigger(availableNow=True) if available_now else w


def to_kafka(
    df: DataFrame,
    topic: str,
    checkpoint: str,
    bootstrap_servers: str = "127.0.0.1:9092",
) -> StreamingQuery:
    """All columns → single JSON value → Kafka (reference preprocess.py:67-74),
    in update output mode."""
    return (
        encode_json_envelope(df)
        .writeStream.outputMode("update")
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def to_files(
    df: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Append-mode parquet file sink (the reference wrote CSV,
    predict_path.py:95)."""
    w = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
    )
    return _with_trigger(w, available_now).start()


def to_memory(
    df: DataFrame,
    table_name: str,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Memory sink — deterministic test harness (SURVEY §5 item 3)."""
    w = df.writeStream.outputMode(output_mode).format("memory").queryName(table_name)
    return _with_trigger(w, available_now).start()


def for_each_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Arbitrary per-micro-batch logic (reference predict_path.py:55-71).

    The body runs on the driver, so fn must not hold per-key state (that
    belongs in streaming/state.py) — use it for sink fan-out, MERGE
    upserts, or side effects.
    """
    w = (
        df.writeStream.outputMode("update")
        .foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
    )
    return _with_trigger(w, available_now).start()
