"""S1/S2 Kafka construct smoke.

No Kafka broker and no spark-sql-kafka jar exist in this container, so the
live path cannot execute — the waiver is documented in README ("Kafka in
this sandbox"). What CAN be checked without the jar: our wrappers wire the
reader/writer all the way into Spark's data-source resolution. Both must
fail with DATA_SOURCE_NOT_FOUND for *kafka specifically* — any other error
(bad option name, wrong builder order, schema problems) would surface as a
different exception class/message and fail this test. With the jar on the
classpath the same calls proceed past resolution unchanged.
"""

from __future__ import annotations

import pytest

from streaming_data_pipeline_capstone_spark.sources.readers import (
    read_kafka_batch,
    read_kafka_stream,
    read_rate_stream,
)
from streaming_data_pipeline_capstone_spark.streaming.sinks import to_kafka


def _assert_missing_kafka_datasource(excinfo):
    msg = str(excinfo.value)
    assert "kafka" in msg.lower()
    assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg, msg


def test_kafka_stream_source_reaches_datasource_resolution(spark):
    with pytest.raises(Exception) as ei:
        read_kafka_stream(spark, "position_history")
    _assert_missing_kafka_datasource(ei)


def test_kafka_batch_source_reaches_datasource_resolution(spark):
    with pytest.raises(Exception) as ei:
        read_kafka_batch(spark, "position_history")
    _assert_missing_kafka_datasource(ei)


def test_kafka_sink_reaches_datasource_resolution(spark, tmp_path):
    stream = read_rate_stream(spark, rows_per_second=1)
    with pytest.raises(Exception) as ei:
        to_kafka(stream, "out_topic", checkpoint=str(tmp_path / "ckpt"))
    _assert_missing_kafka_datasource(ei)
