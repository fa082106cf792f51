from streaming_data_pipeline_capstone_spark.sources.readers import (
    load_all_tables,
    read_csv_pipe,
    read_kafka_batch,
    read_kafka_stream,
    read_rate_stream,
    read_stream_files,
    read_table,
)

__all__ = [
    "load_all_tables",
    "read_csv_pipe",
    "read_kafka_batch",
    "read_kafka_stream",
    "read_rate_stream",
    "read_stream_files",
    "read_table",
]
