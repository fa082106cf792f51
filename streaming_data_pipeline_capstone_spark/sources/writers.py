"""Batch sinks with the 100 TB storage layout baked in.

The reference wrote unpartitioned CSV from a streaming job
(``predict_path.py:95``; broken per-batch variant ``predict_path.py:71``).
At scale the storage layout IS the query plan: a date-partitioned,
key-bucketed parquet/table layout turns full scans into partition-pruned,
shuffle-free reads:

- ``partitionBy(event_date)`` → partition pruning for time-range predicates
  (Catalyst prunes directories before any IO happens)
- ``bucketBy(n, key)`` → co-located joins/aggregations on the key: two
  tables bucketed the same way join with ZERO exchange

Writers accept any DataFrame; date partitioning derives the partition
column from an event-time column when asked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Plain or partitioned parquet write (overwrite mode).

    ``max_records_per_file`` caps file size at scale (avoids the
    giant-file/straggler problem when a partition is skewed).
    """
    w = df.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_date_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str,
) -> None:
    """Partition by the DATE of an event-time column (the standard
    time-series layout: one directory per day, pruned by date predicates)."""
    out = df.withColumn("event_date", F.to_date(F.col(ts_col)))
    write_parquet(out, path, partition_by=["event_date"])


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    num_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Bucketed (hive-style) table: co-locates rows by hash(bucket_col).

    Joining/aggregating two tables bucketed by the same column and count
    requires no exchange — the join is planned as a zip of matching
    buckets. This is the batch twin of pre-partitioned Kafka topics.
    """
    w = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name, format="parquet")


def write_csv(df: DataFrame, path: str) -> None:
    """Comma-separated CSV export with a header row (the reference's sink
    format — kept for parity; parquet is the default everywhere else)."""
    df.write.mode("overwrite").option("header", "true").csv(path)
