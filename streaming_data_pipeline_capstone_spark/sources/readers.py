"""Batch + streaming sources.

Capability parity with the reference's source surface (SURVEY §2.1):

- S1 Kafka stream source (reference ``preprocess.py:20``) and its batch twin
- S3 pipe-delimited headerless CSV (reference ``server.py:47-49``) — read
  distributed with an explicit schema instead of driver-side pandas
- S4 the reference's TCP replay feed is ``sources.replay`` (file-chunk
  replay into the file-stream source); its 900-byte TCP framing protocol
  is an ops concern and is intentionally dropped
- file-stream source (the test-friendly stand-in for Kafka: same unbounded
  semantics, ``availableNow`` trigger for deterministic tests)
- rate source for load generation (replaces the reference's 100 msg/s
  sleep-driven replay server, ``server.py:56``)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_data_pipeline_capstone_spark.schemas import TESTDATA_TABLES

# Parquet columns physically stored as TIMESTAMP(NANOS), which Spark cannot
# represent (SPARK-40819): read as long ns and truncate to microseconds.
# DuckDB oracles must truncate identically via CAST(col AS TIMESTAMP).
NS_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


# Per-path physical-schema memo: the testdata tables are immutable for a
# session's lifetime, but every bare spark.read.parquet(path) re-infers the
# schema — a driver-blocking footer-read job per open (guide §5/§6). First
# open infers and records the schema; later opens declare it. Metadata only
# (never rows); keyed on the resolved path so distinct sf dirs stay distinct.
_SCHEMA_CACHE: dict[str, T.StructType] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (parquet). Column pruning and filter
    pushdown reach the scan because this stays a plain parquet relation."""
    ns_cols = NS_TIMESTAMP_COLS.get(name, ())
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None:
        df = spark.read.schema(cached).parquet(path)
    else:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    for c in ns_cols:
        # Type-adaptive: the driver's testdata stores these as
        # TIMESTAMP(NANOS) (surfaces as long under nanosAsLong); rewritten
        # copies of the same tables (e.g. tools/make_sf1.py scale dirs) may
        # store plain micros. Normalize both to TimestampType.
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # integer div, not float: /1000 as double rounds the low microsecond
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_all_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: read_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name, df in load_all_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_csv_pipe(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Pipe-delimited headerless CSV with explicit schema.

    Distributed replacement for the reference's driver-side
    ``pd.read_csv(sep="|", names=[...])`` (``server.py:47-49``).
    """
    return spark.read.csv(path, sep="|", schema=schema, header=False)


def read_kafka_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str = "127.0.0.1:9092",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka stream source (reference ``preprocess.py:20``, ``predict_path.py:21``).

    Yields the standard kafka columns (key, value, topic, partition, offset,
    timestamp). Requires the spark-sql-kafka package on the classpath; in
    this container there is no broker, so tests exercise the same pipeline
    logic through the file-stream source instead.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def read_kafka_batch(
    spark: SparkSession, topic: str, bootstrap_servers: str = "127.0.0.1:9092"
) -> DataFrame:
    """Batch twin of the Kafka source — same columns, bounded read."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .load()
    )


def read_stream_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Unbounded file-directory source — the deterministic test stand-in for
    Kafka (drop files in, each becomes part of a micro-batch)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def read_rate_stream(spark: SparkSession, rows_per_second: int = 2800) -> DataFrame:
    """Rate source for load generation.

    Default matches the reference's stated production feed rate of
    ~2,800 msg/s (reference ``README.md:110``) — the throughput target the
    reference's own 100 msg/s replay server never reached.
    """
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
