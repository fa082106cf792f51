"""SparkSession construction with scale-aware defaults.

The reference pinned ``local[1]`` for its preprocess job
(``preprocess.py:16``) — a hard single-core throughput ceiling. Here the
master defaults to ``local[$SPARK_GRAFT_CPUS]`` for local runs and is left
to spark-submit/cluster config in production. The other defaults serve the
streaming pipeline (entry points B and C) as perfbench measures it on one
node, and stay correct when the same code runs on a cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting)
- shuffle partitions sized for the local core count; on a real cluster AQE
  scales the initial number down/up from a deliberately high initial value
- Arrow transfers on, so any Pandas-UDF boundary is vectorized
- UTC session timezone so event-time semantics are deployment-independent
- checkpoint renames without a forked `readlink`, and no `.crc` side file
  (with its forked `chmod`) per local file
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "streaming-data-pipeline-capstone-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local parallelism; on a real
    cluster pass a high initial value (e.g. 2000) and let AQE coalesce.
    """
    master = master or default_master()
    if shuffle_partitions is None:
        # local[N] → N; local[*]/cluster → leave a sane floor of 32
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = int(inner) if inner.isdigit() else 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join pruning (default-on in Spark 4.x; pinned
        # explicitly so the scale posture survives a default change): on a
        # selective fact-fact sort-merge join, the filtered side's join keys
        # seed a bloom filter that prunes the other side's scan/shuffle. Its
        # size thresholds (~10MB creation side) mean it never fires at test
        # SF — plan-audit verified identical plans — and only kicks in at
        # the scale where it pays.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Split small file scans to full parallelism (byte-range splits, no
        # shuffle). Without this a single small parquet file reads as ONE
        # partition and every downstream expression runs serially — measured
        # 2.8s → 0.4s on sf0.1 document shingling. At 100 TB the scan has
        # far more splits than cores, so this is a no-op there.
        .config("spark.sql.files.minPartitionNum", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # PySpark's DataFrame-debugging origin capture (default ON) makes
        # EVERY wrapped DataFrame/Column API call pay a conf.get py4j
        # round-trip plus a JVM origin set/clear — pure Python-driver
        # overhead in any deployment, measured 2-3x of the serving-probe
        # build walls (sim_topk_ivfpq_filtered build 1.76 → 0.69 s). It
        # only enriches error messages with Python call sites; re-enable
        # through ``extra_conf`` when debugging.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Checkpoint renames without forking `readlink`. pyspark ships no
        # native libhadoop, so the default FileContext-based checkpoint
        # manager forks `readlink` about 4 times per rename
        # (RawLocalFs.getFileLinkStatus → FileUtil.readLink). With the
        # no-`.crc` flag below, 6 warm perfbench kinematics drains went from
        # 3,983 process starts to 550 (JFR), perfbench's summed state
        # commit time (`operators.windows.commit_ms`) from 1,400 to 110 ms,
        # and kinematics events/s from a median 5,643 to 8,008 on 4 cores
        # (CHANGES.md). This manager
        # renames through FileSystem.rename (File.renameTo on local disk).
        # On HDFS that rename is atomic and refuses an existing target, as
        # before; on local disk it checks for the target and then renames,
        # which is safe because one query owns a checkpoint dir. S3 has no
        # atomic rename under either manager.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    # Other settings, e.g. the RocksDB state store provider for large
    # streaming state, come in through ``extra_conf``.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # No `.<name>.crc` side file next to every local file: without
    # libhadoop each one is a second create that forks `chmod`
    # (RawLocalFileSystem.setPermission). Spark's own checkpoint checksums
    # (spark.sql.streaming.checkpoint.fileChecksum.enabled, on by default)
    # still guard the state files. This is a flag on the JVM's cached
    # local FileSystem, not `fs.file.impl=RawLocalFileSystem`: that breaks
    # FileSystem.getLocal, which the RocksDB state store calls on every
    # commit. It reaches everything in this JVM, local-mode tasks too;
    # executors in their own JVM keep writing checksums.
    sc = spark.sparkContext
    local_fs = sc._jvm.org.apache.hadoop.fs.FileSystem.get(
        sc._jvm.java.net.URI("file:///"), sc._jsc.hadoopConfiguration()
    )
    local_fs.setWriteChecksum(False)
    sc.setLogLevel("WARN")
    return spark
