"""On-disk format of the package's derived indexes.

Every index the package derives — the streaming dedup, verdict and
similarity state, the streamed postings index, the epoch-partitioned ANN
serving layout — is parquet under ``<path>/<col>=<v>/epoch=<e>/``: a
leading partition column (``bkt``, a key bucket, or ``cell``, an IVF
cell) above one directory per micro-batch epoch. This module is the one
place that knows that format:

- :func:`write_epoch_idempotent`: the per-epoch write. foreachBatch is
  at-least-once; dynamic partition overwrite makes a replayed epoch
  overwrite exactly its own partitions, the exactly-once foreachBatch
  recipe of the Structured Streaming paper (SIGMOD 2018).
- :func:`read_index`, :func:`read_index_or_none`, :func:`read_buckets`:
  the pruned read, which lists and reads only the ``bkt=`` directories a
  batch's keys hash to.
- :func:`compaction_due` and :func:`compact_epochs`: the files-per-
  partition rule, and compaction of every epoch into the sentinel
  ``epoch=-1`` through a ``__compacting`` staging dir.
- :func:`epoch_write_stats` and :func:`rebucket_decision`: the
  write-side rebucket rule.
- :func:`pin_index_layout` and :func:`read_index_layout`: the bucket
  layout pin of a state index.
- :func:`cached_build`: build a derived layout once behind a JSON
  marker, and rebuild it when the marker's key is stale.

One marker file name, ``_LAYOUT_META.json``, has two meanings. Under a
state index it is the layout pin ``{bh_prefix_len, doc_fanout}``. Under a
cached layout (``.ann_layout/``, ``.text_layout/``) it is the cache key
plus what the build stored (``source_mtime``, ``schema_version``, ...).
No directory holds both.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LAYOUT_MARKER = "_LAYOUT_META.json"


def source_mtime(sf_dir: str, table: str) -> float:
    """Modification time of ``<sf_dir>/<table>.parquet`` (of its newest
    chunk when the table is a directory): the staleness key of every
    layout built from that table."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(src):
        return max(
            (os.path.getmtime(os.path.join(src, f)) for f in os.listdir(src)),
            default=os.path.getmtime(src),
        )
    return os.path.getmtime(src)


def cached_build(
    path: str, marker: str, key: dict, build: Callable[[], dict | None]
) -> dict:
    """Build the layout under ``path`` once and return its marker dict.

    The marker ``<path>/<marker>`` stores ``key`` plus what ``build()``
    returns. When it exists and matches ``key`` item for item, the stored
    dict is returned and nothing runs. Otherwise the whole of ``path`` is
    cleared first: epoch appends use dynamic partition overwrite, which
    only touches the partitions present in the new data, so a partition
    only the old build wrote would survive into the new index. The marker
    is written last, so a build that raises leaves none and the next call
    rebuilds."""
    file = os.path.join(path, marker)
    if os.path.exists(file):
        with open(file) as fh:
            meta = json.load(fh)
        if all(meta.get(k) == v for k, v in key.items()):
            return meta
    shutil.rmtree(path, ignore_errors=True)
    meta = {**key, **(build() or {})}
    os.makedirs(path, exist_ok=True)
    with open(file, "w") as fh:
        json.dump(meta, fh)
    return meta


# -- state-index layout pin -----------------------------------------------------


def read_index_layout(index_dir: str) -> dict:
    """The pinned layout marker of a state index: the single source of
    truth for bucket fan-outs at probe time. A probe that accepted a
    caller-supplied fan-out could hash with a different prefix than the
    writer used (buckets missed, docs dropped, df and scores wrong), so a
    missing marker fails fast instead of guessing."""
    marker = os.path.join(index_dir, LAYOUT_MARKER)
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"no {LAYOUT_MARKER} under {index_dir}: this index was not "
            "written by a layout-pinning writer (or the marker was lost). "
            "Probing with a guessed fan-out would silently miss buckets — "
            "refusing."
        )
    with open(marker) as fh:
        return json.load(fh)


def pin_index_layout(
    index_dir: str, bh_prefix_len: int, doc_fanout: int, repin: bool = False
) -> None:
    """Pin the bucket layout of a state index for its whole life.

    A key's bucket is its address: reopening an index with other fan-outs
    would silently mix bucket layouts, so pruned reads would miss prior
    state and duplicates would go undetected. The first writer records
    the fan-outs; every later open fails fast on a mismatch. ``repin``
    rewrites the pin unconditionally: compaction rebuilds every ``bkt=``
    from the key expressions, so it is the one legitimate layout change."""
    want = {"bh_prefix_len": int(bh_prefix_len), "doc_fanout": int(doc_fanout)}
    if not repin and os.path.exists(os.path.join(index_dir, LAYOUT_MARKER)):
        have = read_index_layout(index_dir)
        got = {k: have.get(k) for k in want}
        if got != want:
            raise ValueError(
                f"state-index bucket layout mismatch at {index_dir}: "
                f"index was written with {got}, caller asked for {want}. "
                "The fan-out is fixed for the life of an index — pass the "
                "same expected_batch_docs/fan-outs, or rebucket first by "
                "running compact_index with the new fan-outs (the "
                "legitimate layout change: it rebuilds every bkt=)."
            )
        return
    os.makedirs(index_dir, exist_ok=True)
    with open(os.path.join(index_dir, LAYOUT_MARKER), "w") as fh:
        json.dump(want, fh)


# -- per-epoch write and pruned read ----------------------------------------------


def write_epoch_idempotent(
    df: DataFrame, path: str, epoch_id: int, partition: str | None = None
) -> None:
    """Idempotent per-epoch write for foreachBatch sinks.

    foreachBatch is at-least-once: a crash between the sink write and the
    checkpoint commit replays the same epoch, and a plain append would
    duplicate the batch's rows for good. Partitioning by ``epoch`` with
    dynamic partition overwrite makes the replay overwrite exactly its
    own partitions, turning at-least-once delivery into effectively-once
    storage.

    ``partition`` names an existing column (``bkt`` or ``cell``) that
    becomes a leading partition level above the epochs. That is what
    makes later reads prunable: a batch lists and reads only the
    directories its own keys map to (:func:`read_index`), so per-batch
    I/O is Θ(batch), not Θ(index). The frame is repartitioned on that
    column, so each (partition, epoch) is one file instead of one per
    upstream task."""
    cols = ["epoch"]
    if partition is not None:
        df = df.repartition(partition)
        cols = [partition, "epoch"]
    (
        df.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _existing_bucket_paths(spark, path: str, buckets: list) -> list[str]:
    """The subset of ``<path>/bkt=<b>`` directories that exist, resolved
    through ONE Hadoop globStatus call (remote schemes work; cost is one
    listing of the index ROOT's direct children — bounded by the bucket
    fan-out constant, independent of index size).

    A ``None`` bucket (a null key — e.g. the fingerprint of a null text)
    is probed as Hive's default null partition, which is where the
    writer put it; the literal string ``'bkt=None'`` never exists."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    glob = jvm.org.apache.hadoop.fs.Path(f"{path}/bkt=*")
    statuses = fs.globStatus(glob)
    if statuses is None:
        return []
    have = {st.getPath().getName() for st in statuses}
    names = {_HIVE_NULL_PART if b is None else b for b in buckets}
    return [f"{path}/bkt={b}" for b in names if f"bkt={b}" in have]


def read_buckets(spark, path: str, buckets: list, schema) -> DataFrame | None:
    """Read only the ``bkt=`` directories of ``path`` that ``buckets``
    name, pruned at the listing level (explicit subpaths plus
    ``basePath``), with ``schema`` declared when given. ``None`` when none
    of the probed buckets exists."""
    sub = _existing_bucket_paths(spark, path, buckets)
    if not sub:
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.option("basePath", path).parquet(*sub)


# Per-index-path schema memo for read_index (see its docstring). Keyed on
# the index path; schemas are metadata fixed at index creation, never rows.
_INDEX_SCHEMA_CACHE: dict[str, object] = {}


def read_index(
    spark,
    path: str,
    exclude_epoch: int | None = None,
    buckets: list | None = None,
) -> DataFrame:
    """Read an epoch-partitioned index table, hiding the partition columns.

    ``exclude_epoch`` drops one epoch's partition (partition-pruned scan):
    on a replayed micro-batch the index already holds the crashed
    attempt's own partition, which must not count as "old" data.

    ``buckets`` prunes the read to those ``bkt=`` directories at the
    listing level (:func:`read_buckets`), so neither file listing nor
    row-group reads scale with the index. Raises (like a missing index
    does) when none of the probed buckets exist.
    """
    # An index's column set is fixed at creation, but a bare read
    # re-infers the schema from footers every micro-batch — a
    # driver-blocking job per open. First open infers and records; later
    # opens declare it, which also pins the partition column types.
    cached = _INDEX_SCHEMA_CACHE.get(path)
    if buckets is None:
        df = (spark.read if cached is None else spark.read.schema(cached)).parquet(path)
    else:
        df = read_buckets(spark, path, buckets, cached)
        if df is None:
            raise FileNotFoundError(f"no probed buckets under {path}")
    if cached is None:
        _INDEX_SCHEMA_CACHE[path] = df.schema
    if exclude_epoch is not None:
        df = df.filter(F.col("epoch") != int(exclude_epoch))
    return df.drop("epoch", "bkt")


def read_index_or_none(
    spark,
    path: str,
    exclude_epoch: int | None = None,
    buckets: list | None = None,
) -> DataFrame | None:
    """:func:`read_index`, returning ``None`` iff the index (or every
    probed bucket) does not exist yet — the first-batch case.

    This is the ONLY failure callers may treat as "no old state". A
    broad ``except`` here once swallowed transient Spark job failures
    too, silently dropping every cross-batch pair for the epoch while
    the stream committed it — the worst kind of loss (permanent and
    signal-free). Keep candidate-side ``collect()`` jobs OUTSIDE this
    call so their failures still fail the batch and trigger the
    engine's replay."""
    from pyspark.errors import AnalysisException

    try:
        return read_index(
            spark, path, exclude_epoch=exclude_epoch, buckets=buckets
        )
    except FileNotFoundError:
        return None  # no probed bucket exists yet
    except AnalysisException as e:
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return None  # index root not created yet
        raise


# -- compaction -------------------------------------------------------------------
# Every epoch adds ~1 file per touched partition, and each file costs a
# fixed open/footer overhead per pruned read on top of its data. Once a
# partition holds more epoch files than a batch's rows amortize, the
# fixed term dominates (a fan-out-4096 state index measured 11.7 s
# against 2.0 s per batch from file overhead alone; the round artifacts
# are in git history at 78bf83b). The rule: compact when the most files
# under any one partition exceeds MAX_PARTITION_FILES.

MAX_PARTITION_FILES = 16


def max_files_per_partition(path: str, column: str) -> int:
    """Most parquet files under any one ``<column>=<v>`` directory of
    ``path``: one Hadoop listing of the tree (directory metadata, no data
    read), so the rule fires on remote indexes too."""
    spark = SparkSession.active()
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return 0
    worst = 0
    for st in fs.globStatus(jvm.org.apache.hadoop.fs.Path(f"{path}/{column}=*")) or []:
        if not st.isDirectory():
            continue
        n = 0
        it = fs.listFiles(st.getPath(), True)  # recursive
        while it.hasNext():
            n += it.next().getPath().getName().endswith(".parquet")
        worst = max(worst, n)
    return worst


def compaction_due(
    path: str, column: str, max_files: int = MAX_PARTITION_FILES
) -> bool:
    return max_files_per_partition(path, column) > max_files


def compact_epochs(
    spark: SparkSession,
    path: str,
    column: str,
    bucket=None,
    partitions: int = 32,
) -> None:
    """Collapse every epoch of an epoch-partitioned table into the
    sentinel ``epoch=-1`` (no real micro-batch id collides with it),
    one file per ``column`` partition afterwards. Later epoch writes stay
    idempotent, and a read answers the same before and after.

    ``bucket`` (a Column over the stored rows) recomputes ``column``
    instead of keeping it as stored: the state indexes rebuild ``bkt=``
    from their key expressions, which is also how a rebucket moves the
    fan-out. Top-level ``_*.json`` markers in ``path`` survive the
    rewrite; the overwrite deletes everything else under ``path``.

    Only run with ingest stopped and its checkpoint committed (e.g. after
    an ``availableNow`` drain): compacting an epoch that later replays
    would append its rows again."""
    markers: dict[str, bytes] = {}
    if os.path.isdir(path):
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if name.startswith("_") and name.endswith(".json") and os.path.isfile(full):
                with open(full, "rb") as fh:
                    markers[name] = fh.read()
    df = spark.read.parquet(path).drop("epoch")
    if bucket is not None:
        df = df.drop(column).withColumn(column, bucket)
    # staged, because the final write overwrites the path being read
    tmp = path + "__compacting"
    df.repartition(partitions, column).write.mode("overwrite").parquet(tmp)
    (
        spark.read.parquet(tmp)
        .withColumn("epoch", F.lit(-1))
        .repartition(column)  # one file per partition
        .write.mode("overwrite")
        .partitionBy(column, "epoch")
        .parquet(path)
    )
    for name, blob in markers.items():
        with open(os.path.join(path, name), "wb") as fh:
            fh.write(blob)
    shutil.rmtree(tmp, ignore_errors=True)


# -- write-side rebucket rule -----------------------------------------------------
# The files-per-partition rule bounds READ amplification only. At an
# over-sized fan-out the per-batch cost is the WRITE side: each epoch
# commits ~1 dir+file per touched bucket and the commit protocol walks
# them all, which read-side compaction cannot recover (a probe measured
# 17.4 s per batch compacted against 1.34 s after a rebucket to 16; see
# git history at 78bf83b). So fan-out is bounded from both sides: the
# touched-fraction rule (dedup_stream.state_bucket_prefix_len) sets the
# floor a pruned read needs, and a FILE-SIZE floor sets the ceiling a
# write can afford — a (bucket, epoch) file far below a real parquet file
# is pure commit overhead. The decision reads only directory metadata:
# per-epoch touched buckets and bytes. It fires when the pinned fan-out
# exceeds the file-floor target by >= REBUCKET_OVERSIZE for
# REBUCKET_WINDOW consecutive epochs, and names the power-of-16 target
# for the compaction point to rebucket to (compaction rewrites every
# bucket anyway and re-pins the layout).

REBUCKET_FILE_FLOOR = 1 << 20  # 1 MiB: the smallest honest parquet file
REBUCKET_OVERSIZE = 4  # fan-out must exceed the target 4x to bother
REBUCKET_WINDOW = 4  # sustained over this many consecutive epochs


def epoch_write_stats(table_path: str) -> dict[int, dict]:
    """Per-epoch write shape of one bucket-partitioned table:
    ``{epoch: {"touched_buckets": n, "bytes": b}}`` from ONE recursive
    Hadoop listing of the table tree (no data read). The compaction
    sentinel epoch -1 is excluded: it describes history, not a batch."""
    spark = SparkSession.active()
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(table_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {}
    stats: dict[int, dict] = {}
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if not p.getName().endswith(".parquet"):
            continue
        edir = p.getParent().getName()
        bdir = p.getParent().getParent().getName()
        if not (edir.startswith("epoch=") and bdir.startswith("bkt=")):
            continue
        epoch = int(edir.split("=", 1)[1])
        if epoch < 0:
            continue
        rec = stats.setdefault(epoch, {"touched_buckets": set(), "bytes": 0})
        rec["touched_buckets"].add(bdir)
        rec["bytes"] += st.getLen()
    return {
        e: {"touched_buckets": len(r["touched_buckets"]), "bytes": r["bytes"]}
        for e, r in stats.items()
    }


def rebucket_decision(
    table_path: str,
    current_fanout: int,
    window: int = REBUCKET_WINDOW,
    file_floor: int = REBUCKET_FILE_FLOOR,
) -> dict:
    """Should the next compaction point REBUCKET this table, and to what
    fan-out? Target: the largest power-of-16 fan-out keeping the expected
    (bucket, epoch) file at or above ``file_floor`` bytes for the
    observed batch size — est_batch_bytes // file_floor buckets, floored
    at 16. Due iff the last ``window`` epochs ALL wrote at that
    estimate's scale (sustained, not a one-off small batch) and the
    current fan-out exceeds the target by >= REBUCKET_OVERSIZE."""
    stats = epoch_write_stats(table_path)
    epochs = sorted(stats)[-window:]
    out = {
        "table": table_path,
        "current_fanout": int(current_fanout),
        "window_epochs": epochs,
        "rebucket_due": False,
    }
    if len(epochs) < window:
        out["reason"] = f"fewer than {window} batch epochs observed"
        return out
    batch_bytes = [stats[e]["bytes"] for e in epochs]
    est = max(batch_bytes)  # the LARGEST recent batch sets the target
    target_prefix = max(1, int(math.log(max(1, est // file_floor), 16)))
    target_fanout = 16 ** target_prefix
    out.update(
        est_batch_bytes=est,
        observed_touched=[stats[e]["touched_buckets"] for e in epochs],
        target_prefix_len=target_prefix,
        target_fanout=target_fanout,
    )
    if current_fanout >= REBUCKET_OVERSIZE * target_fanout:
        out["rebucket_due"] = True
        out["reason"] = (
            f"fan-out {current_fanout} is >= {REBUCKET_OVERSIZE}x the file-floor "
            f"target {target_fanout} for {window} consecutive epochs "
            f"(largest batch {est} B -> {target_fanout} buckets at a "
            f"{file_floor} B file floor)"
        )
    else:
        out["reason"] = (
            f"fan-out {current_fanout} within {REBUCKET_OVERSIZE}x of target "
            f"{target_fanout}"
        )
    return out
