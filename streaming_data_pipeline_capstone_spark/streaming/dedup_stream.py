"""Incremental (streaming) near-duplicate detection.

The batch MinHash-LSH pipeline (operators/dedup.py) answers "which pairs in
this corpus are near-dups"; a training-data INGEST pipeline needs the
incremental question: "is this NEW document a near-dup of anything seen
before". This module runs that as a Structured Streaming job:

per micro-batch (foreachBatch):
  1. shingle + minhash + band the new documents (same operators as batch)
  2. candidate pairs = new bands ⋈ persistent band index on (band_id, bh)
     — only same-bucket rows meet, exactly the batch pipeline's property,
     so matching cost is O(new docs × bucket occupancy), not O(corpus)
  3. plus new-vs-new candidates within the batch
  4. exact-Jaccard verify against the persistent shingle index
  5. append verified pairs to the output, and the new docs' bands +
     shingles to the index

The index is two parquet tables (bands keyed by bucket hash, shingle sets
keyed by doc), each PARTITIONED BY A KEY BUCKET (``bkt=`` level above the
epoch partitions): per micro-batch, only the bucket directories the
batch's own band hashes / candidate doc ids touch are listed and read, so
steps 2 and 4 cost Θ(batch), not Θ(accumulated index). State is
storage-backed, not driver-resident — the driver only orchestrates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_capstone_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    candidate_pairs_from_bands,
    fingerprint,
    jaccard_verify,
    lsh_bands,
    minhash_signatures,
    shingle_sets,
)


# State-index bucket fan-out: a RULE of expected batch size, not a
# constant (a fixed 16 meant any batch with >=16
# distinct key prefixes touched every bucket, so pruning only bit when
# batches were small relative to fan-out). With B uniformly-hashed keys
# per batch over N buckets, the expected touched fraction is
# 1 - exp(-B/N); holding it at MAX_TOUCHED_FRAC gives N >= B / -ln(1-f).
# Hex-prefix buckets quantize N to powers of 16 (the md5-prefix scheme),
# so the rule returns the smallest prefix length whose fan-out clears
# the bound — the same ship-the-knob-as-a-rule pattern as
# operators/similarity.banded_lsh_config. The defaults (prefix length 1
# = 16 buckets) remain right for the gate corpora's few-hundred-doc
# batches where more buckets would just multiply tiny files; a stream
# sized with ``expected_batch_docs`` gets the rule automatically. The
# fan-out MUST stay fixed for the life of one index (a key's bucket is
# its address): pick it at stream start, and pass the same value to
# compact_index.

MAX_TOUCHED_FRAC = 0.3

_BH_PREFIX_LEN = 1  # md5-hex prefix → 16 band-index buckets (gate default)
_DOC_BUCKETS = 16   # shingle-set / fingerprint index fan-out (gate default)
_MAX_PREFIX_LEN = 8


def state_bucket_prefix_len(
    expected_batch_keys: int, max_touched_frac: float = MAX_TOUCHED_FRAC
) -> int:
    """Smallest hex-prefix length whose 16^L fan-out keeps the expected
    per-batch touched-bucket fraction ≤ ``max_touched_frac``."""
    import math

    need = max(1.0, expected_batch_keys / -math.log(1.0 - max_touched_frac))
    return min(_MAX_PREFIX_LEN, max(1, math.ceil(math.log(need, 16))))


def state_bucket_fanout(
    expected_batch_keys: int, max_touched_frac: float = MAX_TOUCHED_FRAC
) -> int:
    """Integer fan-out form of the rule (for pmod-bucketed keys), kept a
    power of 16 so both bucket schemes scale in lockstep."""
    return 16 ** state_bucket_prefix_len(expected_batch_keys, max_touched_frac)


_LAYOUT_MARKER = "_LAYOUT_META.json"


def check_or_write_index_layout(
    index_dir: str, bh_prefix_len: int, doc_fanout: int
) -> None:
    """Pin the bucket layout of a state index for its whole life.

    A key's bucket is its address: restarting a stream over the same
    ``index_dir`` with a different ``expected_batch_docs`` (or compacting
    with mismatched fan-outs) would silently mix incompatible bucket
    layouts — pruned reads would miss prior state and duplicates would go
    UNDETECTED (wrong verdicts, not an error). So the first writer records
    the chosen fan-outs in ``_LAYOUT_META.json`` under the index dir (the
    ann_layout marker convention), and every later open — stream start or
    compaction — fails fast on mismatch instead (ADVICE r13)."""
    import json

    os.makedirs(index_dir, exist_ok=True)
    marker = os.path.join(index_dir, _LAYOUT_MARKER)
    want = {"bh_prefix_len": int(bh_prefix_len), "doc_fanout": int(doc_fanout)}
    if os.path.exists(marker):
        with open(marker) as fh:
            have = json.load(fh)
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
    with open(marker, "w") as fh:
        json.dump(want, fh)


# Per-index-path schema memo for read_index (see its docstring). Keyed on
# the index path; schemas are metadata fixed at index creation, never rows.
_INDEX_SCHEMA_CACHE: dict[str, object] = {}


def read_index_layout(index_dir: str) -> dict:
    """The pinned layout marker of a state index — the single source of
    truth for bucket fan-outs at PROBE time (ADVICE r14: a probe that
    accepts a caller-supplied fan-out can silently hash with a different
    prefix than the writer used — buckets missed, docs dropped, df/scores
    wrong; reading the marker makes that failure impossible, and a
    missing marker fails fast instead of guessing)."""
    import json

    marker = os.path.join(index_dir, _LAYOUT_MARKER)
    if not os.path.exists(marker):
        raise FileNotFoundError(
            f"no {_LAYOUT_MARKER} under {index_dir}: this index was not "
            "written by a layout-pinning writer (or the marker was lost). "
            "Probing with a guessed fan-out would silently miss buckets — "
            "refusing."
        )
    with open(marker) as fh:
        return json.load(fh)


def _write_index_layout(index_dir: str, bh_prefix_len: int, doc_fanout: int) -> None:
    """Unconditional marker (re)write — compact_index's rebucket path,
    which legitimately redefines the layout for every bucket at once."""
    import json

    os.makedirs(index_dir, exist_ok=True)
    with open(os.path.join(index_dir, _LAYOUT_MARKER), "w") as fh:
        json.dump(
            {"bh_prefix_len": int(bh_prefix_len), "doc_fanout": int(doc_fanout)}, fh
        )


def _bh_bucket(bh, prefix_len: int = _BH_PREFIX_LEN):
    """Bucket of a band hash: leading hex chars of the md5 — uniform by
    construction, and computable from the batch alone."""
    return F.substring(bh, 1, prefix_len)


def _doc_bucket(doc, fanout: int = _DOC_BUCKETS):
    """Bucket of a doc id for the shingle-set index: pmod over a fixed
    fan-out (doc ids are arbitrary bigints)."""
    return F.pmod(doc, F.lit(fanout)).cast("int")


def write_epoch_idempotent(
    df: DataFrame, path: str, epoch_id: int, bucket=None
) -> None:
    """Idempotent per-epoch write for foreachBatch sinks.

    foreachBatch is at-least-once: a crash between the sink write and the
    checkpoint commit replays the same epoch. A plain ``mode("append")``
    would re-append the batch's rows, permanently duplicating index
    entries and every downstream candidate/verified pair. Partitioning by
    ``epoch`` with dynamic-partition overwrite makes the replay OVERWRITE
    exactly its own partition (only partitions present in the written
    data are touched), turning at-least-once delivery into effectively-
    once storage — the standard exactly-once recipe for foreachBatch
    parquet sinks.

    ``bucket`` (a Column expression over the frame, e.g. a key prefix)
    adds a LEADING ``bkt=<v>`` partition level under which the epoch
    partitions nest. That is what makes per-micro-batch state reads
    prunable: a later batch lists and reads ONLY the bucket directories
    its own keys hash to (see :func:`read_index`), so per-batch I/O is
    Θ(batch), not Θ(accumulated index). Replays stay idempotent — a
    micro-batch's content is deterministic from the checkpoint, so the
    replay writes the same (bkt, epoch) pairs and dynamic overwrite
    touches exactly those.
    """
    cols = ["epoch"]
    if bucket is not None:
        # repartition ON the bucket so each (bkt, epoch) partition is ONE
        # file, not one per upstream task — without this a B-bucket × T-
        # task batch writes B×T tiny files per epoch and the file count
        # (not the data) becomes the per-batch cost. One batch-sized
        # exchange on a 1-2 byte key.
        df = df.withColumn("bkt", bucket).repartition("bkt")
        cols = ["bkt", "epoch"]
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

    ``buckets`` (for indexes written with ``write_epoch_idempotent``'s
    ``bucket=``) prunes the read to those ``bkt=`` directories — and the
    pruning is at the LISTING level, not just the filter level: only the
    probed directories are enumerated (explicit subpaths + ``basePath``),
    so neither file listing nor row-group reads scale with the index.
    The bucket list is a per-batch literal, the same recipe as the ANN
    layout's partition-pruned probe (operators/ann_layout.py). Raises
    (like a missing index does) when none of the probed buckets exist —
    callers already treat a read failure as "no old state for this
    batch", which is exactly the semantics.
    """
    # Per-index schema memo: an index's column set is fixed at creation
    # (the layout marker pins its config), but a bare read re-infers the
    # schema from footers EVERY micro-batch — a driver-blocking job per
    # open (guide §5; same fix as ann_layout.read_cell_layout). First
    # open infers and records; later opens declare it. Declaring the
    # partition columns also pins their types across batches (inference
    # re-derives them from whichever bucket values happen to be listed).
    cached = _INDEX_SCHEMA_CACHE.get(path)
    reader = spark.read
    if cached is not None:
        reader = reader.schema(cached)
    if buckets is not None:
        sub = _existing_bucket_paths(spark, path, buckets)
        if not sub:
            raise FileNotFoundError(f"no probed buckets under {path}")
        df = reader.option("basePath", path).parquet(*sub)
    else:
        df = reader.parquet(path)
    if cached is None:
        _INDEX_SCHEMA_CACHE[path] = df.schema
    if exclude_epoch is not None:
        df = df.filter(F.col("epoch") != int(exclude_epoch))
    return df.drop("epoch", "bkt")


def _merge_batch(
    batch: DataFrame,
    epoch_id: int,
    index_dir: str,
    pairs_dir: str,
    id_col: str,
    text_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    pre_dedup: bool = True,
    bh_prefix_len: int = _BH_PREFIX_LEN,
    doc_fanout: int = _DOC_BUCKETS,
) -> None:
    spark = batch.sparkSession
    bands_path = os.path.join(index_dir, "bands")
    sets_path = os.path.join(index_dir, "sets")

    if pre_dedup:
        # Streams are where pathological repetition actually shows up
        # (crawl replays delivering the same page many times per batch):
        # collapse normalization-identical docs to their min-id
        # representative BEFORE shingling so k copies can't form a hot
        # LSH bucket emitting k(k-1)/2 pairs — the same mitigation as
        # the batch pipeline's minhash_lsh_dedup(pre_dedup=True), on by
        # default here. One extra in-batch exchange on the 16-byte
        # fingerprint, never on the text.
        reps = (
            batch.select(F.col(id_col), fingerprint(text_col).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias(id_col))
        )
        batch = batch.join(reps, id_col, "left_semi")

    sets_new = shingle_sets(batch, id_col, text_col).persist()
    bands_new = lsh_bands(minhash_signatures(sets_new, num_hashes), num_hashes, bands).persist()

    # new-vs-new pairs within this batch
    cands = candidate_pairs_from_bands(bands_new)
    # new-vs-old: the band index is bucketed by a bh prefix, so only
    # the bucket directories this batch's bands hash to are listed
    # and read — per-batch I/O ∝ batch, not accumulated index. The
    # bucket list is a per-batch literal (≤ _BH_BUCKETS values,
    # collected from the already-persisted bands_new — this collect is
    # a real job and stays OUTSIDE the missing-index guard so a
    # transient failure fails the batch instead of silently dropping
    # cross-batch pairs). doc1 = old, doc2 = new (id order fixed
    # afterwards by jaccard_verify's symmetric join).
    bh_bkts = [
        r[0]
        for r in bands_new.select(_bh_bucket(F.col("bh"), bh_prefix_len).alias("b"))
        .distinct()
        .collect()
    ]
    bands_old = read_index_or_none(
        spark, bands_path, exclude_epoch=epoch_id, buckets=bh_bkts
    )
    if bands_old is not None:
        cross = (
            bands_new.alias("n")
            .join(
                bands_old.alias("o"),
                (F.col("n.band_id") == F.col("o.band_id"))
                & (F.col("n.bh") == F.col("o.bh")),
            )
            .select(
                F.least(F.col("n.doc"), F.col("o.doc")).alias("doc1"),
                F.greatest(F.col("n.doc"), F.col("o.doc")).alias("doc2"),
            )
            .filter(F.col("doc1") != F.col("doc2"))
            .distinct()
        )
        cands = cands.unionByName(cross).distinct()

    cands = cands.persist()
    # the shingle index is only needed for the OLD side of verified
    # candidates — prune its read to the doc-id buckets the candidate
    # pairs actually touch (cands is LSH-survivor-sized, so the
    # bucket collect is cheap; every old candidate doc is covered by
    # construction since its bucket is derived from the pair row). The
    # collect runs the full LSH band join — unguarded on purpose.
    cand_bkts = [
        r[0]
        for r in cands.select(
            F.explode(
                F.array(
                    _doc_bucket(F.col("doc1"), doc_fanout),
                    _doc_bucket(F.col("doc2"), doc_fanout),
                )
            ).alias("b")
        )
        .distinct()
        .collect()
    ]
    sets_old = read_index_or_none(
        spark, sets_path, exclude_epoch=epoch_id, buckets=cand_bkts
    )
    all_sets = (
        sets_new if sets_old is None else sets_new.unionByName(sets_old)
    )

    verified = jaccard_verify(cands, all_sets, threshold)
    write_epoch_idempotent(verified, pairs_dir, epoch_id)
    write_epoch_idempotent(
        bands_new, bands_path, epoch_id,
        bucket=_bh_bucket(F.col("bh"), bh_prefix_len),
    )
    write_epoch_idempotent(
        sets_new, sets_path, epoch_id,
        bucket=_doc_bucket(F.col("doc"), doc_fanout),
    )
    cands.unpersist()
    sets_new.unpersist()
    bands_new.unpersist()


def streaming_minhash_dedup(
    stream_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    available_now: bool = True,
    pre_dedup: bool = True,
    expected_batch_docs: int | None = None,
) -> StreamingQuery:
    """Start the incremental dedup job over a stream of documents.

    Emits verified (doc1, doc2, jaccard, epoch) rows to ``pairs_dir`` —
    including pairs whose two sides arrived in different micro-batches —
    and maintains the band/shingle index under ``index_dir``.
    ``pre_dedup`` (default ON) collapses normalization-identical docs
    within each micro-batch before LSH — the hot-bucket mitigation.

    ``expected_batch_docs`` sizes the state-index bucket fan-out by the
    rule (``state_bucket_prefix_len``): the band index sees ~docs×bands
    keys per batch, the shingle index ~docs. Omitted, the gate-default
    fan-out of 16 applies. The value must stay FIXED for the life of
    ``index_dir`` (a key's bucket is its address) — restarts of the same
    stream must pass the same number, and compact_index the same fan-outs.
    """
    if expected_batch_docs is not None:
        bh_prefix_len = state_bucket_prefix_len(expected_batch_docs * bands)
        doc_fanout = state_bucket_fanout(expected_batch_docs)
    else:
        bh_prefix_len, doc_fanout = _BH_PREFIX_LEN, _DOC_BUCKETS
    # fail fast at stream start if index_dir was written under a different
    # layout (first start records it) — see check_or_write_index_layout
    check_or_write_index_layout(index_dir, bh_prefix_len, doc_fanout)

    def merge(batch: DataFrame, epoch_id: int) -> None:
        _merge_batch(
            batch, epoch_id, index_dir, pairs_dir,
            id_col, text_col, threshold, num_hashes, bands,
            pre_dedup=pre_dedup,
            bh_prefix_len=bh_prefix_len, doc_fanout=doc_fanout,
        )

    w = stream_docs.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def exact_dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exact streaming deduplication with bounded state.

    The exact-dup twin of :func:`streaming_minhash_dedup`'s near-dup path:
    emit only the FIRST arrival of each key combination, suppressing
    re-deliveries that land within the watermark horizon. Built on
    ``dropDuplicatesWithinWatermark`` so per-key state is EVICTED once the
    event-time watermark passes — a plain ``dropDuplicates`` on a stream
    buffers every key forever, which is exactly what a 100 TB ingest
    cannot do. (Trade-off, documented: a duplicate arriving later than
    the watermark horizon is re-emitted; crawl re-deliveries cluster
    tightly in time, so the horizon buys bounded state for a bounded—and
    tunable—dedup window.)
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


# Compaction trigger rule (the trigger used to be a manual step):
# every epoch adds ~1 file per touched bucket, and each file costs a
# fixed open/footer overhead per pruned read on top of its data. With
# per-batch data per bucket ≈ batch/fanout rows, the fixed term starts
# dominating once a bucket holds more epoch-files than a batch's rows
# amortize — the measured fan-out-4096 cliff
# (BENCH_stream_curation_scale_r13.json: 11.7 s vs 2.0 s per batch from
# file overhead alone). Threshold mirrors the ANN layout's rule
# (operators/ann_layout.MAX_EPOCH_FILES); the r14 probe artifact
# (BENCH_stream_compaction_r14.json) re-measures the band it buys back.

MAX_BUCKET_FILES = 16


def files_per_bucket_table(table_path: str) -> int:
    """Max parquet-file count under any one bkt= of ONE epoch-partitioned
    state table (directory metadata, one tree listing, no data read).
    Listed through the Hadoop FileSystem API when a session is active —
    the same contract as the pruned read path — so the compaction
    trigger fires on remote indexes too (ADVICE r14)."""
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        max_files_per_partition,
    )

    return max_files_per_partition(table_path, "bkt")


def files_per_bucket(index_dir: str) -> int:
    """Max files-per-bucket across both dedup index tables — the quantity
    the compaction rule thresholds."""
    return max(
        files_per_bucket_table(os.path.join(index_dir, sub))
        for sub in ("bands", "sets")
    )


def index_compaction_due(
    index_dir: str, max_bucket_files: int = MAX_BUCKET_FILES
) -> bool:
    return files_per_bucket(index_dir) > max_bucket_files


# Write-side rebucket trigger rule. The files-per-bucket
# threshold above bounds READ amplification only; the r14 probe
# (BENCH_stream_compaction_r14.json Phase B) proved that at over-sized
# fan-out the per-batch cost is the WRITE side — each epoch commits ~1
# dir+file per touched bucket and the commit protocol walks them all —
# which read-side compaction cannot recover (17.4 s/batch compacted vs
# 1.34 s after a rebucket to 16). So fan-out is bounded from BOTH sides:
# the touched-fraction rule (state_bucket_prefix_len) sets the floor a
# pruned read needs, and a FILE-SIZE floor sets the ceiling a write can
# afford — a (bucket, epoch) file far below a real parquet file (row
# groups, dictionary pages) is pure commit overhead. The decision reads
# only directory metadata the index already has: per-epoch touched
# buckets and bytes. It fires when the marker's fan-out exceeds the
# file-floor target by >= REBUCKET_OVERSIZE for REBUCKET_WINDOW
# consecutive epochs, and names the target (power-of-16, the bucket
# convention) for the compaction point to rebucket to — compaction IS
# the legitimate rebucket path (it rewrites every bucket anyway and
# re-pins the marker, so probes can never hash with a stale fan-out).

REBUCKET_FILE_FLOOR = 1 << 20  # 1 MiB: the smallest honest parquet file
REBUCKET_OVERSIZE = 4  # fan-out must exceed the target 4x to bother
REBUCKET_WINDOW = 4  # sustained over this many consecutive epochs


def epoch_write_stats(table_path: str) -> dict[int, dict]:
    """Per-epoch write shape of one epoch-partitioned state table:
    ``{epoch: {"touched_buckets": n, "bytes": b}}`` from ONE recursive
    listing of the table tree (directory metadata through the Hadoop
    FileSystem API — the compaction trigger's listing contract; no data
    read). The compaction sentinel epoch -1 is excluded: it describes
    history, not a batch."""
    spark = SparkSession.getActiveSession()
    stats: dict[int, dict] = {}

    def add(epoch: int, bkt: str, nbytes: int) -> None:
        if epoch < 0:
            return
        rec = stats.setdefault(
            epoch, {"touched_buckets": set(), "bytes": 0}
        )
        rec["touched_buckets"].add(bkt)
        rec["bytes"] += nbytes

    if spark is None:
        if not os.path.isdir(table_path):
            return {}
        for bdir in os.listdir(table_path):
            if not bdir.startswith("bkt="):
                continue
            bfull = os.path.join(table_path, bdir)
            for edir in os.listdir(bfull) if os.path.isdir(bfull) else []:
                if not edir.startswith("epoch="):
                    continue
                efull = os.path.join(bfull, edir)
                nbytes = sum(
                    os.path.getsize(os.path.join(efull, f))
                    for f in os.listdir(efull)
                    if f.endswith(".parquet")
                )
                add(int(edir.split("=", 1)[1]), bdir, nbytes)
    else:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(table_path)
        fs = root.getFileSystem(conf)
        if not fs.exists(root):
            return {}
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
            add(int(edir.split("=", 1)[1]), bdir, st.getLen())
    return {
        e: {"touched_buckets": len(r["touched_buckets"]), "bytes": r["bytes"]}
        for e, r in stats.items()
    }


def rebucket_decision(
    table_path: str,
    current_fanout: int,
    window: int = REBUCKET_WINDOW,
    file_floor: int = REBUCKET_FILE_FLOOR,
    oversize: int = REBUCKET_OVERSIZE,
) -> dict:
    """Should the next compaction point REBUCKET this table, and to what
    fan-out? Target: the largest power-of-16 fan-out keeping the expected
    (bucket, epoch) file at or above ``file_floor`` bytes for the
    observed batch size — est_batch_bytes // file_floor buckets, floored
    at 16. Due iff the last ``window`` epochs ALL wrote at that
    estimate's scale (sustained, not a one-off small batch) and the
    current fan-out exceeds the target by >= ``oversize``."""
    import math

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
    if current_fanout >= oversize * target_fanout:
        out["rebucket_due"] = True
        out["reason"] = (
            f"fan-out {current_fanout} is >= {oversize}x the file-floor "
            f"target {target_fanout} for {window} consecutive epochs "
            f"(largest batch {est} B -> {target_fanout} buckets at a "
            f"{file_floor} B file floor)"
        )
    else:
        out["reason"] = (
            f"fan-out {current_fanout} within {oversize}x of target "
            f"{target_fanout}"
        )
    return out


def maybe_compact_index(
    spark,
    index_dir: str,
    partitions_per_table: int = 32,
    bh_prefix_len: int = _BH_PREFIX_LEN,
    doc_fanout: int = _DOC_BUCKETS,
    max_bucket_files: int = MAX_BUCKET_FILES,
) -> bool:
    """Apply the compaction rule: compact iff any bucket's epoch-file
    count crossed the threshold. Call from the maintenance point (after
    an availableNow drain / between stream runs — compact_index's
    contract); returns whether a compaction ran."""
    if not index_compaction_due(index_dir, max_bucket_files):
        return False
    compact_index(
        spark,
        index_dir,
        partitions_per_table=partitions_per_table,
        bh_prefix_len=bh_prefix_len,
        doc_fanout=doc_fanout,
    )
    return True


def compact_index(
    spark,
    index_dir: str,
    partitions_per_table: int = 32,
    bh_prefix_len: int = _BH_PREFIX_LEN,
    doc_fanout: int = _DOC_BUCKETS,
) -> None:
    """Compact the growing band/shingle index.

    Each micro-batch writes one small epoch partition; periodically
    rewrite both tables with a sane file count so the per-batch bucket
    join doesn't degrade into a many-small-files scan. All historical
    epochs collapse into the sentinel partition ``epoch=-1`` (which no
    real micro-batch id can collide with), keeping the epoch-partitioned
    layout intact for subsequent idempotent writes.

    ONLY run this with the stream stopped and its checkpoint fully
    committed (e.g. after an ``availableNow`` drain): compacting an epoch
    that later replays would re-append those rows. The bucket level of
    the layout (``bkt=``, what the per-batch pruned reads key on) is
    REBUILT from the same key expressions the hot path writes with —
    pass the SAME ``bh_prefix_len`` / ``doc_fanout`` the stream was
    started with — so compaction collapses epochs without breaking
    pruning. Run it from a maintenance job, not the hot path.
    """
    for sub, bucket in (
        ("bands", _bh_bucket(F.col("bh"), bh_prefix_len)),
        ("sets", _doc_bucket(F.col("doc"), doc_fanout)),
    ):
        compact_epoch_table(
            spark, os.path.join(index_dir, sub), bucket, partitions_per_table
        )
    # compaction rebuilds every bkt= from the key expressions, so it is
    # the one legitimate layout change — record the (possibly new)
    # fan-outs so the next stream start checks against THIS layout
    _write_index_layout(index_dir, bh_prefix_len, doc_fanout)


def compact_epoch_table(
    spark, path: str, bucket, partitions_per_table: int = 32
) -> None:
    """Compact ONE epoch-partitioned, bucket-partitioned state table:
    collapse every epoch into the sentinel ``epoch=-1`` and rewrite each
    bucket as ONE file (a ``repartition`` on the bucket key — the
    fan-out rule already sizes buckets to be file-sized, so one file per
    bucket is the shape the per-batch pruned read wants). The shared
    core of :func:`compact_index` (bands/sets) and the streamed postings
    index (text_index_stream.maybe_compact_postings_index). Same contract:
    only run with the stream stopped and its checkpoint committed."""
    df = spark.read.parquet(path).drop("epoch", "bkt")
    tmp = path + "__compacting"
    # ONE exchange, on the bucket key: the tmp staging (required because
    # the final write overwrites the path being read) is already in
    # bucket shape, and the final partitioned write re-emits it one file
    # per bucket without another shuffle
    (
        df.withColumn("bkt", bucket)
        .withColumn("epoch", F.lit(-1))
        .repartition(partitions_per_table, "bkt")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    (
        spark.read.parquet(tmp)
        .write.mode("overwrite")
        .partitionBy("bkt", "epoch")
        .parquet(path)
    )
    try:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    except Exception:
        pass
