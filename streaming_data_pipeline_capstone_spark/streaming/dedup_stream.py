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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_capstone_spark.index_store import (
    MAX_PARTITION_FILES,
    compact_epochs,
    compaction_due,
    pin_index_layout,
    read_index_or_none,
    write_epoch_idempotent,
)
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
from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch


# State-index bucket fan-out: a RULE of expected batch size, not a
# constant (a fixed 16 meant any batch with >=16
# distinct key prefixes touched every bucket, so pruning only bit when
# batches were small relative to fan-out). With B uniformly-hashed keys
# per batch over N buckets, the expected touched fraction is
# 1 - exp(-B/N); holding it at MAX_TOUCHED_FRAC gives N >= B / -ln(1-f).
# Hex-prefix buckets quantize N to powers of 16 (the md5-prefix scheme),
# so the rule returns the smallest prefix length whose fan-out clears
# the bound — the same ship-the-knob-as-a-rule pattern as
# operators/similarity.banded_lsh_config. streaming_minhash_dedup uses
# the fixed fan-outs below (prefix length 1 = 16 buckets), right for
# few-hundred-doc batches where more buckets would just multiply tiny
# files. The fan-out MUST stay fixed for the life of one index (a key's
# bucket is its address); compact_index may move it and re-pins the
# layout marker.

MAX_TOUCHED_FRAC = 0.3

_BH_PREFIX_LEN = 1  # md5-hex prefix → 16 band-index buckets (gate default)
_DOC_BUCKETS = 16   # shingle-set / fingerprint index fan-out (gate default)
_MAX_PREFIX_LEN = 8


def state_bucket_prefix_len(expected_batch_keys: int) -> int:
    """Smallest hex-prefix length whose 16^L fan-out keeps the expected
    per-batch touched-bucket fraction ≤ MAX_TOUCHED_FRAC."""
    import math

    need = max(1.0, expected_batch_keys / -math.log(1.0 - MAX_TOUCHED_FRAC))
    return min(_MAX_PREFIX_LEN, max(1, math.ceil(math.log(need, 16))))


def state_bucket_fanout(expected_batch_keys: int) -> int:
    """Integer fan-out form of the rule (for pmod-bucketed keys), kept a
    power of 16 so both bucket schemes scale in lockstep."""
    return 16 ** state_bucket_prefix_len(expected_batch_keys)


def _bh_bucket(bh, prefix_len: int = _BH_PREFIX_LEN):
    """Bucket of a band hash: leading hex chars of the md5 — uniform by
    construction, and computable from the batch alone."""
    return F.substring(bh, 1, prefix_len)


def _doc_bucket(doc, fanout: int = _DOC_BUCKETS):
    """Bucket of a doc id for the shingle-set index: pmod over a fixed
    fan-out (doc ids are arbitrary bigints)."""
    return F.pmod(doc, F.lit(fanout)).cast("int")


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
    bh_prefix_len: int = _BH_PREFIX_LEN,
    doc_fanout: int = _DOC_BUCKETS,
) -> None:
    spark = batch.sparkSession
    bands_path = os.path.join(index_dir, "bands")
    sets_path = os.path.join(index_dir, "sets")

    # Streams are where pathological repetition actually shows up
    # (crawl replays delivering the same page many times per batch):
    # collapse normalization-identical docs to their min-id
    # representative BEFORE shingling so k copies can't form a hot
    # LSH bucket emitting k(k-1)/2 pairs — the same mitigation as
    # the batch pipeline's minhash_lsh_dedup(pre_dedup=True). One extra
    # in-batch exchange on the 16-byte fingerprint, never on the text.
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
        bands_new.withColumn("bkt", _bh_bucket(F.col("bh"), bh_prefix_len)),
        bands_path, epoch_id, "bkt",
    )
    write_epoch_idempotent(
        sets_new.withColumn("bkt", _doc_bucket(F.col("doc"), doc_fanout)),
        sets_path, epoch_id, "bkt",
    )
    cands.unpersist()
    sets_new.unpersist()
    bands_new.unpersist()


def streaming_minhash_dedup(
    stream_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.6,
) -> StreamingQuery:
    """Start the incremental dedup job over a ``(doc_id, text)`` stream,
    draining what is available now.

    Emits verified (doc1, doc2, jaccard, epoch) rows to ``pairs_dir`` —
    including pairs whose two sides arrived in different micro-batches —
    and maintains the band/shingle index under ``index_dir``. Each
    micro-batch first collapses normalization-identical docs (the
    hot-bucket mitigation). The index uses the fixed fan-outs
    ``_BH_PREFIX_LEN`` / ``_DOC_BUCKETS``.
    """
    # fail fast at stream start if index_dir was written under a different
    # layout (first start records it) — see index_store.pin_index_layout
    pin_index_layout(index_dir, _BH_PREFIX_LEN, _DOC_BUCKETS)

    def merge(batch: DataFrame, epoch_id: int) -> None:
        _merge_batch(
            batch, epoch_id, index_dir, pairs_dir, "doc_id", "text",
            threshold, DEFAULT_NUM_HASHES, DEFAULT_BANDS,
        )

    return for_each_batch(stream_docs, merge, checkpoint_dir, available_now=True)


def exact_dedup_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str,
) -> DataFrame:
    """Exact streaming deduplication with bounded state.

    The exact-dup twin of :func:`streaming_minhash_dedup`'s near-dup path:
    emit only the FIRST arrival of each key combination, suppressing
    re-deliveries that land within the watermark horizon. Built on
    ``dropDuplicatesWithinWatermark`` so per-key state is EVICTED once the
    event-time watermark passes — a plain ``dropDuplicates`` on a stream
    buffers every key forever, which is exactly what a 100 TB ingest
    cannot do. (Trade-off, documented: with the 10-minute watermark, a
    duplicate arriving later than the watermark horizon is re-emitted;
    crawl re-deliveries cluster tightly in time, so the horizon buys
    bounded state for a bounded dedup window.)
    """
    return stream.withWatermark(ts_col, "10 minutes").dropDuplicatesWithinWatermark(keys)


def maybe_compact_index(
    spark,
    index_dir: str,
    partitions_per_table: int = 32,
    max_bucket_files: int = MAX_PARTITION_FILES,
) -> bool:
    """Apply the compaction rule (index_store.compaction_due): compact
    iff any bucket of the band or shingle table holds more than
    ``max_bucket_files`` epoch files, keeping the fixed fan-outs
    streaming_minhash_dedup writes with. Call from the maintenance point
    (after an availableNow drain / between stream runs — compact_index's
    contract); returns whether a compaction ran."""
    if not any(
        compaction_due(os.path.join(index_dir, sub), "bkt", max_bucket_files)
        for sub in ("bands", "sets")
    ):
        return False
    compact_index(spark, index_dir, partitions_per_table=partitions_per_table)
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
    epochs collapse into index_store.compact_epochs's sentinel epoch,
    keeping the epoch-partitioned layout intact for subsequent
    idempotent writes.

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
        compact_epochs(
            spark, os.path.join(index_dir, sub), "bkt", bucket, partitions_per_table
        )
    # compaction rebuilds every bkt= from the key expressions, so it is
    # the one legitimate layout change — record the (possibly new)
    # fan-outs so the next stream start checks against THIS layout
    pin_index_layout(index_dir, bh_prefix_len, doc_fanout, repin=True)
