"""Streaming postings-index ingestion — index freshness for SPARSE
retrieval (r14), completing the symmetry with the dense side's
streaming/ann_index_stream.py: documents arrive on a stream, each
micro-batch lands as one epoch of the term-bucketed postings index, and
a document is retrievable by BM25 the moment its batch commits.

What changes vs the one-shot layout (operators/text_layout.py): the
one-shot build denormalizes CORPUS-GLOBAL statistics (df per term, N,
Σdl) into rows and the marker — cheap because the whole corpus is in
hand. A streamed index can't: df/N/Σdl grow with every batch, and
rewriting history per batch would be Θ(index). So the streamed layout
splits them out:

- ``postings/bkt=<h>/epoch=<e>`` rows (term, doc_id, tf, dl, lang) —
  per-batch tokenize + per-(doc, term) count, Θ(batch) work, landed via
  the idempotent dynamic-overwrite recipe (write_epoch_idempotent), so
  at-least-once replay stays effectively-once storage;
- ``stats/epoch=<e>`` ONE ROW per batch (n_docs, sum_dl as exact
  integers) — the additive sufficient statistics of the corpus
  constants.

Query-time scoring then reconstructs the global statistics exactly:
df(t) = COUNT of term t's postings (complete from t's own bucket by
construction), N = Σ n_docs, avgdl = Σ sum_dl / Σ n_docs — integer sums,
so the same IEEE values the one-shot marker bakes. A BM25 answer from
the streamed index is therefore HASH-IDENTICAL to the one-shot layout's
(the gate query shares text_bm25_topk's DuckDB oracle — one oracle
certifies both index forms, the dense family's one-probe convention).

The bucket fan-out is pinned for the life of the index by the state-
index layout marker (dedup_stream.check_or_write_index_layout), and the
compaction rule applies unchanged: compact_epoch_table collapses epochs
per bucket when files-per-bucket crosses the threshold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_capstone_spark.operators.text_layout import (
    postings_prefix_len,
    term_bucket_py,
)
from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
    check_or_write_index_layout,
    write_epoch_idempotent,
)

# Fan-out is a RULE of the expected vocabulary, never a constant
# (the old _STREAM_PREFIX_LEN = 1 pinned 16 buckets for
# the index's life — correct at the gate, but a production streamed
# index would bucket 1e6+ terms into 16 dirs). The rule is the SAME one
# the one-shot layout derives its fan-out from (postings_prefix_len:
# smallest 16^L holding <= 4096 expected terms per bucket), applied to a
# creation-time vocabulary ESTIMATE — a streamed index cannot count its
# eventual vocabulary, so the caller supplies the catalog estimate the
# way streaming_minhash_dedup supplies expected_batch_docs. The default
# estimate resolves to the gate fan-out of 16 (the corpus-31-term gate
# regime); the chosen fan-out is pinned for the index's life by the
# layout marker, and probes READ it back from the marker.
_DEFAULT_EXPECTED_VOCAB = 4096


def _term_bucket(prefix_len: int):
    return F.substring(F.md5(F.col("term")), 1, prefix_len)


def _batch_postings(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(postings, stats) for ONE micro-batch of (doc_id[, lang], text)."""
    lang = (
        F.col("lang") if "lang" in batch.columns else F.lit(None).cast("string")
    )
    docs = batch.select(
        "doc_id", lang.alias("lang"), tokens("text").alias("t")
    )
    lens = docs.select("doc_id", "lang", F.size("t").alias("dl"))
    post = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(lens, "doc_id")
        .select("term", "doc_id", "tf", "dl", "lang")
    )
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    return post, stats


def streaming_postings_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    expected_vocab: int = _DEFAULT_EXPECTED_VOCAB,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the postings-index ingest job over a document stream.

    Per micro-batch: Θ(batch) tokenize/count, one idempotent epoch under
    ``postings/`` (bucketed by the term's md5 prefix) and one 1-row
    epoch under ``stats/``. The fan-out is the one-shot layout's RULE
    applied to ``expected_vocab`` (the caller's creation-time vocabulary
    estimate) and is pinned by the layout marker — a restart with a
    different estimate that changes the fan-out fails fast.

    An index is bound to ONE checkpoint lineage: epoch ids are
    per-checkpoint, so growing an existing index means resuming the SAME
    checkpoint (new batches get fresh epoch ids). Starting a fresh
    checkpoint against a non-empty index is only safe when it replays
    the identical source from the start — the idempotent overwrite then
    rewrites each epoch with its own content (pinned in tests); any
    other content at colliding epoch ids would replace history."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        read_index_layout,
    )

    try:
        # an EXISTING index's marker is the authority (the restart and
        # restart-after-rebucket path — the vocabulary estimate only
        # sizes a NEW index; maybe_compact_postings_index may have
        # legitimately moved the fan-out since creation)
        prefix_len = int(read_index_layout(index_dir)["bh_prefix_len"])
    except FileNotFoundError:
        prefix_len = postings_prefix_len(expected_vocab)
        check_or_write_index_layout(index_dir, prefix_len, 16 ** prefix_len)

    def ingest(batch: DataFrame, epoch_id: int) -> None:
        post, stats = _batch_postings(batch)
        write_epoch_idempotent(
            post,
            os.path.join(index_dir, "postings"),
            epoch_id,
            bucket=_term_bucket(prefix_len),
        )
        write_epoch_idempotent(
            stats, os.path.join(index_dir, "stats"), epoch_id
        )

    w = stream_docs.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def maybe_compact_postings_index(
    spark: SparkSession,
    index_dir: str,
    partitions: int = 32,
    max_bucket_files: int | None = None,
    auto_rebucket: bool = True,
) -> bool:
    """The streamed postings index's maintenance point — both rules:

    - files-per-bucket (read amplification): collapse epochs at the
      current fan-out when any bucket crosses the threshold;
    - write-side rebucket: when the sustained batch
      write shape says the fan-out is over-sized for the batch bytes
      (dedup_stream.rebucket_decision), the compaction rewrite ALSO
      moves every posting to the target fan-out and re-pins the marker —
      probes read the fan-out from the marker, so serving follows the
      rebucket with no code change (the ask-#2 marker-probe contract is
      what makes this safe).

    Returns whether a rewrite ran. Only call with ingest stopped and its
    checkpoint committed (compact_epoch_table's contract)."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        MAX_BUCKET_FILES,
        compact_epoch_table,
        _write_index_layout,
        files_per_bucket_table,
        read_index_layout,
        rebucket_decision,
    )

    prefix_len = int(read_index_layout(index_dir)["bh_prefix_len"])
    post = os.path.join(index_dir, "postings")
    if auto_rebucket:
        decision = rebucket_decision(post, 16 ** prefix_len)
        if decision["rebucket_due"]:
            target = decision["target_prefix_len"]
            compact_epoch_table(spark, post, _term_bucket(target), partitions)
            _write_index_layout(index_dir, target, 16 ** target)
            return True
    limit = MAX_BUCKET_FILES if max_bucket_files is None else max_bucket_files
    if files_per_bucket_table(post) <= limit:
        return False
    compact_epoch_table(spark, post, _term_bucket(prefix_len), partitions)
    return True


def bm25_topk_from_stream_index(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    topk: int,
) -> DataFrame:
    """BM25 top-k from a STREAMED postings index — same scores as the
    one-shot layout (one oracle certifies both index forms).

    The bucket fan-out comes from the index's own ``_LAYOUT_META.json``
    (written at creation by :func:`streaming_postings_ingest`), never
    from the caller (ADVICE r14: a caller-supplied prefix that disagrees
    with the writer's silently mis-probes — buckets missed, docs dropped,
    df/scores wrong; a missing marker fails fast).

    Reads: the tiny ``stats/`` table (one row per epoch — two exact
    integer sums reconstruct N and avgdl), then ONLY the ``bkt=``
    directories the query terms hash to. df(t) is a per-term count over
    the probed postings; the contribution formula is the shared
    queries/retrieval._c_micro expression."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _c_micro,
    )

    base = bm25_base_from_stream_index(spark, index_dir, terms)
    if base is None:
        return spark.createDataFrame([], "doc_id bigint, score_micro bigint")
    contrib = base.select("doc_id", _c_micro())
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(topk)
    )


def bm25_base_from_stream_index(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
) -> DataFrame | None:
    """The streamed-index twin of queries/retrieval._bm25_base:
    (doc_id, term, tf, dl, lang, avgdl, idf) reconstructed from the
    streamed epochs — global statistics exact (integer sums), fan-out
    from the index's own marker, bucket-pruned probe of the union terms.
    One base serves the single-query gate AND the batched/hybrid
    serving entries, so formula/tokenization can never drift between
    index forms. ``None`` when none of the probed buckets exist (empty
    index / absent terms)."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        _existing_bucket_paths,
        read_index_layout,
    )

    prefix_len = int(read_index_layout(index_dir)["bh_prefix_len"])

    # explicit schemas on both reads (r15): parquet-footer schema
    # inference over the epoch directories is a per-probe driver job the
    # serving path otherwise pays twice (stats + postings) per query —
    # the columns are the ingest contract's, pinned by the layout marker
    stats = (
        spark.read.schema("n_docs bigint, sum_dl bigint, epoch int")
        .parquet(os.path.join(index_dir, "stats"))
        .agg(F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s"))
        .first()
    )
    n_docs, sum_dl = int(stats["n"]), int(stats["s"])
    avgdl = sum_dl / n_docs

    post_root = os.path.join(index_dir, "postings")
    buckets = sorted({term_bucket_py(t, prefix_len) for t in terms})
    sub = _existing_bucket_paths(spark, post_root, buckets)
    if not sub:
        return None
    post = (
        spark.read.schema(
            "term string, doc_id bigint, tf bigint, dl int, lang string, "
            "bkt string, epoch int"
        )
        .option("basePath", post_root)
        .parquet(*sub)
        .filter(F.col("term").isin(terms))
        .select("term", "doc_id", "tf", "dl", "lang")
    )
    dfreq = post.groupBy("term").agg(
        F.count("*").cast("double").alias("df")
    )
    idf = dfreq.select(
        "term",
        F.log(
            1.0
            + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
    )
    return (
        post.join(F.broadcast(idf), "term")
        .withColumn("avgdl", F.lit(avgdl))
        .select("doc_id", "term", "tf", "dl", "lang", "avgdl", "idf")
    )
