"""Streaming curation verdicts — per-document ingest decisions as ONE
Structured Streaming job.

The batch curation funnel decides keep/drop over a corpus at rest; a
training-data INGEST pipeline makes the same decisions per document as it
arrives. This module runs that as the reference's own two-job architecture
(chained streaming jobs, ``preprocess.py:20,72`` feeding
``predict_path.py:21``) applied to the LLM-curation mandate: one
``foreachBatch`` job emitting, for every incoming document,

- ``keep_dedup``   — exact-duplicate verdict with STORAGE-BACKED bounded
  state: a fingerprint→min-doc index maintained as epoch-partitioned
  parquet (the idempotent epoch write of
  :mod:`streaming_data_pipeline_capstone_spark.index_store`), so
  re-deliveries of a document already ingested are flagged without any
  driver-resident state;
- ``keep_q``       — the composite quality rules
  (queries/curation.quality_filter_composite), stateless per-row
  expressions;
- ``quality_score`` / ``pred_keep`` — the TRAINED logistic quality model
  (queries/quality.score_quality) with coefficients fit OFFLINE — the
  production split: rules + IRLS run as a batch job, ingest scores each
  doc with four arithmetic expressions;
- ``n_emails`` / ``n_phones`` / ``n_chars_scrubbed`` — the PII scrub
  counts (queries/curation.curation_pii_scrub's regex pair);
- ``keep``         — the composed verdict (dedup AND quality rules).

100 TB shape: every per-batch stage is either a stateless projection or a
join against the fingerprint index keyed on a 32-hex-char fingerprint.
The index IS bucketed by an fp prefix (``bkt=`` partition level above the
epoch partitions), and each micro-batch reads ONLY the bucket directories
its own fingerprints hash to — the bucket list is a per-batch literal, so
neither listing nor row-group I/O grows with the accumulated index
(per-batch state cost Θ(batch), not Θ(history); pinned by
tests/test_stream_curation.py's files-read assertion). Verdict epochs
land as parquet a downstream packing job consumes. State is storage, not
memory: the job's driver holds nothing.

Dedup semantics: first-arrival-wins, with min-doc_id tiebreak inside a
micro-batch. When the stream is REPLAYED IN doc_id ORDER (the registered
gate query does; a production log replay does too) this equals the batch
twin's global rule ``doc_id == min(doc_id) over fingerprint`` — pinned by
tests/test_stream_curation.py, including across a checkpoint restart. An
out-of-order duplicate arriving before its smaller-id original is kept
(verdicts already emitted are never revised) — the same horizon trade
``exact_dedup_stream`` documents.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_capstone_spark.index_store import (
    pin_index_layout,
    read_index,
    read_index_or_none,
    write_epoch_idempotent,
)
from streaming_data_pipeline_capstone_spark.operators.textstats import (
    fingerprint,
    tokens,
)
from streaming_data_pipeline_capstone_spark.queries.curation import (
    _CMP_MAX_TOKENS,
    _CMP_MIN_TOKENS,
    _EMAIL_RE,
    _LANG_ALLOW,
    _MAX_DIGIT_FRAC,
    _MAX_MEAN_TOK,
    _MIN_MEAN_TOK,
    _PHONE_RE,
)
from streaming_data_pipeline_capstone_spark.queries.quality import (
    _STOPWORDS,
    score_quality,
)
from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch

# Fingerprint-index fan-out: 1 hex char of the md5 (16 buckets) is the
# gate default; a stream sized with ``expected_batch_docs`` derives the
# prefix length from the dedup_stream rule (state_bucket_prefix_len) so
# the expected per-batch touched fraction stays ≤ MAX_TOUCHED_FRAC at
# any batch size. Like every state bucket, the fan-out must stay fixed
# for the life of one index.
_FP_PREFIX_LEN = 1


def _fp_bucket(fp, prefix_len: int = _FP_PREFIX_LEN):
    return F.substring(fp, 1, prefix_len)


VERDICT_COLUMNS = [
    "doc_id",
    "keep_dedup",
    "keep_q",
    "quality_score",
    "pred_keep",
    "n_emails",
    "n_phones",
    "n_chars_scrubbed",
    "keep",
]


def stateless_verdict_columns(df: DataFrame, beta: list[float]) -> DataFrame:
    """Add every ORDER-FREE verdict column to a (doc_id, lang, text, ...)
    frame: composite-rule ``keep_q``, trained ``quality_score``/
    ``pred_keep`` (literal coefficients ``beta``), and the PII scrub
    counts. Pure per-row expressions — applies unchanged to a batch frame
    or a micro-batch; existing columns (e.g. ``keep_dedup``) pass through.
    Float paths mirror the DuckDB oracle exactly: int/int double ratios,
    the left-assoc ``dot_expr`` product, one final 6-dp round."""
    working = df.withColumns(
        {
            "t": tokens("text"),
            "n_digits": F.length(F.regexp_replace("text", "[^0-9]", "")),
            "n_chars": F.greatest(F.length("text"), F.lit(1)),
        }
    )
    t = F.col("t")
    n = F.size(t)
    mean_tok = (
        F.aggregate(t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .cast("double")
        / F.greatest(n, F.lit(1))
    )
    digit_frac = F.col("n_digits").cast("double") / F.col("n_chars")
    keep_q = (
        F.col("lang").isin(_LANG_ALLOW)
        & n.between(_CMP_MIN_TOKENS, _CMP_MAX_TOKENS)
        & (mean_tok >= _MIN_MEAN_TOK)
        & (mean_tok <= _MAX_MEAN_TOK)
        & (digit_frac <= _MAX_DIGIT_FRAC)
    )
    featured = working.withColumns(
        {
            "keep_q": keep_q,
            "one": F.lit(1.0),
            "ntok_k": n.cast("double") / F.lit(1000.0),
            "ttr": F.size(F.array_distinct(t)).cast("double") / n,
            "stop_frac": F.size(F.filter(t, lambda x: x.isin(*_STOPWORDS))).cast(
                "double"
            )
            / n,
        }
    )
    scored = score_quality(featured, beta)
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return scored.withColumns(
        {
            # idx=0 (whole match) — the curation_pii_scrub convention
            "n_emails": F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)),
            "n_phones": F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)),
            "n_chars_scrubbed": F.length(scrubbed),
        }
    ).drop("t", "n_digits", "n_chars", "one", "ntok_k", "ttr", "stop_frac")


def _final_verdicts(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id",
        "keep_dedup",
        "keep_q",
        "quality_score",
        "pred_keep",
        "n_emails",
        "n_phones",
        "n_chars_scrubbed",
        (F.col("keep_dedup") & F.col("keep_q")).alias("keep"),
    )


def curation_verdicts_batch(docs: DataFrame, beta: list[float]) -> DataFrame:
    """The BATCH TWIN of the streaming job: identical verdict columns over
    a corpus at rest, with ``keep_dedup`` as the global min-doc_id rule
    over the text fingerprint. The streaming output is pinned
    row-identical to this frame (in-order replay), and the registered
    gate query's DuckDB oracle mirrors this formulation."""
    from pyspark.sql import Window

    b = docs.select("doc_id", "lang", "text", fingerprint("text").alias("fp"))
    b = b.withColumn(
        "keep_dedup",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("fp")),
    )
    return _final_verdicts(stateless_verdict_columns(b, beta))


def _verdict_batch(
    batch: DataFrame,
    epoch_id: int,
    beta: list[float],
    state_dir: str,
    out_dir: str,
    fp_prefix_len: int = _FP_PREFIX_LEN,
) -> None:
    """One micro-batch: dedup verdict against the persistent fingerprint
    index + the stateless columns; append this epoch's verdicts and the
    batch's (fp, min_doc) state rows idempotently (a replayed epoch
    overwrites exactly its own partitions — index_store.write_epoch_idempotent)."""
    from pyspark.sql import Window

    spark = batch.sparkSession
    fp_path = os.path.join(state_dir, "fp_min")
    # ONE persisted projection feeds every per-epoch job: the bucket
    # collect below doubles as its materializer (r13 throughput fix —
    # the r12 shape scanned the raw batch a second time for the bucket
    # list), then the verdict write and the fp_min write both read the
    # cache instead of the source.
    base = batch.select(
        "doc_id", "lang", "text", fingerprint("text").alias("fp")
    ).persist()
    # The fingerprint index is bucketed by an fp prefix
    # (write_epoch_idempotent's bkt= level); each batch reads ONLY the
    # bucket directories its own fingerprints hash to — the bucket list
    # is a per-batch literal, so per-micro-batch state I/O is Θ(batch),
    # not Θ(accumulated index).
    bkts = [
        r[0]
        for r in base.select(
            _fp_bucket(F.col("fp"), fp_prefix_len).alias("bk")
        )
        .distinct()
        .collect()
    ]
    b = base.withColumn(
        "batch_min", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    idx = read_index_or_none(
        spark, fp_path, exclude_epoch=epoch_id, buckets=bkts
    )
    if idx is not None:
        old = idx.groupBy("fp").agg(F.min("min_doc").alias("old_min"))
        # null-SAFE fp join: the batch twin's window groups null
        # fingerprints (null text) together, so the cross-batch join
        # must match them too — a plain equi-join would silently skip
        # null-fp state and break stream/batch verdict parity
        b = (
            b.join(old, b["fp"].eqNullSafe(old["fp"]), "left")
            .drop(old["fp"])
        )
    else:  # first batch / all-new buckets: no old state
        b = b.withColumn("old_min", F.lit(None).cast("bigint"))
    keep_dedup = (F.col("doc_id") == F.col("batch_min")) & (
        F.col("old_min").isNull() | (F.col("doc_id") < F.col("old_min"))
    )
    verdicts = _final_verdicts(
        stateless_verdict_columns(b.withColumn("keep_dedup", keep_dedup), beta)
    )
    # The two epoch writes are independent consumers of the persisted
    # projection (already materialized by the bucket collect) writing to
    # DISTINCT paths — run them on concurrent scheduler threads so their
    # job scheduling and commit rounds overlap instead of stacking. Both
    # must succeed before the epoch commits: result() re-raises, so a
    # failed write still fails the batch and triggers replay.
    import concurrent.futures

    with concurrent.futures.ThreadPoolExecutor(2) as pool:
        fut_v = pool.submit(write_epoch_idempotent, verdicts, out_dir, epoch_id)
        fut_s = pool.submit(
            write_epoch_idempotent,
            base.groupBy("fp")
            .agg(F.min("doc_id").alias("min_doc"))
            .withColumn("bkt", _fp_bucket(F.col("fp"), fp_prefix_len)),
            fp_path,
            epoch_id,
            "bkt",
        )
        fut_v.result()
        fut_s.result()
    base.unpersist()


def start_verdict_stream(
    stream_docs: DataFrame,
    beta: list[float],
    out_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    expected_batch_docs: int | None = None,
) -> StreamingQuery:
    """Start the verdict job over a (doc_id, lang, text) document stream,
    draining what is available now. Verdicts land under ``out_dir``
    (epoch-partitioned parquet); the fingerprint dedup index under
    ``state_dir``.

    ``expected_batch_docs`` sizes the fp-index bucket fan-out by the
    dedup_stream rule; omitted, the gate default (16 buckets) applies.
    Keep it fixed across restarts of the same ``state_dir``; the layout
    marker fails fast if not."""
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        state_bucket_prefix_len,
    )

    fp_prefix_len = (
        state_bucket_prefix_len(expected_batch_docs)
        if expected_batch_docs is not None
        else _FP_PREFIX_LEN
    )
    # a key's bucket is its address: pin the fan-out for the life of the
    # state dir, fail fast on a mismatched restart (the
    # fp-index has one bucketed table, so doc_fanout mirrors prefix_len)
    pin_index_layout(state_dir, fp_prefix_len, 16 ** fp_prefix_len)

    def handle(batch: DataFrame, epoch_id: int) -> None:
        _verdict_batch(
            batch, epoch_id, beta, state_dir, out_dir,
            fp_prefix_len=fp_prefix_len,
        )

    return for_each_batch(stream_docs, handle, checkpoint_dir, available_now=True)


def run_stream_curation_verdicts(
    spark: SparkSession,
    docs: DataFrame,
    beta: list[float],
    work_dir: str,
    chunks: int = 3,
) -> DataFrame:
    """Convenience end-to-end run: replay ``docs`` in doc_id order as
    ``chunks`` micro-batches (the deterministic Kafka stand-in), drain the
    verdict job with availableNow, and return the verdict frame."""
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )

    replay_dir = os.path.join(work_dir, "replay")
    schema = replay_to_files(
        docs.select("doc_id", "lang", "text"), replay_dir, chunks, order_col="doc_id"
    )
    stream = stream_from_replay(spark, replay_dir, schema)
    out_dir = os.path.join(work_dir, "verdicts")
    q = start_verdict_stream(
        stream,
        beta,
        out_dir,
        os.path.join(work_dir, "state"),
        os.path.join(work_dir, "ckpt"),
    )
    q.awaitTermination()
    return read_index(spark, out_dir).select(*VERDICT_COLUMNS)
