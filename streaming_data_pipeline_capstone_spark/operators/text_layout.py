"""Term-bucketed postings layout — storage pruning for sparse retrieval.

The BM25 plans (queries/retrieval.py) push the query-term IN-filter into
the documents scan's codegen span, so the only corpus-sized EXCHANGE
carries query-term occurrences — but the SCAN still reads the full corpus
text per serving batch. At 100 TB that is a full-corpus read per batch,
while the dense arm reads nprobe/k of a cell-partitioned layout (the
measured asymmetry at sf10: per-decade cost exponents −0.0 dense vs 0.42
hybrid, the 0.42 entirely the sparse arm; run in git history at
78bf83b). This module is the
ANN-layout move applied to text: tokenize ONCE,
write an inverted-index-shaped postings table hive-partitioned by a hash
bucket of the term, and serve every later query by listing ONLY the
buckets its terms live in.

Layout (``<repo>/.text_layout/<slug>/bkt=<h>/``), one row per (term, doc):

    term string, doc_id bigint, tf bigint, dl int, df bigint, lang string

- ``dl`` (doc token length) rides IN the row — Lucene's norms-next-to-
  postings design — so scoring never joins a corpus-sized doc-length
  table at serving time;
- ``df`` (corpus document frequency of the term, constant within a
  term's rows) rides in the row too, so IDF is per-row arithmetic on
  broadcast-free inputs — the serving plan is: pruned scan → per-row
  contribution expression → ONE exchange (the per-doc sum), with the
  corpus constants N and avgdl baked as literals from the marker;
- the bucket is the leading hex of md5(term) — computable driver-side
  (hashlib) and engine-side (F.md5) identically, the same recipe as the
  dedup state indexes (streaming/dedup_stream._bh_bucket), so the probe
  bucket list is a per-query LITERAL and pruning happens at the file
  LISTING level, not the filter level;
- the fan-out is a RULE of the corpus's distinct-term count (not a
  constant — the state_bucket_prefix_len convention), chosen at build,
  recorded in the marker, and read back by every probe: a probe can
  never hash with a different fan-out than the writer used.

Corpus stats (N docs, Σdl) are exact integers in the marker; avgdl is
reconstructed as the same IEEE double division every engine performs
(sum and count are exact in 53 bits), so scores stay bit-identical to
the full-scan formulation and the existing DuckDB oracles.

Scale maths: with F = 16^L buckets and |Q| query terms, a probe lists
≤ |Q| directories and reads ~|Q|/F of postings storage (row-group
dictionary filters on ``term`` prune further within a bucket). Postings
storage is Θ(total token occurrences deduped per doc) — the classic
inverted index, a fraction of the raw text it replaces for scoring.

Reference parity: the reference has no text retrieval; this extends
SURVEY §2.11 X8 (BM25 family) with its serving layout.
"""

from __future__ import annotations

import hashlib
import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.index_store import (
    LAYOUT_MARKER,
    cached_build,
    read_buckets,
    source_mtime,
)

_REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_TEXT_LAYOUT_ROOT = os.path.join(_REPO, ".text_layout")

# Bump when the stored column set / bucketing changes, so stale layouts
# rebuild once instead of failing obscurely. v2 (r14): document metadata
# (lang) rides in the postings row, so metadata-filtered sparse retrieval
# evaluates its predicate inside the pruned scan — the ANN layout's
# schema-v2 move (label in the codes row) applied to text.
_SCHEMA_VERSION = 2

# Fan-out rule target: keep buckets small enough that one bucket is a
# few files / row groups, large enough that fan-out doesn't explode into
# tiny files. English-scale vocabularies are ~1e6-1e8 terms at 100 TB;
# 4096 terms/bucket puts that at 16^2..16^5 buckets — directory counts a
# filesystem handles trivially, while the gate corpus (31 terms) stays
# at the minimum fan-out of 16.
_TARGET_TERMS_PER_BUCKET = 4096
_MAX_PREFIX_LEN = 8


def postings_prefix_len(n_distinct_terms: int) -> int:
    """Smallest hex-prefix length L whose 16^L buckets hold ≤
    ``_TARGET_TERMS_PER_BUCKET`` expected terms each — the fan-out RULE (the
    ship-the-knob-as-a-rule pattern of state_bucket_prefix_len /
    banded_lsh_config). Chosen once at build and recorded in the marker;
    probes read it back rather than recomputing from a possibly-changed
    corpus."""
    need = max(1.0, n_distinct_terms / _TARGET_TERMS_PER_BUCKET)
    return min(_MAX_PREFIX_LEN, max(1, math.ceil(math.log(need, 16))))


def term_bucket_py(term: str, prefix_len: int) -> str:
    """Driver-side bucket of a term: leading hex of md5(utf8) — identical
    to the engine-side partition expression, so probe bucket lists are
    literals computed with zero Spark jobs."""
    return hashlib.md5(term.encode("utf-8")).hexdigest()[:prefix_len]


def _term_bucket_col(term, prefix_len: int):
    return F.substring(F.md5(F.col(term) if isinstance(term, str) else term), 1, prefix_len)


def postings_layout_path(sf_dir: str) -> str:
    import tempfile

    abs_dir = os.path.abspath(sf_dir)
    tmp_root = os.path.realpath(tempfile.gettempdir())
    if os.path.realpath(abs_dir).startswith(tmp_root + os.sep):
        # ephemeral corpus (test fixtures): keep the layout BESIDE the
        # data so it is reaped with the corpus, instead of accumulating
        # one orphan per run under the repo root. Probes pass explicit
        # bkt= subpaths, so the parent name is never listed by Spark.
        return os.path.join(abs_dir, "postings_layout")
    slug = hashlib.sha256(abs_dir.encode()).hexdigest()[:12]
    base = os.path.basename(abs_dir.rstrip("/")) or "root"
    base = base.lstrip(".") or "root"  # keep the leaf visible to Spark's file index
    return os.path.join(_TEXT_LAYOUT_ROOT, f"{base}-{slug}")


def ensure_postings_layout(spark: SparkSession, sf_dir: str) -> dict:
    """Write (once) the postings layout for the documents at ``sf_dir``
    and return its marker dict ``{path, prefix_len, n_docs, sum_dl}``.

    Idempotent behind a marker (index_store.cached_build): the layout
    rebuilds only when missing, stale (source mtime moved), or
    schema-versioned differently — a FULL rebuild, never a partial one.

    Build cost, paid once and amortized over every query thereafter:
    tokenize → per-(doc, term) counts (1 exchange on the term-occurrence
    frame) → per-term df (1 small exchange) → join + bucket-partitioned
    write (1 exchange each). All corpus-sized work is JVM-side codegen;
    the driver only reads two integers (N, Σdl) and the distinct-term
    count for the fan-out rule.
    """
    out = postings_layout_path(sf_dir)
    key = {
        "source_mtime": source_mtime(sf_dir, "documents"),
        "schema_version": _SCHEMA_VERSION,
    }
    meta = cached_build(
        out, LAYOUT_MARKER, key, lambda: _build_postings_layout(spark, sf_dir, out)
    )
    meta["path"] = out
    return meta


def _build_postings_layout(spark: SparkSession, sf_dir: str, out: str) -> dict:
    from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    docs_tbl = read_table(spark, sf_dir, "documents")
    # metadata column is optional in ad-hoc corpora (test fixtures, raw
    # crawls before lang-ID): store null, the filter queries then simply
    # match nothing for such docs
    lang = (
        F.col("lang")
        if "lang" in docs_tbl.columns
        else F.lit(None).cast("string")
    )
    docs = docs_tbl.select(
        "doc_id", lang.alias("lang"), tokens("text").alias("t")
    )
    lens = docs.select("doc_id", "lang", F.size("t").alias("dl"))
    # the two corpus constants, as EXACT integers (avgdl = sum_dl/n_docs
    # is then the same correctly-rounded IEEE division in every engine)
    n_docs, sum_dl = lens.agg(
        F.count("*"), F.sum("dl")
    ).first()
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_terms = dfreq.count()
    prefix_len = postings_prefix_len(n_terms)
    postings = (
        tf.join(dfreq, "term")
        .join(lens, "doc_id")
        .select(
            "term",
            "doc_id",
            "tf",
            "dl",
            "df",
            "lang",
            _term_bucket_col("term", prefix_len).alias("bkt"),
        )
    )
    (
        postings
        .repartition("bkt")  # one exchange on the 1-2 byte key: one writer per bucket
        .sortWithinPartitions("term", "doc_id")  # term-clustered row groups →
        # parquet min/max + dictionary filters prune WITHIN a bucket too
        .write.mode("overwrite")
        .partitionBy("bkt")
        .parquet(out)
    )
    return {
        "prefix_len": int(prefix_len),
        "n_docs": int(n_docs),
        "sum_dl": int(sum_dl),
        "n_terms": int(n_terms),
        "sf_dir": os.path.abspath(sf_dir),
    }


def read_postings(
    spark: SparkSession, meta: dict, terms: list[str]
) -> DataFrame:
    """Pruned postings read for a query-term list: list ONLY the bkt=
    directories the terms hash to (a per-query literal — no Spark job),
    then filter ``term IN (...)`` inside the scan for row-group pruning
    within a bucket. Returns (term, doc_id, tf, dl, df, lang); empty
    frame when no probed bucket exists (no query term in the corpus)."""
    path, prefix_len = meta["path"], meta["prefix_len"]
    buckets = sorted({term_bucket_py(t, prefix_len) for t in terms})
    # explicit schema (the layout contract's columns + the bkt partition
    # key): skips parquet-footer schema inference on every probe — a
    # driver-side job the serving path pays per query otherwise (r15;
    # same move as ann_layout.read_cell_layout)
    post = read_buckets(
        spark,
        path,
        buckets,
        "term string, doc_id bigint, tf bigint, dl int, df bigint, "
        "lang string, bkt string",
    )
    if post is None:
        return spark.createDataFrame(
            [],
            "term string, doc_id bigint, tf bigint, dl int, df bigint, "
            "lang string",
        )
    return post.filter(F.col("term").isin(terms)).select(
        "term", "doc_id", "tf", "dl", "df", "lang"
    )
