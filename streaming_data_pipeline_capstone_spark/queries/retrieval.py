"""Text retrieval — Okapi BM25 top-k over the documents table, the
sparse-retrieval complement to the dense ANN family in queries/extras.py
(a training-data pipeline uses both: BM25 for decontamination lookups,
targeted corpus search, and hybrid retrieval candidate generation).

Model (Robertson et al.'s BM25 with the Lucene IDF variant, all public):

    score(D, Q) = Σ_{t ∈ Q} IDF(t) · tf(t,D)·(k1+1)
                             / (tf(t,D) + k1·(1 − b + b·|D|/avgdl))
    IDF(t) = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))

100 TB shape — the POSTINGS LAYOUT is the plan:

- the corpus is tokenized ONCE into a term-bucketed postings layout
  (operators/text_layout.py: rows (term, doc_id, tf, dl, df) hive-
  partitioned by a hash bucket of the term, doc length and document
  frequency denormalized into the row, corpus constants N/avgdl exact
  in the marker) — the ANN-layout move applied to text;
- a query READS only the bkt= directories its terms hash to (listing-
  level pruning, a per-query literal bucket list) and filters
  ``term IN (...)`` inside that pruned scan for row-group pruning
  within a bucket — per-query I/O is Θ(query-term postings), never a
  corpus scan, so serving batches stop re-reading the corpus text;
- scoring is per-row arithmetic (idf from the in-row df + the N/avgdl
  literals) feeding ONE exchange — the per-doc sum;
- the final top-k compiles to TakeOrderedAndProject — per-partition
  heaps, no global sort.

The pre-layout full-scan formulation (:func:`_bm25_tf_idf`) is kept as
the build-equivalent twin: tests pin the postings-backed scores equal to
it row for row, and the DuckDB oracles (which express exactly that
formulation) stay unchanged.

Cross-engine determinism: per-(doc, term) BM25 contributions are rounded
ONCE to integer micro-units; the per-doc score is an INTEGER sum of ≤|Q|
of those — bit-identical under any aggregation order in both engines
(the mixture_dsir_weights convention; a float Σ over terms would be
association-order-dependent).

Reference parity: the reference has no text retrieval (its pipeline ends
at geo/kinematic analytics); this is part of the LLM-training-data
mandate alongside the dedup/ANN/curation families.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

_K1 = 1.2
_B = 0.75
_MICRO = 1_000_000
_TOPK = 20
# the standing demo query: four corpus terms of clearly different
# document frequency (checked non-vacuous by tests/test_retrieval.py)
_QUERY_TERMS = ["hash", "join", "window", "scan"]


def _bm25_base(spark: SparkSession, sf_dir: str, terms: list[str]) -> DataFrame:
    """The postings-backed BM25 base: (doc_id, term, tf, dl, avgdl, idf)
    from the term-bucketed layout — a bucket-pruned scan and ZERO joins
    (df/dl ride in the rows, N/avgdl are marker literals). One base serves
    the single- AND multi-query entries, so formula/tokenization can never
    drift between them. Bit-identical to :func:`_bm25_tf_idf`'s full-scan
    frames: same idf expression over the same exact-integer inputs, avgdl
    the same IEEE division of the exact Σdl/N the full scan aggregates."""
    from streaming_data_pipeline_capstone_spark.operators.text_layout import (
        ensure_postings_layout,
        read_postings,
    )

    meta = ensure_postings_layout(spark, sf_dir)
    post = read_postings(spark, meta, terms)
    n_docs = float(meta["n_docs"])
    avgdl = meta["sum_dl"] / meta["n_docs"]
    dfd = F.col("df").cast("double")
    return post.select(
        "doc_id",
        "term",
        "tf",
        "dl",
        "lang",
        F.lit(avgdl).alias("avgdl"),
        F.log(1.0 + (F.lit(n_docs) - dfd + 0.5) / (dfd + 0.5)).alias("idf"),
    )


def _bm25_tf_idf(
    spark: SparkSession, sf_dir: str, terms: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The FULL-SCAN BM25 base — the layout's build-equivalent twin, kept
    for the parity pin (tests/test_retrieval.py asserts the postings-
    backed scores equal this formulation row for row; the DuckDB oracles
    express exactly this SQL): (tf(doc_id, term, tf),
    idf(term, avgdl, idf), lens(doc_id, dl))."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    lens = docs.select("doc_id", F.size("t").alias("dl"))
    stats = lens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        docs.select("doc_id", F.explode("t").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "avgdl",
            F.log(
                1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    return tf, idf, lens


def _c_micro() -> Column:
    """The per-(doc, term) integer micro-unit BM25 contribution, over
    columns tf/idf/dl/avgdl — rounded ONCE so per-doc scores are
    order-independent integer sums in both engines."""
    return (
        F.round(
            F.col("idf")
            * (F.col("tf") * (_K1 + 1.0))
            / (
                F.col("tf")
                + _K1
                * (1.0 - _B + _B * F.col("dl").cast("double") / F.col("avgdl"))
            )
            * _MICRO,
            0,
        )
        .cast("bigint")
        .alias("c_micro")
    )


def _bm25_scores(
    spark: SparkSession, sf_dir: str, terms: list[str], lang: str | None = None
) -> DataFrame:
    """(doc_id, score_micro): integer micro-unit BM25 score of every doc
    matching ≥1 query term, only docs in ``lang`` when given (the
    predicate runs inside the postings scan) — bucket-pruned postings
    scan, per-row contribution, ONE exchange (the per-doc sum)."""
    base = _bm25_base(spark, sf_dir, terms)
    if lang is not None:
        base = base.filter(F.col("lang") == lang)
    return base.select("doc_id", _c_micro()).groupBy("doc_id").agg(
        F.sum("c_micro").alias("score_micro")
    )


def _multi_bm25_scores(base: DataFrame, qt: DataFrame) -> DataFrame:
    """(query_id, doc_id, score_micro) of a query batch: the broadcast
    (query_id, term) frame ``qt`` fans each posting of ``base`` out to
    the queries holding its term; a ``qlang`` column in ``qt`` keeps
    only the postings of docs in that query's language."""
    fan = base.join(F.broadcast(qt), "term")
    if "qlang" in qt.columns:
        fan = fan.filter(F.col("lang") == F.col("qlang"))
    return (
        fan.select("query_id", "doc_id", _c_micro())
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
    )


def _tf_ctes(terms: list[str]) -> str:
    """The oracles' tokenization: ``d`` (doc_id, tokens), ``lens``
    (doc_id, dl) and ``tf`` (doc_id, term, tf) over ``terms``."""
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    lens AS (SELECT doc_id, len(t) AS dl FROM d),
    tf AS (
      SELECT doc_id, term, count(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM d)
      WHERE term IN ({tl})
      GROUP BY doc_id, term
    )"""


def _bm25_ctes(terms: list[str]) -> str:
    """The shared oracle CTE chain ending in ``bm(doc_id, score_micro)``."""
    return f"""{_tf_ctes(terms)},
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                     AVG(dl) AS avgdl FROM lens),
    idf AS (
      SELECT term, avgdl,
             ln(1.0 + (n_docs - CAST(count(*) AS DOUBLE) + 0.5)
                      / (CAST(count(*) AS DOUBLE) + 0.5)) AS idf
      FROM tf, stats GROUP BY term, n_docs, avgdl
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(round(idf.idf * (tf.tf * {_K1 + 1.0})
                  / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * CAST(lens.dl AS DOUBLE) / idf.avgdl))
                  * {_MICRO}.0, 0) AS BIGINT) AS c_micro
      FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)
    ),
    bm AS (
      SELECT doc_id, CAST(SUM(c_micro) AS BIGINT) AS score_micro
      FROM contrib GROUP BY doc_id
    )"""


def _bm25_oracle(terms: list[str], topk: int) -> str:
    return f"""
    WITH {_bm25_ctes(terms)}
    SELECT doc_id, score_micro
    FROM bm
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT {topk}
    """


@register("text_bm25_topk", _bm25_oracle(_QUERY_TERMS, _TOPK))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for the standing 4-term query, scores as
    integer micro-units (deterministic tiebreak on doc_id)."""
    return (
        _bm25_scores(spark, sf_dir, _QUERY_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_TOPK)
    )


# -- hybrid retrieval: reciprocal rank fusion --------------------------------
# Cormack et al. 2009's RRF: fuse a dense (embedding cosine) and a sparse
# (BM25) candidate list by summed reciprocal ranks, score(d) =
# Σ_lists 1/(K + rank_d). The standard published hybrid-retrieval baseline
# — robust to the two scorers' incomparable scales because only RANKS
# cross the boundary. The embeddings and documents tables share the id
# space (vec_id i embeds document i), so the fusion join is meaningful.
#
# 100 TB shape: each candidate list is generated by its own scalable plan
# (dense: TakeOrderedAndProject over the corpus — or any ANN probe;
# sparse: the pre-filtered BM25 plan above) and is ≤ _CAND rows; ranking
# and fusion run on those metadata-sized frames (single-partition windows
# over ≤50 rows, a ≤100-row outer join). Reciprocal-rank terms are
# rounded once to integer micro-units, so fused scores are integer sums.

_RRF_K = 60      # Cormack et al.'s published constant
_CAND = 50       # per-list candidate depth feeding the fusion


def _rrf_fuse(dense: DataFrame, sparse: DataFrame, keys: list[str]) -> DataFrame:
    """Align the two ranked lists on ``keys`` and fuse them ->
    (*keys, r_dense, r_sparse, rrf_micro), with a null rank where a list
    lacks the id and ``rrf_micro`` the sum of the integer reciprocal-rank
    terms. The alignment is a union + one-exchange group-by instead of a
    full-outer join: a full outer join cannot broadcast, so it costs two
    exchanges plus two sorts for ≤ 2·_CAND rows per query. Ids are
    unique within each list, so max() over the union recovers exactly
    the outer join's row set, same rows and same nulls."""
    d = dense.select(
        *keys, "r_dense", F.lit(None).cast("bigint").alias("r_sparse")
    )
    s = sparse.select(
        *keys, F.lit(None).cast("bigint").alias("r_dense"), "r_sparse"
    )
    rr = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(float(_MICRO)) / (_RRF_K + F.col(r))).cast("bigint"), F.lit(0)
    )
    return (
        d.unionByName(s)
        .groupBy(*keys)
        .agg(
            F.max("r_dense").alias("r_dense"),
            F.max("r_sparse").alias("r_sparse"),
        )
        .select(*keys, "r_dense", "r_sparse", (rr("r_dense") + rr("r_sparse")).alias("rrf_micro"))
    )


def _rrf_top(spark: SparkSession, sf_dir: str, dense_cand: DataFrame) -> DataFrame:
    """The single-query RRF tail: number the ≤_CAND dense candidates
    (vec_id, sim) and the standing query's BM25 top-_CAND, fuse them and
    keep the top-_TOPK (id, r_dense, r_sparse, rrf_micro). The numbering
    windows run on those ≤_CAND-row frames, never on the corpus."""
    from pyspark.sql import Window

    w_d = Window.partitionBy(F.lit(1)).orderBy(F.desc("sim"), F.asc("vec_id"))
    dense = dense_cand.select(
        F.col("vec_id").alias("id"),
        F.row_number().over(w_d).cast("bigint").alias("r_dense"),
    )
    sparse_cand = (
        _bm25_scores(spark, sf_dir, _QUERY_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_CAND)
    )
    w_s = Window.partitionBy(F.lit(1)).orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    sparse = sparse_cand.select(
        F.col("doc_id").alias("id"),
        F.row_number().over(w_s).cast("bigint").alias("r_sparse"),
    )
    return (
        _rrf_fuse(dense, sparse, ["id"])
        .orderBy(F.desc("rrf_micro"), F.asc("id"))
        .limit(_TOPK)
    )


def _rank_per_query(
    df: DataFrame, score: str, id_col: str, k: int, name: str = "rank"
) -> DataFrame:
    """Keep each query's top ``k`` rows of ``df`` by descending
    ``score``, ties by ascending ``id_col``, numbered 1..k in the bigint
    column ``name`` — a window partitioned by query_id, so more queries
    add partitions, not passes."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(id_col))
    return df.withColumn(name, F.row_number().over(w).cast("bigint")).filter(
        F.col(name) <= k
    )


def _rrf_fuse_multi(dense: DataFrame, scores: DataFrame) -> DataFrame:
    """The batched RRF tail: rank each query's sparse ``scores``
    (query_id, doc_id, score_micro) into its top-_CAND ``r_sparse``,
    align them with the dense list, fuse into
    integer ``rrf_micro`` and keep each query's top-_TOPK ->
    (query_id, id, r_dense, r_sparse, rrf_micro, rank). ``dense`` is the
    batched ANN pass's (query_id, vec_id, ..., rank)."""
    dense = dense.select(
        "query_id", F.col("vec_id").alias("id"), F.col("rank").alias("r_dense")
    )
    sparse = _rank_per_query(scores, "score_micro", "doc_id", _CAND, "r_sparse").select(
        "query_id", F.col("doc_id").alias("id"), "r_sparse"
    )
    fused = _rrf_fuse(dense, sparse, ["query_id", "id"])
    return _rank_per_query(fused, "rrf_micro", "id", _TOPK).select(
        "query_id", "id", "r_dense", "r_sparse", "rrf_micro", "rank"
    )


_EXACT_DENSE_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    dall AS (
      SELECT vec_id AS id,
             row_number() OVER (
               ORDER BY round(list_cosine_similarity(v, qv), 6) DESC,
                        vec_id ASC) AS r_dense
      FROM e CROSS JOIN q
    ),
    dense AS (SELECT id, r_dense FROM dall WHERE r_dense <= {_CAND})"""


def _rrf_oracle(dense_ctes: str) -> str:
    """RRF top-_TOPK of the standing query's BM25 top-_CAND and the
    dense list ``dense(id, r_dense)`` that ``dense_ctes`` defines."""
    return f"""
    WITH {dense_ctes},
    {_bm25_ctes(_QUERY_TERMS)},
    sall AS (
      SELECT doc_id AS id,
             row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS r_sparse
      FROM bm
    ),
    sparse AS (SELECT id, r_sparse FROM sall WHERE r_sparse <= {_CAND})
    SELECT id, CAST(r_dense AS BIGINT) AS r_dense,
           CAST(r_sparse AS BIGINT) AS r_sparse,
           CAST(coalesce(CAST(round({_MICRO}.0 / ({_RRF_K} + r_dense)) AS BIGINT), 0)
              + coalesce(CAST(round({_MICRO}.0 / ({_RRF_K} + r_sparse)) AS BIGINT), 0)
             AS BIGINT) AS rrf_micro
    FROM dense FULL OUTER JOIN sparse USING (id)
    ORDER BY rrf_micro DESC, id ASC
    LIMIT {_TOPK}
    """


@register("retrieval_hybrid_rrf", _rrf_oracle(_EXACT_DENSE_CTES))
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by reciprocal rank fusion of dense cosine top-50 and BM25
    top-50 (ranks BIGINT, null where the doc is in one list only)."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import cosine

    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    qv = emb.filter(F.col("vec_id") == 0).select(as_double.alias("qv"))
    # candidate generation: TakeOrderedAndProject over the corpus
    dense_cand = (
        emb.select("vec_id", as_double.alias("v"))
        .crossJoin(F.broadcast(qv))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(_CAND)
    )
    return _rrf_top(spark, sf_dir, dense_cand)


# -- multi-query BM25: the production decontamination-lookup shape ----------
# One literal query is a demo; the production shape (decontamination
# lookups against an eval suite, corpus search for a probe list) scores
# MANY queries in one pass. The plan generalizes, not duplicates:
#
# - the corpus-side prefilter is the UNION of all queries' terms — still
#   one literal IN-list inside the scan's codegen span, so the only
#   corpus-sized exchange carries occurrences of that union;
# - a (query_id, term) frame (model metadata, broadcast) fans each
#   surviving (doc, term) tf row out to the queries containing the term;
# - df/IDF stays PER TERM (query-independent), so the single-query slice
#   is bit-identical to text_bm25_topk — pinned in tests;
# - top-k per query = rank window PARTITIONED BY query_id: adding queries
#   adds partitions, not passes; within a query the window input is the
#   term-occurrence-bounded candidate set, never the corpus.

_MULTI_QUERIES: dict[int, list[str]] = {
    0: _QUERY_TERMS,                           # the standing demo query
    1: ["dup", "merge", "sort"],               # includes the rarest term
    2: ["stream", "batch", "query", "vector", "key"],
}


def _multi_terms() -> list[str]:
    return sorted({t for ts in _MULTI_QUERIES.values() for t in ts})


def _multi_query_terms(spark: SparkSession) -> DataFrame:
    """The standing batch as a (query_id, term) frame."""
    return spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(_MULTI_QUERIES.items()) for t in ts],
        "query_id int, term string",
    )


def _query_terms_cte() -> str:
    """The standing batch as the oracle CTE ``q(query_id, term)``."""
    rows = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(_MULTI_QUERIES.items()) for t in ts
    )
    return f"q(query_id, term) AS (VALUES {rows})"


def _multi_bm25_ctes(langs: dict[int, str] | None = None) -> str:
    """Oracle CTEs ending in ``qbm(query_id, doc_id, score_micro)``: the
    standing batch's per-query BM25 scores, only of docs in
    ``langs[query_id]`` when given."""
    lang_join = ""
    if langs:
        rows = ", ".join(f"({qid}, '{lang}')" for qid, lang in sorted(langs.items()))
        lang_join = f"""
        JOIN documents doc ON doc.doc_id = tf.doc_id
        JOIN (VALUES {rows}) lq(query_id, qlang)
          ON lq.query_id = q.query_id AND doc.lang = lq.qlang"""
    return f"""{_bm25_ctes(_multi_terms())},
    {_query_terms_cte()},
    qbm AS (
      SELECT q.query_id, tf.doc_id, CAST(SUM(
        CAST(round(idf.idf * (tf.tf * {_K1 + 1.0})
             / (tf.tf + {_K1} * (1.0 - {_B} + {_B} * CAST(lens.dl AS DOUBLE) / idf.avgdl))
             * {_MICRO}.0, 0) AS BIGINT)) AS BIGINT) AS score_micro
      FROM tf JOIN q USING (term) JOIN idf USING (term) JOIN lens USING (doc_id){lang_join}
      GROUP BY q.query_id, tf.doc_id
    )"""


def _bm25_multi_oracle() -> str:
    return f"""
    WITH {_multi_bm25_ctes()}
    SELECT query_id, doc_id, score_micro, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rank
      FROM qbm) WHERE rank <= {_TOPK}
    """


@register("text_bm25_multi_topk", _bm25_multi_oracle())
def text_bm25_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents per query for the standing 3-query batch (scores
    integer micro-units, per-query rank with doc_id tiebreak). The batch
    probes the postings layout ONCE with the union of all queries' terms;
    the broadcast (query_id, term) frame fans each surviving posting out
    to the queries containing its term — more queries widen the bucket
    list and add rank-window partitions, never passes."""
    scores = _multi_bm25_scores(
        _bm25_base(spark, sf_dir, _multi_terms()), _multi_query_terms(spark)
    )
    return _rank_per_query(scores, "score_micro", "doc_id", _TOPK).select(
        "query_id", "doc_id", "score_micro", "rank"
    )


# -- metadata-filtered BM25: the sparse filter axis ---------------------------
# The sparse twin of sim_topk_ivfpq_filtered: "top-k BM25 matches AMONG
# documents satisfying a metadata predicate" (lang-scoped corpus search,
# per-license retrieval). Scoring statistics stay CORPUS-GLOBAL (df, N,
# avgdl — the standard filtered-search semantics, same as the ANN probe
# keeping its distances), only the candidate set is restricted. The
# scale-correct plan evaluates the predicate INSIDE the pruned postings
# scan: metadata rides in the postings row (text_layout schema v2), so
# no corpus-sized doc->metadata join ever happens at serving time.

_FILTER_LANG = "de"


def _bm25_filtered_oracle() -> str:
    return f"""
    WITH {_bm25_ctes(_QUERY_TERMS)}
    SELECT bm.doc_id, bm.score_micro
    FROM bm JOIN (SELECT doc_id FROM documents WHERE lang = '{_FILTER_LANG}')
        USING (doc_id)
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT {_TOPK}
    """


@register("text_bm25_filtered_topk", _bm25_filtered_oracle())
def text_bm25_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BM25 documents for the standing query AMONG lang='{lang}'
    documents only — corpus-global statistics, candidate set restricted
    by the in-layout metadata predicate.""".format(lang=_FILTER_LANG)
    return (
        _bm25_scores(spark, sf_dir, _QUERY_TERMS, _FILTER_LANG)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_TOPK)
    )


# -- query-likelihood retrieval (Dirichlet smoothing) over the same layout ----
# Zhai & Lafferty 2001's Dirichlet-smoothed query-likelihood model — the
# other classical sparse scorer — served from the SAME postings layout:
#
#   score(D, Q) = Σ_{t ∈ Q} ln( (tf(t,D) + μ·cf(t)/|C|) / (|D| + μ) )
#
# over documents matching ≥1 query term (the candidate convention). All
# inputs come from the probed buckets + the marker: cf(t) (collection
# frequency) is the per-term Σtf over that term's own postings — complete
# by construction since a term's postings live in its bucket — and |C|
# (total corpus tokens) is the marker's exact Σdl. The per-(doc, term)
# grid is candidates × |Q| terms — the same query-term-bounded scale as
# the BM25 contribution frame; absent terms contribute their smoothed
# background mass via the left join's null→0. Contributions are rounded
# ONCE to integer micro-nats (negative BIGINTs — log-probabilities), so
# per-doc scores are order-independent integer sums in both engines.

_QLD_MU = 10.0  # Dirichlet pseudo-count, ~ the gate corpus's avgdl


def _qld_oracle(lang: str | None = None, multi: bool = False) -> str:
    """QLD top-_TOPK of the standing query — only docs in ``lang`` when
    given — or, with ``multi``, per query of the standing batch."""
    if multi:
        terms, keys, qcte = _multi_terms(), "query_id, doc_id", f"{_query_terms_cte()},"
        cand = "q.query_id, tf.doc_id, lens.dl FROM tf JOIN q USING (term)"
        grid = "JOIN q USING (query_id) JOIN cf USING (term)"
        top = f"""SELECT query_id, doc_id, ql_micro, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY ql_micro DESC, doc_id ASC) AS BIGINT) AS rank
      FROM ql) WHERE rank <= {_TOPK}"""
    else:
        terms, keys, qcte = _QUERY_TERMS, "doc_id", ""
        cand, grid = "tf.doc_id, lens.dl FROM tf", "CROSS JOIN cf"
        top = f"SELECT doc_id, ql_micro FROM ql ORDER BY ql_micro DESC, doc_id ASC LIMIT {_TOPK}"
    cand += " JOIN lens USING (doc_id)"
    if lang is not None:
        cand += f" JOIN documents dd ON tf.doc_id = dd.doc_id AND dd.lang = '{lang}'"
    return f"""
    WITH {_tf_ctes(terms)}, {qcte}
    cf AS (SELECT term, CAST(SUM(tf) AS DOUBLE) AS cf FROM tf GROUP BY term),
    c AS (SELECT CAST(SUM(dl) AS DOUBLE) AS c FROM lens),
    cand AS (SELECT DISTINCT {cand}),
    grid AS (SELECT cand.*, cf.term, cf.cf FROM cand {grid}),
    contrib AS (
      SELECT {", ".join("g." + k for k in keys.split(", "))},
             CAST(round(ln((COALESCE(tf.tf, 0) + {_QLD_MU} * g.cf / c.c)
                           / (g.dl + {_QLD_MU})) * {_MICRO}.0, 0) AS BIGINT) AS c_micro
      FROM grid g LEFT JOIN tf ON g.doc_id = tf.doc_id AND g.term = tf.term, c
    ),
    ql AS (
      SELECT {keys}, CAST(SUM(c_micro) AS BIGINT) AS ql_micro
      FROM contrib GROUP BY {keys}
    )
    {top}
    """


def _qld_scores(
    spark: SparkSession,
    sf_dir: str,
    terms: list[str],
    lang: str | None = None,
    qt: DataFrame | None = None,
) -> DataFrame:
    """Dirichlet query likelihood from the postings layout: (doc_id,
    ql_micro) over the docs matching ≥1 of ``terms`` (only those in
    ``lang`` when given; the predicate runs inside the postings scan),
    or, with the (query_id, term) batch frame ``qt``, (query_id, doc_id,
    ql_micro) per query."""
    from streaming_data_pipeline_capstone_spark.operators.text_layout import (
        ensure_postings_layout,
        read_postings,
    )

    meta = ensure_postings_layout(spark, sf_dir)
    post = read_postings(spark, meta, terms)
    cf = post.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))
    cand = post if lang is None else post.filter(F.col("lang") == lang)
    if qt is None:
        keys = ["doc_id"]
        grid = cand.select("doc_id", "dl").distinct().crossJoin(F.broadcast(cf))
    else:
        keys = ["query_id", "doc_id"]
        cand = cand.join(F.broadcast(qt), "term").select("query_id", "doc_id", "dl")
        grid = cand.distinct().join(F.broadcast(qt.join(cf, "term")), "query_id")
    tfd = F.coalesce(F.col("tf"), F.lit(0)).cast("double")
    contrib = grid.join(
        post.select("doc_id", "term", "tf"), ["doc_id", "term"], "left"
    ).select(
        *keys,
        F.round(
            F.log(
                (tfd + _QLD_MU * F.col("cf") / F.lit(float(meta["sum_dl"])))
                / (F.col("dl").cast("double") + _QLD_MU)
            )
            * _MICRO,
            0,
        )
        .cast("bigint")
        .alias("c_micro"),
    )
    return contrib.groupBy(*keys).agg(F.sum("c_micro").alias("ql_micro"))


@register("text_qld_topk", _qld_oracle())
def text_qld_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by Dirichlet query likelihood (integer micro-nat
    scores) for the standing query, served from the postings layout —
    candidates x |Q| grid, zero corpus scans."""
    return (
        _qld_scores(spark, sf_dir, _QUERY_TERMS)
        .orderBy(F.desc("ql_micro"), F.asc("doc_id"))
        .limit(_TOPK)
    )


# -- QLD on the serving axes --------------------------------------------------
# The BM25 family already serves the batch axis (text_bm25_multi_topk)
# and the metadata-filter axis (text_bm25_filtered_topk); the postings
# layout makes each a small delta for QLD too. Batch: ONE bucket-pruned
# probe of the union terms, the broadcast (query_id, term) frame fans
# postings to their queries, candidates/grids go per-query, ranks are a
# query_id-partitioned window — queries add partitions, never passes.
# Filter: statistics stay CORPUS-GLOBAL (cf over the term's complete
# postings, |C| from the marker — the standard filtered-search
# semantics), only the candidate set is restricted, and the predicate
# evaluates inside the pruned postings scan (lang rides in the row).


@register("text_qld_multi_topk", _qld_oracle(multi=True))
def text_qld_multi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 per query by Dirichlet query likelihood for the standing
    3-query batch — (query_id, doc_id, ql_micro, rank) through ONE
    bucket-pruned probe of the union terms; the qid=0 slice is pinned
    identical to text_qld_topk in tests."""
    scores = _qld_scores(
        spark, sf_dir, _multi_terms(), qt=_multi_query_terms(spark)
    )
    return _rank_per_query(scores, "ql_micro", "doc_id", _TOPK).select(
        "query_id", "doc_id", "ql_micro", "rank"
    )


@register("text_qld_filtered_topk", _qld_oracle(_FILTER_LANG))
def text_qld_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 by Dirichlet query likelihood AMONG lang='{lang}' documents
    only — collection statistics (cf, |C|) stay corpus-global, the
    candidate set is restricted by the in-layout metadata predicate
    evaluated inside the pruned postings scan.""".format(lang=_FILTER_LANG)
    return (
        _qld_scores(spark, sf_dir, _QUERY_TERMS, _FILTER_LANG)
        .orderBy(F.desc("ql_micro"), F.asc("doc_id"))
        .limit(_TOPK)
    )


# -- streaming postings-index ingestion ---------------------------------------
# The sparse twin of stream_ann_index_ingest: documents replayed as a
# real Structured Streaming job land per-batch postings epochs + additive
# corpus-stat epochs; the standing BM25 query answered FROM the streamed
# index shares text_bm25_topk's oracle — a hash match certifies streamed
# sparse-index freshness end to end (one oracle, both index forms).


def _streamed_text_index(spark: SparkSession, sf_dir: str) -> str:
    from streaming_data_pipeline_capstone_spark.index_store import (
        cached_build,
        source_mtime,
    )
    from streaming_data_pipeline_capstone_spark.operators.text_layout import (
        postings_layout_path,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.streaming.text_index_stream import (
        streaming_postings_ingest,
    )

    work = postings_layout_path(sf_dir) + "-streamed"
    index_dir = f"{work}/index"

    def build() -> None:
        docs = read_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        replay_dir = f"{work}/replay"
        schema = replay_to_files(docs, replay_dir, 3, order_col="doc_id")
        streaming_postings_ingest(
            stream_from_replay(spark, replay_dir, schema),
            index_dir,
            f"{work}/ckpt",
        ).awaitTermination()

    key = {"source_mtime": source_mtime(sf_dir, "documents")}
    cached_build(work, "_STREAMED_META.json", key, build)
    return index_dir


@register("stream_text_index_ingest", _bm25_oracle(_QUERY_TERMS, _TOPK))
def stream_text_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest the documents as a 3-micro-batch stream into a fresh
    postings index (foreachBatch -> idempotent bucketed epochs + additive
    stats epochs), then answer the standing BM25 top-20 FROM the streamed
    index — output and oracle identical to text_bm25_topk."""
    from streaming_data_pipeline_capstone_spark.streaming.text_index_stream import (
        bm25_topk_from_stream_index,
    )

    return bm25_topk_from_stream_index(
        spark, _streamed_text_index(spark, sf_dir), _QUERY_TERMS, _TOPK
    )
