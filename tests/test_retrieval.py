"""BM25 retrieval (queries/retrieval.py): exact hand-computed scores on a
micro corpus, and non-vacuity of the standing query on the fixture."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.queries.retrieval import (
    _B,
    _K1,
    _MICRO,
    _QUERY_TERMS,
    _bm25_scores,
)
from streaming_data_pipeline_capstone_spark.registry import all_queries


@pytest.fixture(scope="module")
def bm25_micro_dir(spark, tmp_path_factory) -> str:
    d = tmp_path_factory.mktemp("bm25corpus")
    rows = [
        (1, "hash HASH join"),
        (2, "join scan"),
        (3, "the quick fox"),
    ]
    spark.createDataFrame(rows, "doc_id BIGINT, text STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _bm25(tf: int, dl: int, df: int, n: float, avgdl: float) -> int:
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    c = idf * (tf * (_K1 + 1.0)) / (tf + _K1 * (1.0 - _B + _B * dl / avgdl))
    return round(c * _MICRO)


def test_bm25_hand_computed(spark, bm25_micro_dir):
    """N=3, avgdl=8/3; df: hash=1, join=2, scan=1, window=0.
    doc 1 (dl=3): tf(hash)=2 (case-normalized), tf(join)=1.
    doc 2 (dl=2): tf(join)=1, tf(scan)=1. doc 3 matches nothing."""
    out = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, bm25_micro_dir, _QUERY_TERMS).collect()
    }
    n, avgdl = 3.0, 8.0 / 3.0
    assert set(out) == {1, 2}
    assert out[1] == _bm25(2, 3, 1, n, avgdl) + _bm25(1, 3, 2, n, avgdl)
    assert out[2] == _bm25(1, 2, 2, n, avgdl) + _bm25(1, 2, 1, n, avgdl)


def test_bm25_fixture_non_vacuous(spark, sf_oracle):
    """Every standing query term must occur in the fixture corpus (else
    the gate certifies a trivial plan), scores must be positive, and the
    top-20 must be strictly rank-ordered with the doc_id tiebreak."""
    from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    docs = read_table(spark, sf_oracle, "documents")
    present = {
        r.term
        for r in docs.select(F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(_QUERY_TERMS))
        .distinct()
        .collect()
    }
    assert present == set(_QUERY_TERMS)

    rows = all_queries()["text_bm25_topk"](spark, sf_oracle).collect()
    assert len(rows) == 20
    assert all(r.score_micro > 0 for r in rows)
    keys = [(-r.score_micro, r.doc_id) for r in rows]
    assert keys == sorted(keys)


def test_rrf_fusion_matches_python_recompute(spark, sf_oracle):
    """The fused top-20 must equal a Python recompute of RRF from the two
    candidate lists collected independently (dense via the registered
    brute-force query's ordering, sparse via _bm25_scores)."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _CAND,
        _RRF_K,
        _TOPK,
    )

    qs = all_queries()
    # the registered brute-force query returns top-20; rebuild the same
    # ordering 50-deep for the candidate list
    from streaming_data_pipeline_capstone_spark.operators.similarity import cosine
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    emb = read_table(spark, sf_oracle, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    qv = emb.filter(F.col("vec_id") == 0).select(as_double.alias("qv"))
    dense_ids = [
        r.vec_id
        for r in emb.select("vec_id", as_double.alias("v"))
        .crossJoin(F.broadcast(qv))
        .select("vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(_CAND)
        .collect()
    ]
    sparse_ids = [
        r.doc_id
        for r in _bm25_scores(spark, sf_oracle, _QUERY_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_CAND)
        .collect()
    ]
    exp: dict[int, int] = {}
    for rank, i in enumerate(dense_ids, 1):
        exp[i] = exp.get(i, 0) + round(_MICRO / (_RRF_K + rank))
    for rank, i in enumerate(sparse_ids, 1):
        exp[i] = exp.get(i, 0) + round(_MICRO / (_RRF_K + rank))
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:_TOPK]
    got = [
        (r.id, r.rrf_micro)
        for r in qs["retrieval_hybrid_rrf"](spark, sf_oracle).collect()
    ]
    assert got == want


def test_bm25_multi_single_query_slice_pins_to_standing_query(spark, sf_oracle):
    """The multi-query plan must be a GENERALIZATION, not a fork: its
    query_id=0 slice (the standing 4-term query) must match
    text_bm25_topk doc-for-doc and micro-score-for-micro-score — the
    union-term prefilter and the query fan-out join may not perturb tf,
    df, idf, or rounding."""
    qs = all_queries()
    single = [
        (r["doc_id"], r["score_micro"])
        for r in qs["text_bm25_topk"](spark, sf_oracle)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .collect()
    ]
    multi = [
        (r["doc_id"], r["score_micro"])
        for r in qs["text_bm25_multi_topk"](spark, sf_oracle)
        .filter(F.col("query_id") == 0)
        .orderBy("rank")
        .collect()
    ]
    assert multi == single


def test_bm25_multi_queries_non_vacuous(spark, sf_oracle):
    """Every query in the standing batch must retrieve a full top-k with
    DISTINCT result sets (else the batch exercises one query three
    times), and ranks must be 1..k per query."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _MULTI_QUERIES,
        _TOPK,
    )

    qs = all_queries()
    rows = qs["text_bm25_multi_topk"](spark, sf_oracle).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(_MULTI_QUERIES)
    tops = set()
    for qid, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == list(range(1, _TOPK + 1))
        tops.add(tuple(sorted(r["doc_id"] for r in rs)))
    assert len(tops) > 1, "query batch must produce distinct result sets"


def test_rrf_ann_dense_arm_matches_serving_probe(spark, sf_oracle):
    """retrieval_hybrid_rrf_ann's dense arm runs the SAME partition-pruned
    IVF-PQ+rerank plan as sim_topk_ivfpq_rerank_pruned — its top-10 by
    dense rank must therefore be that query's exact output ids, in order."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        retrieval_hybrid_rrf_ann,
        sim_topk_ivfpq_rerank_pruned,
    )

    probe = [
        r.vec_id
        for r in sim_topk_ivfpq_rerank_pruned(spark, sf_oracle).collect()
    ]
    fused = retrieval_hybrid_rrf_ann(spark, sf_oracle)
    dense_top = [
        r.id
        for r in fused.filter(F.col("r_dense").isNotNull())
        .orderBy("r_dense")
        .collect()
        if r.r_dense <= 10
    ]
    # the fused top-20 need not contain all 10 dense leaders, but every
    # dense-ranked row it does contain must agree with the probe order
    assert dense_top == probe[: len(dense_top)]
    assert len(dense_top) >= 3, "vacuous: fused list carries no dense leaders"


def test_multi_hybrid_slice_matches_single(spark, sf_oracle):
    """retrieval_hybrid_rrf_multi batches both arms; its qid=0 slice must
    be exactly retrieval_hybrid_rrf_ann's output (same dense probe, same
    standing sparse query, same fusion), and every query must return a
    full per-query top-20."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        retrieval_hybrid_rrf_ann,
        retrieval_hybrid_rrf_multi,
    )
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _MULTI_QUERIES,
        _TOPK,
    )

    batch = retrieval_hybrid_rrf_multi(spark, sf_oracle).collect()
    single = [
        (r.id, r.r_dense, r.r_sparse, r.rrf_micro)
        for r in retrieval_hybrid_rrf_ann(spark, sf_oracle).collect()
    ]
    slice0 = sorted(
        (
            (r.id, r.r_dense, r.r_sparse, r.rrf_micro, r.rank)
            for r in batch
            if r.query_id == 0
        ),
        key=lambda t: t[4],
    )
    assert [(i, d, s, m) for i, d, s, m, _ in slice0] == single
    for qid in _MULTI_QUERIES:
        rows = [r for r in batch if r.query_id == qid]
        assert len(rows) == _TOPK, qid


# -- r14: the term-bucketed postings layout -----------------------------------


def test_postings_scores_equal_full_scan_twin(spark, sf_oracle):
    """The layout is a physical change only: postings-backed scores must
    equal the full-scan formulation (the oracles' SQL) integer-for-integer
    — same tf, df, dl, the same idf expression, avgdl the same IEEE
    division of the same exact Σdl/N."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _bm25_tf_idf,
        _c_micro,
    )

    got = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, sf_oracle, _QUERY_TERMS).collect()
    }
    tf, idf, lens = _bm25_tf_idf(spark, sf_oracle, _QUERY_TERMS)
    want = {
        r.doc_id: r.score_micro
        for r in tf.join(F.broadcast(idf), "term")
        .join(lens, "doc_id")
        .select("doc_id", _c_micro())
        .groupBy("doc_id")
        .agg(F.sum("c_micro").alias("score_micro"))
        .collect()
    }
    assert got == want and got


def test_postings_probe_reads_only_query_term_buckets(spark, sf_oracle):
    """The storage-pruning claim, from the EXECUTED plan: the BM25 serving
    scan must read exactly the bkt= directories the query terms hash to
    (one file per bucket — the build writes one writer per bucket), must
    push the term IN-list into the scan, and must never touch the corpus
    documents table at serving time."""
    from streaming_data_pipeline_capstone_spark.operators.text_layout import (
        ensure_postings_layout,
        term_bucket_py,
    )

    meta = ensure_postings_layout(spark, sf_oracle)
    want_buckets = {
        term_bucket_py(t, meta["prefix_len"]) for t in _QUERY_TERMS
    }
    df = all_queries()["text_bm25_topk"](spark, sf_oracle)
    df.collect()

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "corpus text scanned at serving time"
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PushedFilters" in scan_line and "term" in scan_line.split(
        "PushedFilters", 1
    )[1], scan_line

    from tests.test_ann_deployment import _scan_metrics

    scans = [m for m in _scan_metrics(df) if "numFiles" in m]
    assert scans, "no FileSourceScan leaf with metrics"
    assert scans[0]["numFiles"] == len(want_buckets), (scans[0], want_buckets)


def test_postings_fanout_rule(spark):
    """The bucket fan-out is a rule of the corpus's distinct-term count,
    not a constant: 16 buckets at the gate corpus, growing ~terms/4096
    at vocabulary scale, capped at 16^8."""
    from streaming_data_pipeline_capstone_spark.operators.text_layout import (
        postings_prefix_len,
    )

    assert postings_prefix_len(31) == 1          # gate corpus
    assert postings_prefix_len(4096) == 1
    assert postings_prefix_len(100_000) == 2     # 25 buckets needed -> 256
    assert postings_prefix_len(10**6) == 2
    assert postings_prefix_len(10**8) == 4       # web-scale vocab -> 65536
    assert postings_prefix_len(10**20) == 8      # capped
    # monotone: more terms never shrinks the fan-out
    vals = [postings_prefix_len(n) for n in (10, 10**4, 10**6, 10**8, 10**10)]
    assert vals == sorted(vals)


def test_postings_absent_terms_empty_and_mixed(spark, sf_oracle):
    """Terms absent from the corpus contribute nothing: an all-absent
    query returns an empty frame (even when no probed bucket exists on
    disk), and a mixed query scores exactly its present terms."""
    absent = ["zzzzneverseen", "qqqqnotaword"]
    assert _bm25_scores(spark, sf_oracle, absent).count() == 0
    mixed = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, sf_oracle, absent + ["hash"]).collect()
    }
    only = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, sf_oracle, ["hash"]).collect()
    }
    assert mixed == only and only


def test_postings_layout_rebuilds_on_stale_source(spark, tmp_path):
    """The marker convention: a regenerated corpus (source mtime moved)
    must trigger a FULL rebuild — scores reflect the new corpus, never
    stale postings."""
    import os
    import time

    d = str(tmp_path / "corpus")
    os.makedirs(d)
    spark.createDataFrame(
        [(1, "hash join"), (2, "scan scan")], "doc_id BIGINT, text STRING"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    first = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, d, ["hash", "scan"]).collect()
    }
    assert set(first) == {1, 2}
    time.sleep(1.1)  # parquet mtime granularity
    spark.createDataFrame(
        [(7, "window window hash")], "doc_id BIGINT, text STRING"
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    second = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, d, ["hash", "scan", "window"]).collect()
    }
    assert set(second) == {7}, "stale postings survived a corpus regeneration"


def test_bm25_filtered_keeps_global_statistics(spark, sf_oracle):
    """The sparse filter axis (r14): results must all satisfy the
    predicate, scores must equal the UNFILTERED scores of the same docs
    (corpus-global df/N/avgdl — restricting candidates must not perturb
    statistics), and the query must be non-vacuous on the fixture."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _FILTER_LANG,
        text_bm25_filtered_topk,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    rows = text_bm25_filtered_topk(spark, sf_oracle).collect()
    assert len(rows) >= 5, "vacuous filter fixture"
    langs = {
        r.doc_id: r.lang
        for r in read_table(spark, sf_oracle, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    for r in rows:
        assert langs[r.doc_id] == _FILTER_LANG, r
    unfiltered = {
        r.doc_id: r.score_micro
        for r in _bm25_scores(spark, sf_oracle, _QUERY_TERMS).collect()
    }
    for r in rows:
        assert unfiltered[r.doc_id] == r.score_micro, r


def test_qld_topk_sane_and_nonvacuous(spark, sf_oracle):
    """Dirichlet QL (r14): full top-20, strictly rank-ordered with the
    doc_id tiebreak, all scores negative (log-probabilities), and a doc
    matching MORE query terms outranks an otherwise-similar doc matching
    fewer when lengths are equal (checked on a constructed micro
    corpus)."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        text_qld_topk,
    )

    rows = text_qld_topk(spark, sf_oracle).collect()
    assert len(rows) == 20
    keys = [(-r.ql_micro, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    assert all(r.ql_micro < 0 for r in rows)


def test_qld_micro_corpus_ordering(spark, tmp_path):
    """On a 3-doc corpus of equal length, the doc matching two query
    terms must outrank the doc matching one, which outranks none (which
    is absent — candidates need >=1 matching term)."""
    import os

    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        text_qld_topk,
    )

    d = str(tmp_path / "qld")
    os.makedirs(d)
    spark.createDataFrame(
        [
            (1, "hash join alpha beta", "en"),
            (2, "hash gamma alpha beta", "en"),
            (3, "delta gamma alpha beta", "en"),
        ],
        "doc_id BIGINT, text STRING, lang STRING",
    ).coalesce(1).write.mode("overwrite").parquet(d + "/documents.parquet")
    rows = text_qld_topk(spark, d).collect()
    ids = [r.doc_id for r in rows]
    assert ids == [1, 2], ids  # doc 3 matches no query term


def test_streamed_postings_index_matches_one_shot_and_compacts(spark, tmp_path):
    """The streamed postings index must answer BM25 identically to the
    one-shot layout (same scores via reconstructed global statistics),
    stay idempotent under a full replay (dynamic-overwrite epochs), keep
    answering identically after compaction, and make a newly-ingested
    batch retrievable (freshness)."""
    import os

    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.index_store import (
        compact_epochs,
        max_files_per_partition,
    )
    from streaming_data_pipeline_capstone_spark.streaming.text_index_stream import (
        _term_bucket,
        bm25_topk_from_stream_index,
        streaming_postings_ingest,
    )

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    rows = [
        (i, f"hash join window {'scan ' * (i % 3)}filler{i}", "en")
        for i in range(1, 31)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, lang STRING")
    docs.coalesce(1).write.parquet(corpus + "/documents.parquet")

    work = str(tmp_path / "stream")
    replay_dir, index_dir, ckpt = (
        work + "/replay",
        work + "/index",
        work + "/ckpt",
    )
    schema = replay_to_files(docs, replay_dir, 3, order_col="doc_id")
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema), index_dir, ckpt
    )
    q.awaitTermination()

    streamed = [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ]
    one_shot = [
        tuple(r)
        for r in _bm25_scores(spark, corpus, _QUERY_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(20)
        .collect()
    ]
    assert streamed == one_shot and streamed

    # full replay with a fresh checkpoint: dynamic overwrite must leave
    # the index byte-equivalent (same answer), not doubled
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema),
        index_dir,
        work + "/ckpt2",
    )
    q.awaitTermination()
    assert [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ] == streamed

    # compaction: collapse epochs, identical answer
    assert max_files_per_partition(index_dir + "/postings", "bkt") >= 3
    compact_epochs(
        spark, index_dir + "/postings", "bkt", _term_bucket(1), partitions=2
    )
    assert max_files_per_partition(index_dir + "/postings", "bkt") == 1
    assert [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ] == streamed

    # freshness: land one more chunk in the SAME replay dir and resume
    # the SAME checkpoint — an index is bound to one checkpoint lineage
    # (epoch ids are per-checkpoint; a fresh checkpoint would restart at
    # epoch 0 and dynamic-overwrite earlier epochs). The new doc must be
    # retrievable and statistics must reflect the grown corpus.
    import shutil as _shutil

    # doc 99 stacks the RARE term (scan, df ~ N/3) — the common terms
    # carry near-zero idf on this fixture, so tf on them can't rank
    extra = spark.createDataFrame(
        [(99, "scan scan scan hash join window", "en")],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    replay2 = work + "/replay2"
    replay_to_files(extra, replay2, 1, order_col="doc_id")
    _shutil.move(replay2 + "/chunk=00000", replay_dir + "/chunk=00003")
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema), index_dir, work + "/ckpt2"
    )
    q.awaitTermination()
    after = bm25_topk_from_stream_index(
        spark, index_dir, _QUERY_TERMS, 20
    ).collect()
    assert any(r.doc_id == 99 for r in after)
    assert after[0].doc_id == 99  # 3x the rare term + all others: top hit


def test_streamed_postings_fanout_rule_and_marker_probe(spark, tmp_path):
    """The streamed index's fan-out is the one-shot rule applied to the
    caller's vocabulary estimate, pinned by the marker; the probe reads
    the fan-out FROM the marker (never a caller guess), answers
    identically to the one-shot scorer at the wider fan-out, and fails
    fast on an unmarked index."""
    import json
    import os

    import pytest

    from streaming_data_pipeline_capstone_spark.operators.text_layout import (
        postings_prefix_len,
    )
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _QUERY_TERMS,
        _bm25_scores,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.streaming.text_index_stream import (
        bm25_topk_from_stream_index,
        streaming_postings_ingest,
    )

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    docs = spark.createDataFrame(
        [
            (i, f"hash join window {'scan ' * (i % 3)}filler{i}", "en")
            for i in range(1, 31)
        ],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    docs.coalesce(1).write.parquet(corpus + "/documents.parquet")

    work = str(tmp_path / "stream")
    replay_dir, index_dir = work + "/replay", work + "/index"
    schema = replay_to_files(docs, replay_dir, 2, order_col="doc_id")
    # a 100k-term vocabulary estimate -> prefix 2 (256 buckets) by the
    # shared rule; the tiny corpus just leaves most buckets empty
    assert postings_prefix_len(100_000) == 2
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema),
        index_dir,
        work + "/ckpt",
        expected_vocab=100_000,
    )
    q.awaitTermination()
    with open(os.path.join(index_dir, "_LAYOUT_META.json")) as fh:
        assert json.load(fh)["bh_prefix_len"] == 2

    from pyspark.sql import functions as F

    streamed = [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ]
    one_shot = [
        tuple(r)
        for r in _bm25_scores(spark, corpus, _QUERY_TERMS)
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(20)
        .collect()
    ]
    assert streamed == one_shot and streamed

    # restarting the ingest with a DIFFERENT estimate keeps the marker's
    # fan-out (the estimate only sizes a NEW index; the marker is the
    # authority for an existing one — the restart-after-rebucket path)
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema),
        index_dir,
        work + "/ckpt-b",
        expected_vocab=100,
    )
    q.awaitTermination()
    with open(os.path.join(index_dir, "_LAYOUT_META.json")) as fh:
        assert json.load(fh)["bh_prefix_len"] == 2
    assert [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ] == streamed

    # probing an unmarked index refuses instead of guessing a fan-out
    os.remove(os.path.join(index_dir, "_LAYOUT_META.json"))
    with pytest.raises(FileNotFoundError, match="_LAYOUT_META"):
        bm25_topk_from_stream_index(spark, index_dir, _QUERY_TERMS, 20)


def test_qld_multi_slice_pins_to_single_and_filtered_sane(spark, sf_oracle):
    """The batched QLD's qid=0 slice must equal text_qld_topk row for
    row (same statistics, same grid, just fanned); the filtered QLD must
    return only lang-matching docs, keep corpus-global statistics (its
    scores appear verbatim in the unfiltered ranking), and be a
    subsequence of it."""
    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _FILTER_LANG,
        text_qld_filtered_topk,
        text_qld_multi_topk,
        text_qld_topk,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    single = [
        (r.doc_id, r.ql_micro) for r in text_qld_topk(spark, sf_oracle).collect()
    ]
    batch = text_qld_multi_topk(spark, sf_oracle).collect()
    slice0 = [
        (r.doc_id, r.ql_micro)
        for r in sorted(
            (r for r in batch if r.query_id == 0), key=lambda r: r.rank
        )
    ]
    assert slice0 == single and single
    qids = {r.query_id for r in batch}
    assert qids == {0, 1, 2}
    for qid in qids:
        ranks = sorted(r.rank for r in batch if r.query_id == qid)
        assert ranks == list(range(1, len(ranks) + 1))

    filt = text_qld_filtered_topk(spark, sf_oracle).collect()
    assert filt
    langs = {
        r.doc_id: r.lang
        for r in read_table(spark, sf_oracle, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    assert all(langs[r.doc_id] == _FILTER_LANG for r in filt)
    # corpus-global statistics: a filtered doc's score is its unfiltered
    # QLD score (restricting candidates must not move anyone's number)
    unfiltered = dict(single)
    for r in filt:
        if r.doc_id in unfiltered:
            assert unfiltered[r.doc_id] == r.ql_micro, r.doc_id


def test_streamed_postings_write_side_rebucket(spark, tmp_path):
    """The write-side rebucket trigger: an index whose
    fan-out is over-sized for its sustained batch bytes must (a) be
    detected by the rule from directory metadata alone, (b) be rebucketed
    AT the compaction point to the file-floor target with the marker
    re-pinned, (c) answer identically before and after, and (d) accept a
    resumed ingest that follows the marker's new fan-out."""
    import json
    import os

    from streaming_data_pipeline_capstone_spark.queries.retrieval import (
        _QUERY_TERMS,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.index_store import (
        epoch_write_stats,
        rebucket_decision,
    )
    from streaming_data_pipeline_capstone_spark.streaming.text_index_stream import (
        bm25_topk_from_stream_index,
        maybe_compact_postings_index,
        streaming_postings_ingest,
    )

    corpus_rows = [
        (i, f"hash join window {'scan ' * (i % 3)}filler{i}", "en")
        for i in range(1, 41)
    ]
    docs = spark.createDataFrame(
        corpus_rows, "doc_id BIGINT, text STRING, lang STRING"
    )
    work = str(tmp_path / "stream")
    replay_dir, index_dir = work + "/replay", work + "/index"
    # a wildly over-sized estimate -> prefix 3 = 4096 buckets for ~40
    # tiny docs per batch: the Phase-B regime, reproduced
    schema = replay_to_files(docs, replay_dir, 5, order_col="doc_id")
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema),
        index_dir,
        work + "/ckpt",
        expected_vocab=10_000_000,
    )
    q.awaitTermination()
    with open(os.path.join(index_dir, "_LAYOUT_META.json")) as fh:
        assert json.load(fh)["bh_prefix_len"] == 3

    stats = epoch_write_stats(index_dir + "/postings")
    assert len(stats) == 5 and all(
        v["touched_buckets"] > 0 and v["bytes"] > 0 for v in stats.values()
    )
    decision = rebucket_decision(index_dir + "/postings", 4096)
    assert decision["rebucket_due"] and decision["target_fanout"] == 16
    # the same shape is NOT due when the file floor is tiny (the fan-out
    # is then justified by the batch bytes) or the window unfilled
    assert not rebucket_decision(
        index_dir + "/postings", 4096, file_floor=1
    )["rebucket_due"]
    assert not rebucket_decision(
        index_dir + "/postings", 4096, window=6
    )["rebucket_due"]

    before = [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ]
    assert before
    assert maybe_compact_postings_index(spark, index_dir)
    with open(os.path.join(index_dir, "_LAYOUT_META.json")) as fh:
        assert json.load(fh)["bh_prefix_len"] == 1
    after = [
        tuple(r)
        for r in bm25_topk_from_stream_index(
            spark, index_dir, _QUERY_TERMS, 20
        ).collect()
    ]
    assert after == before

    # resumed ingest follows the marker's NEW fan-out: land one more doc
    # on the SAME checkpoint lineage, the index stays consistent
    import shutil as _shutil

    extra = spark.createDataFrame(
        [(99, "scan scan scan hash join window", "en")],
        "doc_id BIGINT, text STRING, lang STRING",
    )
    replay2 = work + "/replay2"
    replay_to_files(extra, replay2, 1, order_col="doc_id")
    _shutil.move(replay2 + "/chunk=00000", replay_dir + "/chunk=00005")
    q = streaming_postings_ingest(
        stream_from_replay(spark, replay_dir, schema),
        index_dir,
        work + "/ckpt",
        expected_vocab=10_000_000,  # ignored: marker wins
    )
    q.awaitTermination()
    with open(os.path.join(index_dir, "_LAYOUT_META.json")) as fh:
        assert json.load(fh)["bh_prefix_len"] == 1
    grown = bm25_topk_from_stream_index(
        spark, index_dir, _QUERY_TERMS, 20
    ).collect()
    assert any(r.doc_id == 99 for r in grown)
