"""Per-corpus serving-model resolution + repoint.

The repoint flips WHICH quantizer a corpus's serving queries resolve —
it must be invisible to gate corpora (shipped constants, fixed-literal
oracles) and exactly correct for repointed ones. The strongest cheap
pin for the repointed path: with nprobe = k (every cell probed) and a
rerank budget covering the corpus, the pruned spilled probe IS exact
brute-force top-k — any spill-dedup or probe-set bug breaks equality.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_shipped_fallback_is_gate_config(sf_oracle):
    from streaming_data_pipeline_capstone_spark.queries.ann_config import (
        NPROBE,
        PQ_SUB_DIM,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
        PQ_BOOKS,
    )
    from streaming_data_pipeline_capstone_spark.queries.serving_models import (
        serving_model,
    )

    m = serving_model(sf_oracle)
    assert m.source == "shipped" and m.tag is None
    assert m.centroids == KMEANS_CENTROIDS and m.pq_books == PQ_BOOKS
    assert (m.k, m.nprobe, m.spill, m.pq_sub_dim) == (
        len(KMEANS_CENTROIDS),
        NPROBE,
        1,
        PQ_SUB_DIM,
    )


@pytest.fixture()
def toy_corpus(spark, tmp_path):
    """A 160-vector dim-64 corpus + a repointed toy model (k=8, spill=2,
    nprobe=k so every cell is probed). Yields the corpus dir; tears the
    repoint and its layouts down afterwards."""
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        _LAYOUT_ROOT,
        cell_layout_path,
    )
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        lloyd_kmeans_centroids,
        pq_train,
    )
    from streaming_data_pipeline_capstone_spark.queries.serving_models import (
        clear_serving_repoint,
        repoint_serving,
    )

    d = str(tmp_path / "corpus")
    os.makedirs(d)
    rng = np.random.RandomState(7)
    mat = rng.randn(160, 64).round(3)
    rows = [
        (i, [float(x) for x in mat[i]], int(i % 4)) for i in range(len(mat))
    ]
    spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.parquet(d + "/embeddings.parquet")

    vecs = spark.read.parquet(d + "/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    books = pq_train(vecs, 8, 8, 8, 1)  # toy shape: 8 subs x 8 codewords
    cents = lloyd_kmeans_centroids(vecs, 8, 2)
    repoint_serving(
        d,
        {
            "kmeans_centroids": cents,
            "pq_books": books,
            "pq_sub_dim": 8,
            "nprobe": 8,  # = k: probe everything -> exact equality pin
            "spill": 2,
            "rule_k": 8,
        },
    )
    try:
        yield d
    finally:
        clear_serving_repoint(d)
        base = os.path.basename(cell_layout_path(d))
        for name in os.listdir(_LAYOUT_ROOT) if os.path.isdir(_LAYOUT_ROOT) else []:
            if name.startswith(base):
                shutil.rmtree(os.path.join(_LAYOUT_ROOT, name), ignore_errors=True)


def _brute_topk(spark, d, qid, k=10, label=None):
    from streaming_data_pipeline_capstone_spark.operators.similarity import cosine

    emb = spark.read.parquet(d + "/embeddings.parquet").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    q = [float(x) for x in emb.filter(F.col("vec_id") == qid).head()["v"]]
    qcol = F.array(*[F.lit(x) for x in q])
    if label is not None:
        emb = emb.filter(F.col("label") == label)
    return (
        emb.select(
            "vec_id", F.round(cosine(F.col("v"), qcol), 6).alias("cosine_sim")
        )
        .orderBy(F.desc("cosine_sim"), F.asc("vec_id"))
        .limit(k)
        .collect()
    )


def test_repointed_probe_exact_at_full_probe_breadth(spark, toy_corpus):
    """Repointed corpus: model resolves from the artifact, the layout is
    built at the model-tagged path with the model's spill, and the
    pruned rerank probe returns exact brute-force top-10 (all cells
    probed, rerank >= corpus) with no duplicate ids from the spill. The
    spill gate query and the label-filtered probe serve through the same
    spilled layout and are exact too, the filtered one among the 40
    label-3 rows."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _FILTER_LABEL,
        _serving_layout,
        _serving_model,
        sim_topk_ivf_pruned,
        sim_topk_ivfpq_filtered,
        sim_topk_ivfpq_rerank_pruned,
        sim_topk_ivfpq_rerank_spill,
    )

    m = _serving_model(toy_corpus)
    assert m.tag and m.source != "shipped" and (m.k, m.spill) == (8, 2)
    layout = _serving_layout(spark, toy_corpus)
    assert m.tag in layout and "-spill2" in layout

    expect = [tuple(r) for r in _brute_topk(spark, toy_corpus, 0)]
    got = [
        tuple(r)
        for r in sim_topk_ivfpq_rerank_pruned(spark, toy_corpus).collect()
    ]
    assert got == expect
    assert len({v for v, _ in got}) == 10  # spill produced no duplicates
    # full-precision IVF probe at full breadth is exact too
    got_ivf = [tuple(r) for r in sim_topk_ivf_pruned(spark, toy_corpus).collect()]
    assert got_ivf == expect
    got_spill = [
        tuple(r) for r in sim_topk_ivfpq_rerank_spill(spark, toy_corpus).collect()
    ]
    assert got_spill == expect
    assert _FILTER_LABEL == 3
    expect_flt = [
        (v, 3, c) for v, c in _brute_topk(spark, toy_corpus, 0, label=3)
    ]
    got_flt = [
        tuple(r) for r in sim_topk_ivfpq_filtered(spark, toy_corpus).collect()
    ]
    assert got_flt == expect_flt
    assert len({v for v, _, _ in got_flt}) == 10


def test_repointed_batch_probe_exact_and_dedup(spark, toy_corpus):
    """The batched pass over the repointed spilled layout: per-query
    exact top-10, no (query_id, vec_id) duplicates, ranks dense 1..10."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        multi_topk_ivfpq,
    )

    out = multi_topk_ivfpq(spark, toy_corpus, [0, 3], k=10).collect()
    for qid in (0, 3):
        rows = sorted(
            ((r.vec_id, r.cosine_sim) for r in out if r.query_id == qid),
        )
        assert len(rows) == 10
        expect = sorted(
            (r.vec_id, r.cosine_sim) for r in _brute_topk(spark, toy_corpus, qid)
        )
        assert rows == expect
    ranks = sorted(r.rank for r in out if r.query_id == 0)
    assert ranks == list(range(1, 11))


def test_repoint_atomic_and_clearable(tmp_path):
    from streaming_data_pipeline_capstone_spark.queries.serving_models import (
        clear_serving_repoint,
        model_path,
        repoint_serving,
        serving_model,
    )

    d = str(tmp_path / "c2")
    os.makedirs(d)
    with pytest.raises(ValueError, match="missing fields"):
        repoint_serving(d, {"kmeans_centroids": [[0.0]]})
    meta = {
        "kmeans_centroids": [[0.0] * 4, [1.0] * 4],
        "pq_books": [[[0.0, 0.0], [1.0, 1.0]]],
        "pq_sub_dim": 2,
        "nprobe": 1,
        "spill": 1,
    }
    p = repoint_serving(d, meta)
    assert p == model_path(d) and os.path.exists(p)
    m = serving_model(d)
    assert m.k == 2 and m.source == p
    assert clear_serving_repoint(d)
    assert serving_model(d).source == "shipped"
    assert not clear_serving_repoint(d)
