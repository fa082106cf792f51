"""Round-6 ANN deployment-shape invariants: IVF-PQ probe and SemDeDup
cell-pruned near-dedup against the brute-force ground truth.

The oracle gate hash-checks each query against its own DuckDB twin; these
tests check the CROSS-query contracts the twins can't see — that the
pruned paths are prunings of (never additions to) the exact computation,
and that the probe's ranking agrees with exact cosine where it matters.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.registry import all_queries


def test_semantic_cells_pairs_subset_of_bruteforce(spark, sf_oracle):
    """Cell pruning may only DROP pairs relative to all-pairs cosine at the
    same threshold — a pair it emits must be a real >=0.45 pair, and both
    endpoints must share a coarse cell (no cross-cell leakage)."""
    qs = all_queries()
    brute = {
        (r.id1, r.id2): r.cosine_sim
        for r in qs["dedup_embedding_cosine"](spark, sf_oracle).collect()
    }
    pruned = {
        (r.id1, r.id2): r.cosine_sim
        for r in qs["dedup_semantic_cells"](spark, sf_oracle).collect()
    }
    assert pruned, "fixture should contain same-cell near-duplicates"
    assert set(pruned) <= set(brute)
    for pair, sim in pruned.items():
        assert abs(sim - brute[pair]) < 1e-6


def test_ivfpq_probe_members_come_from_probed_cells(spark, sf_oracle):
    """Every IVF-PQ result must lie in a probed coarse cell, and its ADC
    distance must agree with the fixed-codebook full-corpus ADC ranking
    (the probe is a filter on sim_pq_topk_fixed's scoring, reusing the
    identical codebook literals)."""
    qs = all_queries()
    ivfpq = {r.vec_id: r.adc_dist for r in qs["sim_topk_ivfpq_fixed"](spark, sf_oracle).collect()}
    full = {r.vec_id: r.adc_dist for r in qs["sim_pq_topk_fixed"](spark, sf_oracle).collect()}
    assert ivfpq
    # scores must be identical where both rank the same vector
    for vid in set(ivfpq) & set(full):
        assert abs(ivfpq[vid] - full[vid]) < 1e-6
    # the query vector itself (vec_id 0, distance 0 to itself) must be
    # found by the probe — its own cell is always the top probe cell
    assert 0 in ivfpq


def _scan_metrics(df) -> list[dict]:
    """Execute ``df`` and return each leaf scan's runtime metrics.

    Descends through AdaptiveSparkPlan wrappers (plans with exchanges run
    under AQE, whose collectLeaves stops at the adaptive root) to the
    final materialized physical plan."""
    df.collect()
    out = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        plan = stack.pop()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            node = leaves.apply(i)
            name = node.nodeName()
            if name == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
                continue
            if "QueryStage" in name:  # AQE stage boundaries are leaves too
                stack.append(node.plan())
                continue
            it = node.metrics().iterator()
            m = {"node": node.nodeName()}
            while it.hasNext():
                kv = it.next()
                m[kv._1()] = kv._2().value()
            out.append(m)
    return out


def test_pruned_probes_row_identical_to_unpruned(spark, sf_oracle):
    """The cell-partitioned layout is a physical change only: the pruned
    probes must return exactly the rows of their full-scan twins (same
    shipped centroids, same driver-side probe ranking via the same
    sequential cosine fold)."""
    qs = all_queries()
    for pruned_name, full_name in [
        ("sim_topk_ivfpq_pruned", "sim_topk_ivfpq_fixed"),
        ("sim_topk_ivf_pruned", "sim_topk_kmeans_ivf_fixed"),
    ]:
        pruned = [tuple(r) for r in qs[pruned_name](spark, sf_oracle).collect()]
        full = [tuple(r) for r in qs[full_name](spark, sf_oracle).collect()]
        assert pruned == full, f"{pruned_name} diverged from {full_name}"


def test_pruned_probe_reads_only_probed_partitions(spark, sf_oracle):
    """The storage-pruning claim, asserted from the executed plan: the
    scan must carry a literal PartitionFilters predicate on
    cell, its runtime numFiles/numPartitions metrics must equal nprobe (of
    the k cell directories on disk), and the IVF-PQ probe must not read the
    raw embedding column at all (ADC runs on the integer codes)."""
    import os
    import re

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        cell_layout_path,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _KMEANS_K,
        _NPROBE,
    )

    qs = all_queries()
    df = qs["sim_topk_ivfpq_pruned"](spark, sf_oracle)
    layout = cell_layout_path(sf_oracle)
    on_disk = [d for d in os.listdir(layout) if d.startswith("cell=")]
    assert len(on_disk) == _KMEANS_K, "fixture corpus should populate every cell"

    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan_line)
    assert pf and "cell" in pf.group(1) and " IN " in pf.group(1), scan_line
    schema = re.search(r"ReadSchema: (\S+)", scan_line).group(1)
    assert "embedding" not in schema, "IVF-PQ probe must read codes only"

    scans = [m for m in _scan_metrics(df) if "numFiles" in m]
    assert scans, "no FileSourceScan leaf with metrics"
    scan = scans[0]
    assert scan["numFiles"] == _NPROBE, scan
    assert scan["numPartitions"] == _NPROBE, scan

    # the full-precision pruned probe prunes partitions the same way but
    # DOES read vectors — nprobe partitions, embedding in schema
    df2 = qs["sim_topk_ivf_pruned"](spark, sf_oracle)
    scans2 = [m for m in _scan_metrics(df2) if "numFiles" in m]
    assert scans2 and scans2[0]["numPartitions"] == _NPROBE, scans2


def test_semantic_cells_hot_cell_salting(spark):
    """Skew fixture: one cell holds ~half the vectors.
    cell_blocked_pairs must (a) split the hot cell into multiple bounded
    tasks — no task sees more than 2x target_rows rows, so task memory and
    GEMM time are bounded regardless of skew — and (b) emit exactly the
    pair set of an unsalted within-cell brute force, at identical 6-dp
    scores."""
    import math

    import numpy as np

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        _cell_block_tasks,
        cell_blocked_pairs,
    )

    rng = np.random.default_rng(7)
    n, dim, target = 1200, 16, 100
    # cells 0..3 by construction: a hot cell with ~half the mass, the rest
    # spread evenly — the shape a natural (clustered) corpus has
    cell_of = np.where(rng.random(n) < 0.5, 0, rng.integers(1, 4, size=n))
    base = rng.normal(0.0, 1.0, size=(4, dim))
    vecs = base[cell_of] + rng.normal(0.0, 0.35, size=(n, dim))
    df = spark.createDataFrame(
        [
            (int(i), [float(x) for x in vecs[i]], int(cell_of[i]))
            for i in range(n)
        ],
        "vid long, v array<double>, cell int",
    )

    # (a) the hot cell splits; every task input is bounded. Blocks are
    # assigned by pmod(hash(id), nb), so block sizes are binomial around
    # target rather than exactly target — allow the small hash-variance
    # slack on top of the 2x two-block bound.
    tagged, nblocks = _cell_block_tasks(df, target)
    hot = int(np.bincount(cell_of).argmax())
    assert nblocks[hot] == math.ceil((cell_of == hot).sum() / target) > 1
    task_sizes = {
        (r["tcell"], r["ba"], r["bb"]): r["count"]
        for r in tagged.groupBy("tcell", "ba", "bb").count().collect()
    }
    assert max(task_sizes.values()) <= 2.5 * target
    # hot cell runs as nb(nb+1)/2 parallel tasks, not one straggler
    assert len(task_sizes) >= nblocks[hot] * (nblocks[hot] + 1) // 2

    # (b) pair set + scores identical to the unsalted within-cell verify
    got = {
        (r.id1, r.id2): r.cosine_sim
        for r in cell_blocked_pairs(df, threshold=0.9, target_rows=target).collect()
    }
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(norms @ norms.T, 6)
    expect = {}
    for i in range(n):
        for j in range(i + 1, n):
            if cell_of[i] == cell_of[j] and sims[i, j] >= 0.9:
                expect[(i, j)] = sims[i, j]
    assert expect, "fixture should contain same-cell near-duplicates"
    assert got.keys() == expect.keys()
    for pair, sim in got.items():
        assert abs(sim - expect[pair]) < 1e-9


def test_cell_layout_invalidated_by_model_change(spark, tmp_path):
    """The layout marker must key on the MODEL
    content, not just the source mtime — a retrained codebook with an
    unchanged corpus must rebuild the layout (its stored cell assignments
    and PQ codes were computed with the old model), not silently reuse
    it while probe_cells_py ranks with the new centroids."""
    import json
    import os
    import shutil

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        cell_layout_path,
        ensure_cell_layout,
    )
    from streaming_data_pipeline_capstone_spark.queries.ann_config import (
        PQ_SUB_DIM,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
        PQ_BOOKS,
    )

    sf_dir = str(tmp_path / "corpus")
    os.makedirs(sf_dir)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        os.path.join(sf_dir, "embeddings.parquet"),
    )
    out = ensure_cell_layout(spark, sf_dir, KMEANS_CENTROIDS, PQ_BOOKS, PQ_SUB_DIM)
    marker = os.path.join(out, "_LAYOUT_META.json")
    with open(marker) as fh:
        meta1 = json.load(fh)
    assert meta1.get("model_hash")

    # same model, same source -> reuse (marker untouched)
    mtime1 = os.path.getmtime(marker)
    assert ensure_cell_layout(spark, sf_dir, KMEANS_CENTROIDS, PQ_BOOKS, PQ_SUB_DIM) == out
    assert os.path.getmtime(marker) == mtime1

    # "retrained" centroids (perturb one component) -> rebuild
    retrained = [list(c) for c in KMEANS_CENTROIDS]
    retrained[0][0] += 0.25
    assert ensure_cell_layout(spark, sf_dir, retrained, PQ_BOOKS, PQ_SUB_DIM) == out
    with open(marker) as fh:
        meta2 = json.load(fh)
    assert meta2["model_hash"] != meta1["model_hash"]
    shutil.rmtree(cell_layout_path(sf_dir), ignore_errors=True)


def test_blocked_pairs_structured_and_negative_ids(spark):
    """Regression: block keys come from pmod(hash(id), nb),
    not id % nb. With raw mod, (a) ids sharing a common factor with nb
    collapse into few blocks (straggler returns), and (b) negative ids get
    negative remainders that match no (ba, bb) task — rows silently
    vanish from the verify. Fixture: all-even ids including negatives, one
    cell, nb > 1; the pair set must equal the numpy all-pairs reference."""
    import numpy as np

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        _cell_block_tasks,
        cell_blocked_pairs,
    )

    rng = np.random.default_rng(11)
    n, dim, target = 300, 8, 60
    ids = [2 * (i - n // 2) for i in range(n)]  # even, half negative
    vecs = rng.normal(0.0, 1.0, size=(n, dim))
    df = spark.createDataFrame(
        [(int(ids[i]), [float(x) for x in vecs[i]], 0) for i in range(n)],
        "vid long, v array<double>, cell int",
    )
    tagged, nblocks = _cell_block_tasks(df, target)
    assert nblocks[0] == 5
    # every row lands in a valid block: side-0 rows appear once per row
    side0 = tagged.filter("side = 0 and ba = bb").count()
    assert side0 == n, "negative/structured ids must not drop rows"
    got = {
        (r.id1, r.id2): r.cosine_sim
        for r in cell_blocked_pairs(df, threshold=0.3, target_rows=target).collect()
    }
    norms = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = np.round(norms @ norms.T, 6)
    expect = {}
    for i in range(n):
        for j in range(n):
            if i < j and sims[i, j] >= 0.3:
                a, b = sorted((ids[i], ids[j]))
                expect[(a, b)] = sims[i, j]
    assert expect
    assert got.keys() == expect.keys()


def test_ivfpq_probe_recall_vs_full_adc(spark, sf_oracle):
    """Probe recall gate, measured against the right baseline: IVF-PQ =
    cell filter + the SAME ADC scoring as sim_pq_topk_fixed, so what the
    probe can lose is full-ADC top-10 members sitting in unprobed cells —
    nothing else. (Quantization loss vs exact cosine is a property of the
    PQ config, characterized in ANN_RECALL_r09/r12; at the r12 shipped
    32x2 k=64 codebook the full-ADC top-10 overlaps exact cosine 8/10 at
    this fixture, up from 7/10 at 16x4 and ~4/10 at the r8 4x16 one.) Pinned at >=8 so an nprobe/config change that tanks
    the probe fails here, not in production."""
    qs = all_queries()
    full = [r.vec_id for r in qs["sim_pq_topk_fixed"](spark, sf_oracle).collect()]
    got = set(
        r.vec_id for r in qs["sim_topk_ivfpq_fixed"](spark, sf_oracle).collect()
    )
    overlap = len(set(full) & got)
    assert overlap >= 8, f"IVF-PQ probe recall collapsed: {overlap}/10 of full-ADC top-10"

    # and the full-precision probe twin holds near-exact recall: the cells
    # that matter ARE probed (9/10 of exact top-10 at this fixture)
    exact = [r.vec_id for r in qs["sim_topk_bruteforce"](spark, sf_oracle).collect()][:10]
    kivf = set(
        r.vec_id for r in qs["sim_topk_kmeans_ivf_fixed"](spark, sf_oracle).collect()
    )
    assert len(set(exact) & kivf) >= 8


def test_rerank_recall_vs_exact(spark, sf_oracle):
    """The r9 shipped-config claim, gated: the ADC shortlist + exact
    re-rank stage must recover the exact cosine top-10 — both the full
    scan (curve: 0.925 at sf0.1) and the COMPOSED partition-pruned probe
    (curve: 0.805). At this fixture both measure 10/10; gated at >=9 so
    a codebook/config regression fails here before shipping. ADC-only
    recall (no rerank) is gated looser at >=6 (measured 7/10) — it
    exists to catch a collapse back to the r8 curve's 0.135."""
    qs = all_queries()
    exact = [
        r.vec_id for r in qs["sim_topk_bruteforce"](spark, sf_oracle).collect()
    ][:10]
    rer = {
        r.vec_id
        for r in qs["sim_pq_topk_rerank_fixed"](spark, sf_oracle).collect()
    }
    assert len(set(exact) & rer) >= 9, rer
    prr = {
        r.vec_id
        for r in qs["sim_topk_ivfpq_rerank_pruned"](spark, sf_oracle).collect()
    }
    assert len(set(exact) & prr) >= 9, prr
    adc_only = {
        r.vec_id for r in qs["sim_pq_topk_fixed"](spark, sf_oracle).collect()
    }
    assert len(set(exact) & adc_only) >= 6, adc_only


def test_spilled_layout_and_probe(spark, sf_oracle):
    """Spilled serving (recall run in git history at 78bf83b): the spilled layout
    must store every vector in exactly SPILL distinct cells, the first of
    them bit-identical to the single-assignment choice (spilling ADDS
    copies, never moves the primary), and the composed probe at the
    certified nprobe/k = 0.25 ratio must hold recall against exact cosine
    (measured 9/10 at this fixture probing 2 of 8 cells; gated >=8)."""
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells,
        assign_cells_topn,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _serving_layout_spill,
    )
    from streaming_data_pipeline_capstone_spark.queries.ann_config import SPILL
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    qs = all_queries()
    layout = spark.read.parquet(_serving_layout_spill(spark, sf_oracle))
    per_vec = (
        layout.groupBy("vec_id")
        .agg(
            F.countDistinct("cell").alias("nc"),
            F.count(F.lit(1)).alias("n"),
        )
        .agg(
            F.min("nc").alias("min_nc"),
            F.max("nc").alias("max_nc"),
            F.max("n").alias("max_n"),
        )
        .collect()[0]
    )
    assert (per_vec.min_nc, per_vec.max_nc, per_vec.max_n) == (SPILL, SPILL, SPILL)

    # primary assignment unchanged: topn[0] == assign_cells for every vector
    emb = read_table(spark, sf_oracle, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    mism = emb.select(
        (
            assign_cells_topn(F.col("v"), KMEANS_CENTROIDS, SPILL)[0]
            != assign_cells(F.col("v"), KMEANS_CENTROIDS)
        ).alias("bad")
    ).filter("bad").count()
    assert mism == 0

    exact = [
        r.vec_id for r in qs["sim_topk_bruteforce"](spark, sf_oracle).collect()
    ][:10]
    got = {
        r.vec_id
        for r in qs["sim_topk_ivfpq_rerank_spill"](spark, sf_oracle).collect()
    }
    assert len(set(exact) & got) >= 8, got


def test_multi_query_probe_slice_matches_single(spark, sf_oracle):
    """sim_topk_ivfpq_multi batches through one pruned pass; its qid=0
    slice must be exactly sim_topk_ivfpq_rerank_pruned's output, and every
    query in the batch must return a full non-degenerate top-10."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _MULTI_QIDS,
        sim_topk_ivfpq_multi,
        sim_topk_ivfpq_rerank_pruned,
    )

    batch = sim_topk_ivfpq_multi(spark, sf_oracle).collect()
    single = [
        (r.vec_id, r.cosine_sim)
        for r in sim_topk_ivfpq_rerank_pruned(spark, sf_oracle).collect()
    ]
    slice0 = sorted(
        ((r.vec_id, r.cosine_sim, r.rank) for r in batch if r.query_id == 0),
        key=lambda t: t[2],
    )
    assert [(v, c) for v, c, _ in slice0] == single
    per_q = {qid: [r for r in batch if r.query_id == qid] for qid in _MULTI_QIDS}
    for qid, rows in per_q.items():
        assert len(rows) == 10, qid
        assert rows[0].cosine_sim != rows[-1].cosine_sim or len(
            {r.vec_id for r in rows}
        ) == 10


def test_filtered_probe_respects_predicate_and_prunes(spark, sf_oracle):
    """sim_topk_ivfpq_filtered (r13): every result carries the filter
    label; the predicate is evaluated INSIDE the pruned scan (pushed to
    the parquet source, no corpus-sized metadata join); and the filtered
    top-10 overlaps the exact filtered brute-force top-10 at the probe's
    certified recall level."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _FILTER_LABEL,
        sim_topk_ivfpq_filtered,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    out = sim_topk_ivfpq_filtered(spark, sf_oracle)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.label == _FILTER_LABEL for r in rows)

    # predicate pushdown pin: the label filter reaches the scan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "label" in plan.split("PushedFilters", 1)[1][:400], plan[:2000]

    # exact filtered brute force (tiny at sf0.01) — overlap >= 8, the
    # spill-test convention for probe-vs-exact agreement
    emb = read_table(spark, sf_oracle, "embeddings")
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    ]
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        cosine_topk,
    )

    exact = [
        r.vec_id
        for r in cosine_topk(
            emb.filter(F.col("label") == _FILTER_LABEL), q, k=10
        ).collect()
    ]
    got = {r.vec_id for r in rows}
    assert len(set(exact) & got) >= 8, (exact, got)


def test_incremental_index_appends_idempotent_and_pruned(spark, sf_oracle):
    """The epoch-appended index (r13): the probe over the incrementally
    built layout equals the one-shot pruned probe; re-delivering an
    append epoch (the at-least-once replay) leaves the index byte-stable;
    and the probe still lists only probed cell directories."""
    import os

    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        append_cell_epoch,
        probe_cells_py,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _NPROBE,
        _PQ_SUB_DIM,
        _incr_layout,
        _query_vec,
        sim_topk_ivfpq_rerank_incr,
        sim_topk_ivfpq_rerank_pruned,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        PQ_BOOKS as _BOOKS,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    want = [tuple(r) for r in sim_topk_ivfpq_rerank_pruned(spark, sf_oracle).collect()]
    got = [tuple(r) for r in sim_topk_ivfpq_rerank_incr(spark, sf_oracle).collect()]
    assert got == want

    path = _incr_layout(spark, sf_oracle)
    before = sorted(spark.read.parquet(path).inputFiles())
    n_before = spark.read.parquet(path).count()
    # replay the delta epoch (same content, same epoch id) — idempotent
    emb = read_table(spark, sf_oracle, "embeddings")
    delta = emb.filter(F.pmod(F.col("vec_id"), F.lit(5)) == 0)
    append_cell_epoch(
        delta, path, KMEANS_CENTROIDS, _BOOKS, _PQ_SUB_DIM, 1
    )
    assert spark.read.parquet(path).count() == n_before
    assert [tuple(r) for r in sim_topk_ivfpq_rerank_incr(spark, sf_oracle).collect()] == want

    # pruning pin: the probe's scan carries a literal PartitionFilters
    # predicate on the LEADING cell level (the executed-plan pin the
    # one-shot layout's test uses — partition pruning, not inputFiles,
    # is the storage claim)
    import re

    probes = probe_cells_py(_query_vec(spark, sf_oracle), KMEANS_CENTROIDS, _NPROBE)
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_line = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan_line)
    assert pf and "cell" in pf.group(1) and " IN " in pf.group(1), scan_line
    # both epochs of a probed cell are visible to the probe
    epochs = {
        r[0] for r in pruned.select("epoch").distinct().collect()
    }
    assert epochs == {0, 1}
    assert len(before) > 0
    assert os.path.exists(os.path.join(path, "_INCR_META.json"))


# -- r14: batch probe, growth rule, filter x batch, epoch compaction ----------


def test_probe_cells_batch_bit_identical_to_scalar(spark):
    """The vectorized batch ranking must select EXACTLY the scalar fold's
    probe set — same sims (the dim-loop accumulation reproduces the
    sequential rounding), same sim-desc/cell-asc tiebreak — including on
    duplicated centroids that force exact ties."""
    import random

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        probe_cells_batch,
        probe_cells_py,
    )

    rng = random.Random(17)
    dim, k, q = 64, 33, 7
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(k)]
    cents[5] = list(cents[2])   # exact duplicates -> exact sim ties
    cents[30] = list(cents[2])
    queries = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(q)]
    queries[3] = list(cents[2])  # a query ON the tied centroid
    for nprobe in (1, 3, 8, k):
        batch = probe_cells_batch(queries, cents, nprobe)
        scalar = [probe_cells_py(qv, cents, nprobe) for qv in queries]
        assert batch == scalar, nprobe


def test_coarse_cells_rule_and_retrain_trigger():
    """k is a rule of corpus size (4·√n, power-of-two, clamped), and the
    retrain trigger fires once growth doubles the rule's k."""
    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        coarse_cells,
        coarse_retrain_due,
    )

    assert coarse_cells(0) == 8
    assert coarse_cells(500) == 64  # 4·√500 ≈ 89 -> nearest pow2
    # 4·√n: n=1e6 -> 4000 -> 4096; n=3e9 (100 TB-ish) -> caps at 2^16
    assert coarse_cells(10**6) == 4096
    assert coarse_cells(3 * 10**9) == 1 << 16
    # monotone in n
    ks = [coarse_cells(n) for n in (10**3, 10**5, 10**7, 10**9)]
    assert ks == sorted(ks)
    # retrain: a corpus that grew 10x under √-law (~3.2x k) is overdue;
    # 2x growth (√2 ≈ 1.4x k) is not
    k0 = coarse_cells(10**6)
    assert not coarse_retrain_due(k0, 2 * 10**6)
    assert coarse_retrain_due(k0, 10 * 10**6)
    # the training sample caps k at ~39 points/centroid (FAISS's floor):
    # the sf1 rig (20k corpus, 4k training sample) resolves to 64 cells
    assert coarse_cells(20_000) == 512
    assert coarse_cells(20_000, n_train=4_000) == 64
    assert coarse_cells(20_000, n_train=10**9) == 512  # cap only binds downward
    # the FAISS ~39-points floor wins over the minimum fan-out: a sample
    # too thin to populate even 8 cells returns k < 8 honestly instead of
    # 8 noise centroids
    assert coarse_cells(20_000, n_train=100) == 2
    assert coarse_cells(20_000, n_train=39 * 8) == 8


def test_multi_filtered_slice_pins_to_single_filtered(spark, sf_oracle):
    """The composed filter x batch plan must be a generalization of both
    axes: its qid=0 slice (label 3) equals sim_topk_ivfpq_filtered
    row-for-row, every result row carries its query's own label, and the
    union-of-labels prefilter reaches the pruned codes scan."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _FILTER_LABELS_MULTI,
        sim_topk_ivfpq_filtered,
        sim_topk_ivfpq_multi_filtered,
    )

    batch_df = sim_topk_ivfpq_multi_filtered(spark, sf_oracle)
    batch = batch_df.collect()
    single = [
        (r.vec_id, r.label, r.cosine_sim)
        for r in sim_topk_ivfpq_filtered(spark, sf_oracle).collect()
    ]
    slice0 = [
        (r.vec_id, r.label, r.cosine_sim)
        for r in sorted(
            (r for r in batch if r.query_id == 0), key=lambda r: r.rank
        )
    ]
    assert slice0 == single
    for r in batch:
        assert r.label == _FILTER_LABELS_MULTI[r.query_id], r
    for qid in _FILTER_LABELS_MULTI:
        assert sum(r.query_id == qid for r in batch) == 10, qid

    # among the plan's scans, the CODES scan (no raw embedding read) must
    # carry the union-of-labels prefilter in PushedFilters under the cell
    # partition prune; the separate rerank scan reads embedding and needs
    # no label pushdown (its rows come from the shortlist join)
    plan = batch_df._jdf.queryExecution().executedPlan().toString()
    code_scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l and "PushedFilters" in l and "embedding" not in l.split("ReadSchema", 1)[-1]
    ]
    assert any(
        "label" in l.split("PushedFilters", 1)[1][:400]
        and ("In(" in l.split("PushedFilters", 1)[1][:400] or "EqualTo" in l.split("PushedFilters", 1)[1][:400])
        for l in code_scans
    ), code_scans


def test_multi_filtered_shared_labels_keep_scan_prefilter(spark, sf_oracle):
    """Two queries sharing one label must NOT disable the scan-level
    union-of-labels prefilter (the old gate compared the
    de-duplicated union's size against the query count, so shared labels
    silently fell back to an unfiltered codes scan)."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _FILTER_LABEL,
        multi_topk_ivfpq,
    )

    df = multi_topk_ivfpq(
        spark, sf_oracle, [0, 1], labels={0: _FILTER_LABEL, 1: _FILTER_LABEL}
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    code_scans = [
        l
        for l in plan.splitlines()
        if "FileScan" in l
        and "PushedFilters" in l
        and "embedding" not in l.split("ReadSchema", 1)[-1]
    ]
    assert any(
        "label" in l.split("PushedFilters", 1)[1][:400]
        and (
            "In(" in l.split("PushedFilters", 1)[1][:400]
            or "EqualTo" in l.split("PushedFilters", 1)[1][:400]
        )
        for l in code_scans
    ), code_scans
    rows = df.collect()
    assert rows and all(r.label == _FILTER_LABEL for r in rows)


def test_ann_epoch_compaction_rule_and_identity(spark, sf_oracle, tmp_path):
    """The compaction RULE (files-per-cell threshold) must fire under
    epoch growth, and compaction must be invisible to probes: identical
    rows before and after, epochs collapsed to the sentinel."""
    import os
    import shutil

    from streaming_data_pipeline_capstone_spark.index_store import (
        compact_epochs,
        compaction_due,
        max_files_per_partition,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _incr_layout,
        _pruned_rerank_topk_at,
    )

    src = _incr_layout(spark, sf_oracle)
    work = str(tmp_path / "epochs")
    shutil.copytree(src, work)
    with open(os.path.join(work, "_INCR_META.json")) as fh:
        marker_before = fh.read()

    before = [tuple(r) for r in _pruned_rerank_topk_at(spark, sf_oracle, work, 10).collect()]
    assert before
    # the 2-epoch gate layout is under every sane threshold; the rule
    # fires at threshold 1 (any cell holding >1 epoch file)
    assert not compaction_due(work, "cell", max_files=16)
    assert compaction_due(work, "cell", max_files=1)

    compact_epochs(spark, work, "cell", partitions=4)
    cells = [d for d in os.listdir(work) if d.startswith("cell=")]
    assert cells
    for c in cells:
        assert os.listdir(os.path.join(work, c)) == ["epoch=-1"], c
    assert max_files_per_partition(work, "cell") == 1
    after = [tuple(r) for r in _pruned_rerank_topk_at(spark, sf_oracle, work, 10).collect()]
    assert after == before
    # marker files inside the layout survive the rewrite (a
    # lost _INCR_META.json makes the next open discard the compacted
    # index with a full rebuild)
    with open(os.path.join(work, "_INCR_META.json")) as fh:
        assert fh.read() == marker_before


def test_filtered_hybrid_arms_respect_their_predicates(spark, sf_oracle):
    """The filtered batched hybrid's dense arm must be exactly the
    filtered batched probe's ranking (qid-for-qid), and every
    sparse-ranked id must satisfy its query's lang predicate."""
    from streaming_data_pipeline_capstone_spark.queries.extras import (
        _FILTER_LANGS_MULTI,
        retrieval_hybrid_rrf_multi_filtered,
        sim_topk_ivfpq_multi_filtered,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    fused = retrieval_hybrid_rrf_multi_filtered(spark, sf_oracle).collect()
    assert len(fused) == 60
    probe = {
        (r.query_id, r.rank): r.vec_id
        for r in sim_topk_ivfpq_multi_filtered(spark, sf_oracle).collect()
    }
    for r in fused:
        if r.r_dense is not None and (r.query_id, r.r_dense) in probe:
            assert probe[(r.query_id, r.r_dense)] == r.id, r
    langs = {
        row.doc_id: row.lang
        for row in read_table(spark, sf_oracle, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    sparse_seen = 0
    for r in fused:
        if r.r_sparse is not None:
            sparse_seen += 1
            assert langs[r.id] == _FILTER_LANGS_MULTI[r.query_id], r
    assert sparse_seen >= 10, "vacuous: sparse arm contributed almost nothing"


def test_pandas_encode_bit_identical_to_expression_encode(spark):
    """The Arrow-batched layout encoder (the rule-k path — the Column
    tree falls out of codegen at large k) must be BIT-IDENTICAL to the
    expression encoder: same PQ codes, same cell assignments, same
    spilled top-n order, including forced ties (duplicate centroids and
    equidistant points must resolve by the same first-min / cell-asc
    tie-breaks)."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        _encode_batches,
    )
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        assign_cells_topn,
        pq_encode_cols,
    )

    rng = np.random.RandomState(11)
    dim, subs, sub_dim, k, spill = 16, 4, 4, 6, 2
    mat = rng.randn(80, dim).round(2)
    # tie-forcing rows: exactly on a centroid, and between two centroids
    cents = [list(map(float, rng.randn(dim).round(2))) for _ in range(k)]
    cents[3] = list(cents[1])  # duplicate centroid: every row ties 1 vs 3
    mat[0] = cents[1]
    books = [
        [list(map(float, rng.randn(sub_dim).round(2))) for _ in range(5)]
        for _ in range(subs)
    ]
    books[2][4] = list(books[2][1])  # duplicate codeword tie

    rows = [(i, [float(x) for x in mat[i]], int(i % 3)) for i in range(len(mat))]
    df = spark.createDataFrame(
        rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    expr = df.select(
        "vec_id",
        "label",
        *pq_encode_cols(v, books, sub_dim),
        F.explode(assign_cells_topn(v, cents, spill)).alias("cell"),
    )
    fields = ["vec_id", "embedding", "label"] + [
        f"c{s}" for s in range(subs)
    ] + ["cell"]
    schema = (
        "vec_id bigint, embedding array<float>, label int, "
        + ", ".join(f"c{s} int" for s in range(subs))
        + ", cell int"
    )
    pand = df.mapInPandas(
        _encode_batches(fields, cents, books, sub_dim, spill), schema=schema
    ).drop("embedding")
    key = lambda r: (r[0],) + tuple(r[1:])  # noqa: E731
    got_e = sorted(map(tuple, expr.collect()))
    got_p = sorted(map(tuple, pand.select(*[c for c in expr.columns]).collect()))
    assert got_e == got_p
    # row 0 sits exactly on duplicated centroids 1 and 3: the spilled
    # top-2 must be exactly {1, 3} (dist 0 twice, cell-asc tie order) in
    # BOTH encoders — covered by the equality above; pin the content too
    cells = {r[0]: [] for r in got_p}
    for r in got_p:
        cells[r[0]].append(r[-1])
    assert sorted(cells[0]) == [1, 3]


def test_lloyd_pandas_assignment_bit_identical(spark):
    """Above PANDAS_ASSIGN_MIN_K the Lloyd loop assigns cells through the
    Arrow-batched twin; the trained centroids must be bit-identical to a
    reference loop using the expression assignment (same init, same
    first-min tie-break, same 6-dp mean rounding)."""
    import numpy as np
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        PANDAS_ASSIGN_MIN_K,
        assign_cells,
        lloyd_kmeans_centroids,
    )

    k, iters = PANDAS_ASSIGN_MIN_K, 3
    rng = np.random.RandomState(5)
    mat = rng.randn(300, 8).round(2)
    mat[1] = mat[0]  # duplicate rows force assignment ties
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
        "vec_id BIGINT, v ARRAY<DOUBLE>",
    ).persist()

    got = lloyd_kmeans_centroids(vecs, k, iters)

    # reference: the identical loop with the EXPRESSION assignment
    init_rows = vecs.orderBy("vec_id").limit(k).select("v").collect()
    cents = [[float(x) for x in r[0]] for r in init_rows]
    for _ in range(iters):
        assigned = vecs.select(
            assign_cells(F.col("v"), cents).alias("cell"), F.col("v")
        ).select("cell", F.posexplode("v").alias("idx", "x"))
        means = (
            assigned.groupBy("cell", "idx")
            .agg(F.round(F.avg("x"), 6).alias("val"))
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in means:
            nxt[r["cell"]][r["idx"]] = r["val"]
        cents = nxt
    vecs.unpersist()
    assert got == cents
