"""Pins for the streaming curation-verdict job (r11): the incremental
execution must be verdict-identical to the batch twin — including when the
stream is stopped mid-corpus and restarted from its checkpoint — and the
gate plants must genuinely exercise the cross-batch dedup path."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F


def _gate_fixture(spark, sf_smoke):
    from streaming_data_pipeline_capstone_spark.queries.quality import (
        fit_quality_model,
    )
    from streaming_data_pipeline_capstone_spark.queries.stream_curation import (
        _gate_docs,
    )

    return _gate_docs(spark, sf_smoke), fit_quality_model(spark, sf_smoke)


def test_stream_verdicts_match_batch_twin_across_restart(spark, sf_smoke, tmp_path):
    """Drain half the replay, kill the query, restart from the same
    checkpoint over the full replay: the final verdict frame must equal
    the batch twin row-for-row — at-least-once delivery + idempotent
    epoch writes + the fingerprint index must compose to exactly-once
    verdict semantics."""
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.streaming.curation_stream import (
        VERDICT_COLUMNS,
        curation_verdicts_batch,
        read_index,
        start_verdict_stream,
    )

    docs, beta = _gate_fixture(spark, sf_smoke)
    want = sorted(tuple(r) for r in curation_verdicts_batch(docs, beta).collect())

    replay_dir = str(tmp_path / "replay")
    schema = replay_to_files(docs, replay_dir, 4, order_col="doc_id")
    # hide the back half of the corpus for the first run
    hidden = str(tmp_path / "hidden")
    os.makedirs(hidden)
    for chunk in ("chunk=00002", "chunk=00003"):
        shutil.move(os.path.join(replay_dir, chunk), os.path.join(hidden, chunk))

    out_dir = str(tmp_path / "verdicts")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    q = start_verdict_stream(
        stream_from_replay(spark, replay_dir, schema), beta, out_dir, state_dir, ckpt
    )
    q.awaitTermination()
    first_rows = sorted(
        tuple(r)
        for r in read_index(spark, out_dir).select(*VERDICT_COLUMNS).collect()
    )
    first_ids = {r[0] for r in first_rows}
    assert 0 < len(first_ids) < len(want), "first run must drain only a prefix"
    # an ordered prefix sees every smaller id, so its verdicts must equal
    # the batch twin's restricted to the prefix
    assert first_rows == [w for w in want if w[0] in first_ids]

    # restart: reveal the remaining chunks, resume from the checkpoint
    for chunk in ("chunk=00002", "chunk=00003"):
        shutil.move(os.path.join(hidden, chunk), os.path.join(replay_dir, chunk))
    q2 = start_verdict_stream(
        stream_from_replay(spark, replay_dir, schema), beta, out_dir, state_dir, ckpt
    )
    q2.awaitTermination()

    got = sorted(
        tuple(r)
        for r in read_index(spark, out_dir).select(*VERDICT_COLUMNS).collect()
    )
    assert got == want
    # the resumed run must have continued, not reprocessed: epochs 0-1
    # from run one, 2-3 from run two
    epochs = {
        r["epoch"]
        for r in spark.read.parquet(out_dir).select("epoch").distinct().collect()
    }
    assert epochs == {0, 1, 2, 3}


def test_stream_verdict_plants_are_not_vacuous(spark, sf_smoke, tmp_path):
    """Every verdict column must carry both outcomes on the gate corpus,
    and the planted duplicate groups must span micro-batches so the
    cross-batch fingerprint-index path is what resolves them."""
    from streaming_data_pipeline_capstone_spark.queries.stream_curation import (
        _DUP_GROUPS,
        _DUP_MOD,
    )
    from streaming_data_pipeline_capstone_spark.streaming.curation_stream import (
        run_stream_curation_verdicts,
    )

    docs, beta = _gate_fixture(spark, sf_smoke)
    verdicts = {
        r["doc_id"]: r
        for r in run_stream_curation_verdicts(
            spark, docs, beta, str(tmp_path / "work"), chunks=4
        ).collect()
    }
    all_ids = sorted(verdicts)
    carriers = [d for d in all_ids if d % _DUP_MOD == 0]
    groups: dict[int, list[int]] = {}
    for d in carriers:
        groups.setdefault((d // _DUP_MOD) % _DUP_GROUPS, []).append(d)

    # at least one planted group must span multiple micro-batches
    # (replay_to_files packs ceil(n/chunks) doc_id-ordered rows per chunk)
    chunk_size = (len(all_ids) + 3) // 4
    chunk_of = {d: min(i // chunk_size, 3) for i, d in enumerate(all_ids)}
    assert any(
        len({chunk_of[d] for d in mem}) > 1
        for mem in groups.values()
        if len(mem) > 1
    ), "plant must produce a duplicate group spanning micro-batches"

    # dedup verdict: min of each duplicate-text group keeps, rest drop.
    # PII plants perturb some carriers' text, so group by the verdictable
    # outcome instead: within each sentinel group, docs sharing identical
    # planted text resolve to their min id.
    dropped = [d for d in carriers if not verdicts[d]["keep_dedup"]]
    kept = [d for d in carriers if verdicts[d]["keep_dedup"]]
    assert dropped, "plant must produce actual duplicate drops"
    assert kept, "every group's representative must keep"
    for mem in groups.values():
        plain = sorted(d for d in mem if d % 7 != 0 and d % 11 != 0)
        if len(plain) > 1:
            assert verdicts[plain[0]]["keep_dedup"]
            for d in plain[1:]:
                assert not verdicts[d]["keep_dedup"]

    # non-carrier corpus is naturally duplicate-free → keeps
    non_carriers = [d for d in all_ids if d % _DUP_MOD != 0]
    assert all(verdicts[d]["keep_dedup"] for d in non_carriers)

    # the stateless columns all fire both ways / with real positives
    assert any(verdicts[d]["n_emails"] > 0 for d in all_ids)
    assert any(verdicts[d]["n_phones"] > 0 for d in all_ids)
    assert {verdicts[d]["keep_q"] for d in all_ids} == {True, False}
    assert {verdicts[d]["keep"] for d in all_ids} == {True, False}
    assert all(0.0 <= verdicts[d]["quality_score"] <= 1.0 for d in all_ids)


def test_stream_verdicts_consistent_with_batch_quality_model(spark, sf_smoke, tmp_path):
    """The stream's trained-score column must be bit-identical to
    score_quality applied in batch — the offline-train / online-score
    split leaves no float daylight."""
    from streaming_data_pipeline_capstone_spark.streaming.curation_stream import (
        curation_verdicts_batch,
        stateless_verdict_columns,
    )

    docs, beta = _gate_fixture(spark, sf_smoke)
    twin = curation_verdicts_batch(docs, beta)
    direct = stateless_verdict_columns(docs, beta).select(
        "doc_id", "quality_score", "pred_keep"
    )
    a = sorted(tuple(r) for r in twin.select("doc_id", "quality_score", "pred_keep").collect())
    b = sorted(tuple(r) for r in direct.collect())
    assert a == b


def test_state_index_reads_are_bucket_pruned(spark, sf_smoke, tmp_path):
    """The r12 scale fix: per-micro-batch state reads must LIST AND READ
    only the fp-prefix bucket directories the batch's own fingerprints
    touch — files read ∝ batch buckets, never ∝ accumulated index size."""
    from streaming_data_pipeline_capstone_spark.streaming.curation_stream import (
        run_stream_curation_verdicts,
    )
    from streaming_data_pipeline_capstone_spark.index_store import read_index

    docs, beta = _gate_fixture(spark, sf_smoke)
    work = str(tmp_path / "work")
    run_stream_curation_verdicts(spark, docs, beta, work, chunks=3).count()

    fp_path = os.path.join(work, "state", "fp_min")
    full = spark.read.parquet(fp_path)
    all_files = set(full.inputFiles())
    buckets = sorted(
        r["bkt"] for r in full.select("bkt").distinct().collect()
    )
    assert len(buckets) > 4, "gate corpus must spread over many buckets"

    probe = buckets[:2]
    pruned = read_index(spark, fp_path, buckets=probe)
    pruned_files = set(pruned.inputFiles())
    # every listed file lives under a probed bucket dir, and the listing
    # is a strict subset of the index — the Θ(batch) property
    assert pruned_files
    assert all(
        any(f"/bkt={b}/" in f for b in probe) for f in pruned_files
    )
    assert len(pruned_files) < len(all_files)

    # value correctness of the pruned read: identical to filtering the
    # full index to the probed buckets
    want = sorted(
        tuple(r)
        for r in full.filter(F.col("bkt").isin(probe))
        .select("fp", "min_doc")
        .collect()
    )
    got = sorted(tuple(r) for r in pruned.select("fp", "min_doc").collect())
    assert got == want

    # probing a bucket that doesn't exist alongside ones that do must not
    # fail — it reads exactly the existing probed buckets; probing ONLY
    # missing buckets raises (the callers' "no old state" path)
    got2 = read_index(spark, fp_path, buckets=[probe[0], "zz"])
    want2 = full.filter(F.col("bkt") == probe[0]).count()
    assert got2.count() == want2
    import pytest

    with pytest.raises(Exception):
        read_index(spark, fp_path, buckets=["zz"])


def test_dedup_stream_index_reads_are_bucket_pruned(spark, tmp_path):
    """Same Θ(batch) pin for the near-dup stream's band/shingle indexes."""
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.index_store import read_index
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        streaming_minhash_dedup,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions behind the old stone wall near the river"
    )
    rows = [(i, base + f" tail {i % 4}") for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    replay_dir = str(tmp_path / "replay")
    schema = replay_to_files(docs, replay_dir, 3, order_col="doc_id")
    q = streaming_minhash_dedup(
        stream_from_replay(spark, replay_dir, schema),
        str(tmp_path / "index"),
        str(tmp_path / "pairs"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    for sub in ("bands", "sets"):
        path = str(tmp_path / "index" / sub)
        full = spark.read.parquet(path)
        buckets = [r["bkt"] for r in full.select("bkt").distinct().collect()]
        assert len(buckets) >= 2, f"{sub}: need ≥2 buckets to show pruning"
        probe = buckets[:1]
        pruned_files = set(read_index(spark, path, buckets=probe).inputFiles())
        assert pruned_files
        assert all(f"/bkt={probe[0]}/" in f for f in pruned_files)
        assert len(pruned_files) < len(set(full.inputFiles()))


def test_state_bucket_fanout_rule():
    """The fan-out rule: the returned prefix length
    must clear the expected-touched-fraction bound 1-exp(-B/16^L) ≤ f,
    MINIMALLY (one level down violates it), across batch-size decades."""
    import math

    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        _MAX_PREFIX_LEN,
        MAX_TOUCHED_FRAC,
        state_bucket_fanout,
        state_bucket_prefix_len,
    )

    for b in (1, 10, 100, 500, 2500, 40_000, 10**6, 10**10):
        ell = state_bucket_prefix_len(b)
        frac = 1 - math.exp(-b / 16**ell)
        assert frac <= MAX_TOUCHED_FRAC or ell == _MAX_PREFIX_LEN, (b, ell)
        if ell > 1:
            assert 1 - math.exp(-b / 16 ** (ell - 1)) > MAX_TOUCHED_FRAC, (b, ell)
        assert state_bucket_fanout(b) == 16**ell
    # gate-sized batches keep the small default; big batches scale up
    assert state_bucket_prefix_len(1) == 1
    assert state_bucket_prefix_len(500) >= 2
    assert state_bucket_prefix_len(10**10) == _MAX_PREFIX_LEN


def test_rule_sized_stream_prunes_below_touched_bound(spark, sf_smoke, tmp_path):
    """Run the verdict stream with expected_batch_docs (rule-derived
    fan-out ≫ per-batch prefixes): each batch's probed bucket set must be
    a strict sliver of the index — touched buckets ≤ batch docs, and the
    final batch's pruned read lists < 30% of the index's files."""
    from streaming_data_pipeline_capstone_spark.operators.textstats import (
        fingerprint,
    )
    from streaming_data_pipeline_capstone_spark.sources.replay import (
        replay_to_files,
        stream_from_replay,
    )
    from streaming_data_pipeline_capstone_spark.streaming.curation_stream import (
        _fp_bucket,
        curation_verdicts_batch,
        read_index,
        start_verdict_stream,
    )
    from streaming_data_pipeline_capstone_spark.streaming.dedup_stream import (
        state_bucket_prefix_len,
    )

    docs, beta = _gate_fixture(spark, sf_smoke)
    n_docs = docs.count()
    chunks = 10
    batch_docs = max(1, n_docs // chunks)
    prefix_len = state_bucket_prefix_len(batch_docs)
    assert prefix_len >= 2, "fixture must exercise a rule-grown fan-out"

    replay_dir = str(tmp_path / "replay")
    schema = replay_to_files(docs, replay_dir, chunks, order_col="doc_id")
    out_dir = str(tmp_path / "verdicts")
    state_dir = str(tmp_path / "state")
    q = start_verdict_stream(
        stream_from_replay(spark, replay_dir, schema),
        beta,
        out_dir,
        state_dir,
        str(tmp_path / "ckpt"),
        expected_batch_docs=batch_docs,
    )
    q.awaitTermination()

    # verdicts still equal the batch twin at the grown fan-out
    want = sorted(tuple(r) for r in curation_verdicts_batch(docs, beta).collect())
    got = sorted(
        tuple(r)
        for r in read_index(spark, out_dir)
        .select(*[c for c in curation_verdicts_batch(docs, beta).columns])
        .collect()
    )
    assert got == want

    fp_path = os.path.join(state_dir, "fp_min")
    full = spark.read.parquet(fp_path)
    all_files = full.inputFiles()
    last = docs.orderBy(F.desc("doc_id")).limit(batch_docs)
    touched = [
        r[0]
        for r in last.select(
            _fp_bucket(fingerprint("text"), prefix_len).alias("b")
        )
        .distinct()
        .collect()
    ]
    assert len(touched) <= batch_docs
    pruned_files = read_index(spark, fp_path, buckets=touched).inputFiles()
    assert all(
        any(f"/bkt={b}/" in f for b in touched) for f in pruned_files
    )
    assert len(pruned_files) < 0.3 * len(all_files), (
        len(pruned_files),
        len(all_files),
    )
