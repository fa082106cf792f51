"""Physical-plan regression gate over the FULL query registry.

`tools/plan_audit.py` summarizes what matters at 100 TB — join strategy,
exchange count, scan width, pushed filters. This test turns that audit
into hard assertions so a plan regression (a new shuffle, a lost
broadcast, an unpushed filter, a scan that stops pruning) fails CI
instead of silently shipping:

- BroadcastNestedLoopJoin is forbidden except where it IS the right
  plan: a broadcast side that is O(1) rows by construction.
- Per-query shuffle budget: the audited exchange count of the current
  plan. A query may improve (fewer shuffles) without touching this
  file; adding a shuffle requires a deliberate budget bump here.
- Filter pushdown: every query whose plan pushes a predicate into a
  parquet scan today must keep pushing one.
- Column pruning: no scan reads more than 8 columns (the widest
  legitimate scan today is 6 of lineitem's 16 / orders' 9).

Budgets were measured at sf0.001 with the test session (local[4],
shuffle_partitions=4, AQE on) — the same setup this test runs under, so
the counts are deterministic.
"""

from __future__ import annotations

import pytest

from streaming_data_pipeline_capstone_spark.registry import all_queries
from tools.plan_audit import audit

SF = "/root/testdata/sf0.001"

# Queries where BroadcastNestedLoopJoin is the intended physical plan:
# the broadcast side is constant-size (a literal band table / a single
# query vector), so the "nested loop" is one in-memory row per probe.
BNLJ_OK = {
    "join_range_price_bands",
    "sim_topk_bruteforce",
    "sim_topk_kmeans_ivf",
    "sim_topk_kmeans_ivf_fixed",  # crossJoin against the broadcast 1-row query
    "text_idf_profile",  # crossJoin against the broadcast 1-row corpus count
    "quality_lm_perplexity",  # crossJoin against the broadcast 1-row (N, V) frame
    "quality_lm_ppl_buckets",  # same, plus the broadcast <=1-row cuts frame
    "corpus_health_lm_by_source",  # the bucket chain's broadcast frames
    "retrieval_hybrid_rrf",  # brute-force dense arm: broadcast 1-row query vector
    "text_qld_topk",  # crossJoin against the broadcast |Q|-row (term, cf) frame
    "text_qld_filtered_topk",  # same broadcast (term, cf) crossJoin, filtered candidates
}

# Audited exchange count per query (broadcasts excluded). UPPER bounds:
# going under is an improvement, going over is a regression that needs a
# reviewed bump here.
SHUFFLE_BUDGET = {
    "agg_approx_distinct": 2,
    "agg_count_distinct": 2,
    "agg_cube_flags": 1,
    "agg_grouping_sets": 1,
    "agg_percentiles": 1,
    "agg_pivot_status": 2,
    "agg_pricing_summary": 1,
    "agg_rollup_status_priority": 1,
    "agg_stats_lineitem": 1,
    "corpus_shard_shuffle": 1,  # one exchange on shard; per-shard rank
    "curation_pii_scrub": 0,  # plant + count + scrub: pure per-row regex exprs
    "decontam_ngram_overlap": 2,  # eval-gram distinct + per-doc count; eval side broadcast
    "decontam_ngram_overlap_w8": 2,  # same plan at the published 8-gram width
    "dedup_clusters": 0,  # iterative; plan truncated by localCheckpoint
    "dedup_embedding_cosine": 1,
    "dedup_exact": 1,
    "dedup_keep_list": 2,  # pairs→components are checkpoint-truncated; verdict join + agg remain
    "dedup_minhash_lsh": 3,  # signature agg + band buckets + verify: intrinsic
    "dedup_ngram_jaccard": 2,
    "dedup_simhash": 0,
    "emb_pq_encode": 0,  # literal codebooks: pure per-row exprs
    "emb_quantize_int8": 0,
    "feature_path_angle": 1,
    "flagship_last3_rolling": 1,  # ONE exchange feeds rank + rolling avg
    "join_anti_no_urgent_order": 0,
    "join_asof_last_click": 1,
    "join_asof_nearest_click": 2,  # backward + forward passes, purchase-id join
    "join_asof_next_click": 1,
    "join_full_outer_nations": 2,  # full outer can't broadcast
    "join_left_outer_counts": 1,
    "join_range_price_bands": 1,
    "join_regional_revenue": 3,
    "join_salted_revenue": 1,
    "join_semi_high_value": 0,
    "join_topk_orders": 1,
    "mixture_dsir_resample": 3,  # the weights plan; the global top-k is TakeOrderedAndProject, no exchange
    "mixture_dsir_weights": 3,  # bucket stats + metadata-frame totals window + doc_id rollup; ratio table broadcast
    "mixture_sample_by_lang": 1,
    "mixture_temperature_sample": 3,  # lang counts + metadata window + final rollup; corpus side broadcast-joined
    "ml_score_stub": 0,
    "multimodal_binary_meta": 0,
    "multimodal_extract_features": 0,
    # r9: hierarchical prefix sum replaced the per-lang window (one task
    # per language). 4 = bucket-totals agg + tiny per-lang offsets window
    # (langs x buckets ROWS, metadata-sized) + within-bucket window
    # ((lang,bkt)-keyed, the parallel one) + rollup. Two of the four are
    # metadata-sized; the data-sized exchange went from langs keys to
    # langs x buckets keys — the deliberate scale trade.
    "pack_token_budget": 4,
    "pipeline_predict_full": 1,
    "pipeline_predict_trained": 1,  # one exchange on user_id serves lag+lead
    "pipeline_preprocess_full": 0,
    "profile_orders": 2,
    "quality_classifier_trained": 2,  # the weak-label (gopher) side's two doc_id exchanges; feature side is per-row, scoring is literal arithmetic
    "quality_filter_composite": 0,
    # bitmap build (word-keyed bit_or) + eval-gram dedup + doc_id rollup;
    # the exact-verify join over the prefiltered sliver broadcasts at
    # this SF (would be a sliver-sized shuffle at corpus scale)
    "decontam_bloom_prefilter_w8": 3,
    # per-row signals + ONE exchange on source (low-cardinality key —
    # map-side combine reduces each partition to <=|sources| rows first)
    "corpus_health_by_source": 1,
    # stupid-backoff LM: 3 reference count-table aggs + trained-trigram
    # ctx join + distinct-types exchange + types-side lookup joins (the
    # count tables broadcast at this SF; at corpus scale they shuffle on
    # the gram, which is the published serving shape) + occurrence join +
    # doc_id rollup
    "quality_lm_perplexity": 9,
    # same chain persisted once (plan_audit dedups the cached block) +
    # the metadata-sized histogram/cumsum exchanges + broadcast cuts
    "quality_lm_ppl_buckets": 9,
    # the bucket chain with source riding the doc rollup (no extra
    # corpus exchange) + ONE exchange on the low-cardinality source key
    "corpus_health_lm_by_source": 10,
    "rollup_events_multires": 2,  # 1-min grain agg + 5-min cascade: two keyed exchanges
    "scalar_affine_pixel": 0,
    "scalar_clean_filter": 0,
    "scalar_datetime_parts": 0,
    "scalar_ecef": 0,
    "scalar_haversine_step": 1,
    "scalar_json_extract": 0,
    "scalar_rot_decode": 0,
    "scalar_spike_ffill": 1,
    "scalar_string_funcs": 0,
    "scalar_ts_z_roundtrip": 0,
    "scalar_variant_extract": 0,
    "scalar_wkt_extract": 0,
    "setop_except_customers": 1,
    "setop_intersect_nations": 1,
    "setop_union_nations": 1,
    "sim_lsh_pairs": 1,
    "sim_lsh_pairs_banded": 2,  # band-bucket groupBy + cross-band distinct
    "sim_lsh_pairs_banded_scaled": 2,  # same plan, corpus-scaled (planes, bands)
    "sim_lsh_pairs_banded_neardup": 2,  # same plan at the 0.7 near-dup threshold
    # r9: +3 over the r8 budget of 5 for the hierarchical packing stage
    # (see pack_token_budget); the survivor chain itself is persisted and
    # audited once (plan_audit dedups cached blocks).
    "pipeline_curation_full": 8,
    "curation_report": 5,  # stage verdicts computed once, joined on doc_id, one conditional agg
    "text_dup_spans": 2,  # window-text count + doc_id rollup; dup-gram set joins broadcast at this SF
    "text_dup_spans_hashed": 2,  # same plan keyed on xxhash64(window): 8-byte exchange
    "text_dup_spans_strip": 2,  # window count + dup-START rollup; start-lists join broadcast
    "text_dup_spans_strip_hashed": 2,  # same plan keyed on xxhash64(window): 8-byte exchange
    # BM25: query-term IN-filter BEFORE the (doc,term) exchange, |Q|-row
    # IDF agg, broadcast joins, TakeOrderedAndProject top-k
    "text_bm25_topk": 1,  # r14 postings layout: pruned scan -> per-doc sum
    # the multi-query twin: same pre-filtered plan over the UNION of all
    # queries' terms + ONE extra exchange for the per-query rank window
    # (partitioned by query_id — more queries add partitions, not passes)
    "text_bm25_multi_topk": 2,  # r14 postings layout
    "text_bm25_filtered_topk": 1,  # r14: predicate inside the pruned postings scan
    "text_qld_topk": 3,  # r14: candidates distinct + grid join + per-doc sum
    "text_qld_multi_topk": 4,  # r15: + the per-query rank window exchange
    "text_qld_filtered_topk": 3,  # r15: same shape as the single QLD, filtered candidates
    "retrieval_hybrid_rrf_multi_streamed": 9,  # r15: multi's 8 + the streamed stats agg
    "stream_text_index_ingest": 2,  # r14: streamed-postings probe (df agg + per-doc sum)
    # RRF: BM25's plan + dense TakeOrdered candidate gen; the fusion
    # windows/outer-join run on <=50-row frames
    "retrieval_hybrid_rrf": 1,  # r14 postings layout sparse arm
    # same fusion with the partition-pruned IVF-PQ+rerank dense arm
    "retrieval_hybrid_rrf_ann": 1,  # r14 postings layout sparse arm
    # batched fusion = batched dense (3) + batched BM25 (6) + the
    # full-outer SMJ on (query_id, id) over <=2*CAND-row-per-query
    # frames (2) + the per-query fusion rank window (1) — every
    # exchange after the two corpus passes carries ranks, not data
    "retrieval_hybrid_rrf_multi": 8,  # r14 postings layout sparse arm
    "retrieval_hybrid_rrf_multi_filtered": 8,  # r14: filters ride existing scans/broadcasts
    # batched serving: query_id-fanned candidate exchange + per-query
    # shortlist and top-k rank windows (query_id-partitioned)
    "sim_topk_ivfpq_multi": 3,
    "sim_topk_ivfpq_multi_filtered": 3,  # r14: filter axis rides the same batched plan
    # funnel survivor chain + DSIR weights (3) + zero-shuffle top-k
    # selection + pack over the persisted k-row selected frame
    "pipeline_curation_dsir": 7,

    "dedup_semantic_cells": 1,  # one exchange on (cell, ba, bb) task key; tasks exploded per row, no driver task table
    "emb_pq_encode_fixed": 0,  # shipped codebook: pure per-row exprs
    "sim_pq_topk": 0,  # ADC lookups vs literal tables + TakeOrderedAndProject
    "sim_pq_topk_fixed": 0,  # shipped codebook: scan + TakeOrderedAndProject
    "sim_topk_bruteforce": 0,
    "sim_topk_ivf": 0,
    "sim_topk_ivf_pruned": 0,  # partition-pruned scan + TakeOrderedAndProject
    "sim_topk_ivfpq_fixed": 0,  # coarse cell broadcast-semi + ADC, no exchange
    "sim_topk_ivfpq_pruned": 0,  # partition-pruned scan of code cols + ADC
    "sim_pq_topk_rerank_fixed": 0,  # codes scan -> top-R -> broadcast join raw scan
    "sim_topk_ivfpq_rerank_pruned": 0,  # pruned codes scan -> top-R -> pruned raw fetch
    "sim_topk_ivfpq_filtered": 0,  # same plan with the label predicate inside both pruned scans
    "sim_topk_ivfpq_rerank_incr": 0,  # same probe over the epoch-appended layout
    "stream_ann_index_ingest": 0,  # probe over the stream-ingested index (ingest runs eagerly)
    # the one exchange is dropDuplicates over the TakeOrdered shortlist —
    # a <= RERANK*SPILL-row frame, never the corpus
    "sim_topk_ivfpq_rerank_spill": 1,
    "sim_topk_kmeans_ivf": 0,
    "sim_topk_kmeans_ivf_fixed": 0,
    "sim_topk_pandas": 0,
    "sort_top20_orders": 0,  # TakeOrderedAndProject, no range exchange
    "split_train_val_test": 1,
    # the returned frame scans the completed streaming job's verdict
    # parquet (the job itself runs eagerly at call time; its per-batch
    # plans are micro-batch-sized by construction)
    "stream_curation_verdicts": 0,
    "stream_gap_fill": 1,
    "stream_session_windows": 1,
    "stream_sliding_avg": 1,
    "stream_sliding_per_key": 1,
    "text_fingerprint": 0,
    "text_idf_profile": 3,  # token-distinct, vocab df, per-doc rollup
    "text_quality_gopher": 2,  # token/bigram counts + per-doc rollup, both keyed on doc_id
    "text_repetition_profile": 2,  # (doc,tok) counts + per-doc rollup; bigram side joins broadcast
    "text_lang_id": 0,
    "text_stats": 0,
    "text_token_rolling": 0,
    "window_lead_lag_orders": 1,
    "window_rank_parts": 1,
    "window_running_sum": 1,
    # r12 tokenizer family: train returns the collected 8-row merge
    # table (iteration jobs run at build time — word-count exchange +
    # 8 vocabulary-sized pair-count exchanges, driver-side argmax like
    # the IRLS/k-means convention); encode = one corpus exchange
    # (map-side-combined groupBy doc_id) + the seed vocab exchange
    # inside the persisted chain; chunking is a pure map stage.
    "tokenizer_bpe_train": 0,
    "tokenizer_bpe_encode": 2,
    "tokenizer_bpe_encode_fixed": 2,  # same shape, zero training jobs
    "chunk_fixed_tokens": 0,
    # two-phase salted top-K: (source, salt) exchange + the pruned
    # source-keyed exchange (<= 8*K rows per source)
    "curation_domain_cap": 2,
    # chunk (map-only) -> hierarchical pack: (lang,bkt) totals agg +
    # metadata offsets window + within-bucket windows
    "pipeline_chunk_pack": 3,
}

# Queries whose current plan pushes ≥1 predicate into a parquet scan —
# these must never lose pushdown.
MUST_PUSH_FILTER = {
    "agg_pricing_summary",
    "decontam_ngram_overlap",
    "decontam_ngram_overlap_w8",
    "decontam_bloom_prefilter_w8",
    "dedup_embedding_cosine",
    "dedup_semantic_cells",
    "join_anti_no_urgent_order",
    "join_asof_last_click",
    "join_asof_nearest_click",
    "join_asof_next_click",
    "join_left_outer_counts",
    "join_range_price_bands",
    "join_regional_revenue",
    "join_salted_revenue",
    "join_semi_high_value",
    "join_topk_orders",
    "pipeline_predict_trained",  # holdout predicate pushes through the window
    # "pipeline_preprocess_full" REMOVED r15: the scan-level pushdown it
    # pinned was a pathology, not a win — Catalyst pushed the clean-filter
    # predicates below the wire-format decode by substituting the ENTIRE
    # to_json→from_json chain into each one (5 extra parse+encode copies
    # per row, all evaluated in the single-core scan stage; see
    # plans/r15/pipeline_preprocess_full_before.txt Filter(2)). The r15
    # Generate barrier in schemas.decode_json_envelope makes the wire
    # value parse exactly ONCE; the filter still runs, post-parse
    # (plans/r15/..._after.txt Filter(6)), measured 2.36s → 1.37s with
    # identical output. Nothing prunable is lost: every predicate is over
    # values derived from the full row, so parquet row-group pruning was
    # never in play.
    "quality_lm_perplexity",  # IsNotNull(text) reaches every documents scan
    "quality_lm_ppl_buckets",
    "corpus_health_lm_by_source",
    "text_bm25_topk",
    "text_bm25_multi_topk",
    "text_bm25_filtered_topk",
    "text_qld_topk",
    "stream_text_index_ingest",
    "retrieval_hybrid_rrf_multi_filtered",
    "tokenizer_bpe_encode",  # IsNotNull(text) reaches both documents scans
    "tokenizer_bpe_encode_fixed",
    "retrieval_hybrid_rrf_ann",
    "retrieval_hybrid_rrf_multi",
    "sim_topk_ivfpq_multi",
    "sim_topk_ivfpq_filtered",  # the label predicate must stay in the scan
    "sim_topk_ivfpq_multi_filtered",  # same, composed onto the batch axis
    "retrieval_hybrid_rrf",
    "rollup_events_multires",
    "scalar_clean_filter",
    "setop_except_customers",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "sim_topk_ivfpq_fixed",
    "sim_topk_kmeans_ivf",
    "sim_topk_kmeans_ivf_fixed",
    "stream_session_windows",
    "stream_sliding_avg",
    "stream_sliding_per_key",
    "window_lead_lag_orders",
    "window_running_sum",
}

MAX_SCAN_COLS = 8

# PQ-code scans legitimately read _PQ_SUBS narrow int columns (r12 shipped
# config: 32 sub-quantizers) plus vec_id/cell — every one of those columns
# is consumed by the ADC expression, so the wide scan IS the pruned scan.
# The raw `embedding` column must still be absent from code scans (the
# rerank twins read it in a separate 2-column scan); that is asserted by
# test_pruned_probe_reads_only_probed_partitions in test_ann_deployment.py.
PQ_CODE_SCAN_QUERIES = {
    "emb_pq_encode",
    "emb_pq_encode_fixed",
    "sim_pq_topk",
    "sim_pq_topk_fixed",
    "sim_pq_topk_rerank_fixed",
    "sim_topk_ivfpq_fixed",
    "sim_topk_ivfpq_pruned",
    "sim_topk_ivfpq_rerank_pruned",
    "sim_topk_ivfpq_rerank_spill",
    "retrieval_hybrid_rrf_ann",  # its dense arm reads the codes layout
    "sim_topk_ivfpq_multi",  # the batched probe reads the same layout
    "retrieval_hybrid_rrf_multi",  # its dense arm is the batched probe
    "sim_topk_ivfpq_rerank_incr",  # same codes layout + the epoch partition col
    "stream_ann_index_ingest",  # same layout, built by the ingest stream
    "retrieval_hybrid_rrf_multi_streamed",  # r15: dense arm reads the streamed codes layout
}
MAX_PQ_SCAN_COLS = 32 + 2  # c0..c31 + vec_id + cell

# The filtered probe legitimately reads ONE more column: the label
# predicate is evaluated inside the pruned codes scan (that is the
# feature), so its code scan is c0..c31 + vec_id + cell + label.
FILTERED_PQ_SCAN_QUERIES = {
    "sim_topk_ivfpq_filtered",
    "sim_topk_ivfpq_multi_filtered",  # r14: codes scan + label, batched
    "retrieval_hybrid_rrf_multi_filtered",  # r14: same filtered batched dense arm
}
MAX_FILTERED_PQ_SCAN_COLS = MAX_PQ_SCAN_COLS + 1

# The streaming-verdict gate query returns its job's OWN output parquet —
# all 9 verdict columns are the payload, so the full-width read IS the
# pruned read.
FULL_PAYLOAD_SCAN_QUERIES = {"stream_curation_verdicts"}
MAX_PAYLOAD_SCAN_COLS = 9 + 1  # 9 verdict columns + the epoch partition col


@pytest.fixture(scope="module")
def plan_stats(spark):
    qs = all_queries()
    return {name: audit(fn(spark, SF)) for name, fn in qs.items()}


def test_budget_covers_whole_registry(plan_stats):
    assert set(plan_stats) == set(SHUFFLE_BUDGET), (
        "registry and budget table diverged; re-run "
        "`python tools/plan_audit.py` and update SHUFFLE_BUDGET"
    )


def test_no_unexpected_nested_loop_joins(plan_stats):
    offenders = {
        name: a["joins"]
        for name, a in plan_stats.items()
        if "BroadcastNestedLoopJoin" in a["joins"] and name not in BNLJ_OK
    }
    assert not offenders, f"O(n*m) join crept in: {offenders}"


def test_shuffle_counts_within_budget(plan_stats):
    over = {
        name: (a["shuffles"], SHUFFLE_BUDGET[name])
        for name, a in plan_stats.items()
        if a["shuffles"] > SHUFFLE_BUDGET[name]
    }
    assert not over, f"shuffle regressions (got, budget): {over}"


def test_filter_pushdown_preserved(plan_stats):
    lost = {
        name
        for name in MUST_PUSH_FILTER
        if not any(pushed for _, pushed in plan_stats[name]["scans"])
    }
    assert not lost, f"queries that stopped pushing filters into scans: {lost}"


def test_scan_column_pruning(plan_stats):
    wide = {
        name: [n for n, _ in a["scans"] if n > limit]
        for name, a in plan_stats.items()
        for limit in (
            MAX_PQ_SCAN_COLS
            if name in PQ_CODE_SCAN_QUERIES
            else MAX_FILTERED_PQ_SCAN_COLS
            if name in FILTERED_PQ_SCAN_QUERIES
            else MAX_PAYLOAD_SCAN_COLS
            if name in FULL_PAYLOAD_SCAN_QUERIES
            else MAX_SCAN_COLS,
        )
        if any(n > limit for n, _ in a["scans"])
    }
    assert not wide, f"scans reading too many columns (pruning lost): {wide}"
