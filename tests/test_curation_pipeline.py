"""Cross-query contracts for the end-to-end curation funnel — the
properties the per-query DuckDB twins can't see (each stage's oracle
verifies its own output; these verify the COMPOSITION)."""

from __future__ import annotations

from streaming_data_pipeline_capstone_spark.registry import all_queries


def test_funnel_counts_monotone_and_consistent(spark, sf_oracle):
    qs = all_queries()
    report = {
        r["stage"]: r["n_docs"]
        for r in qs["curation_report"](spark, sf_oracle).collect()
    }
    assert set(report) == {
        "total",
        "eval_slice",
        "after_dedup",
        "after_quality",
        "after_decontam",
    }
    # each stage can only shrink the corpus
    assert report["total"] >= report["after_dedup"] >= report["after_quality"]
    assert report["after_quality"] >= report["after_decontam"]
    assert 0 < report["eval_slice"] < report["total"]
    # the fixture corpus must actually exercise every stage
    assert report["after_decontam"] > 0

    # the packed bins partition the survivor set exactly
    bins = qs["pipeline_curation_full"](spark, sf_oracle).collect()
    assert sum(r["n_docs"] for r in bins) == report["after_decontam"]


def test_pack_bins_hierarchical_is_bit_identical_to_single_window(spark, sf_oracle):
    """The two-level prefix sum (r9: langs × buckets concurrent tasks)
    must produce bin assignments BIT-IDENTICAL to the naive
    Window.partitionBy(lang).orderBy(doc_id) running sum it replaces —
    the prefix sum is exact integer arithmetic, associatively regrouped.
    Checked at the doc level (before the rollup) so a mis-bucketed doc
    can't cancel out inside an aggregate, and with a deliberately tiny
    bucket width so many buckets (and bucket boundaries mid-language)
    are actually exercised."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _PACK_BUDGET,
        _pack_bins,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    t = read_table(spark, sf_oracle, "documents").select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tok")
    )
    got = _pack_bins(t, bucket_width=7)  # ~70 buckets over the 500-doc fixture
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = t.withColumn(
        "bin_id",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / _PACK_BUDGET).cast(
            "bigint"
        ),
    )
    got_rows = sorted(tuple(r) for r in got.select(*want.columns).collect())
    want_rows = sorted(tuple(r) for r in want.collect())
    assert got_rows == want_rows
    assert len({r[3] for r in want_rows}) > 1, "fixture must span multiple bins"


def test_pack_token_budget_running_sum_is_parallel(spark, sf_oracle):
    """The scale property the r8 verdict flagged: the doc-level running
    sum must NOT be partitioned by lang alone (one task per language).
    Pin it structurally — the executed plan's within-bucket window
    partitions on (lang, bkt), and the fixture actually spreads each
    language across many buckets."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _doc_bucket_width,
        _pack_bins,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    t = read_table(spark, sf_oracle, "documents").select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tok")
    )
    width = _doc_bucket_width(spark, sf_oracle)
    binned = _pack_bins(t, width)
    binned.count()
    plan = binned._jdf.queryExecution().executedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    doc_level = [s for s in specs if "doc_id" in s]
    assert doc_level, f"no doc-level window in plan:\n{plan[:2000]}"
    assert all("bkt" in s for s in doc_level), (
        "doc-level running sum must partition by (lang, bkt), got: "
        f"{doc_level}"
    )
    # and the coarse key actually fans each language out
    groups = (
        t.withColumn("bkt", F.floor(F.col("doc_id") / width))
        .select("lang", "bkt")
        .distinct()
        .count()
    )
    langs = t.select("lang").distinct().count()
    assert groups >= 4 * langs


def test_dup_spans_hashed_row_identical(spark, sf_oracle):
    """The xxhash64-keyed exchange is a physical change only: at the gate
    corpus (no 64-bit collisions among ~20k windows) the hashed variant
    must return exactly the text-keyed profile."""
    qs = all_queries()
    text_rows = sorted(
        tuple(r) for r in qs["text_dup_spans"](spark, sf_oracle).collect()
    )
    hashed_rows = sorted(
        tuple(r) for r in qs["text_dup_spans_hashed"](spark, sf_oracle).collect()
    )
    assert text_rows == hashed_rows
    assert any(r[2] > 0 for r in text_rows), "fixture should contain dup spans"


def test_checkpointed_funnel_row_identical(spark, sf_oracle, tmp_path):
    """The production execution shape (stage verdicts checkpointed to
    parquet between jobs) must return exactly the single-plan funnel's
    bins — only execution boundaries move, never semantics."""
    from streaming_data_pipeline_capstone_spark.plans.curation_ckpt import (
        run_checkpointed_funnel,
    )

    qs = all_queries()
    single = sorted(
        tuple(r) for r in qs["pipeline_curation_full"](spark, sf_oracle).collect()
    )
    ckpt = sorted(
        tuple(r)
        for r in run_checkpointed_funnel(
            spark, sf_oracle, str(tmp_path), plant=True
        ).collect()
    )
    assert single == ckpt
    assert len(single) > 0


def test_dup_spans_strip_removes_every_duplicated_window(spark, sf_oracle):
    """Lee et al. semantics: after stripping, NO window flagged as
    duplicated in the original corpus survives anywhere. Recompute the
    w=15 windows of every stripped text and intersect with the original
    duplicated-window set (computed independently, driver-side — the
    fixture is 500 docs). Also: strip is consistent with the profile
    (docs with zero dup windows keep every token) and actually fires."""
    from collections import Counter

    from streaming_data_pipeline_capstone_spark.queries.curation import _SPAN_W
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    qs = all_queries()
    docs = read_table(spark, sf_oracle, "documents").select("doc_id", "text").collect()

    def windows(toks):
        return [
            " ".join(toks[i : i + _SPAN_W])
            for i in range(len(toks) - _SPAN_W + 1)
        ]

    counts = Counter(
        g for r in docs for g in windows(r["text"].strip().lower().split())
    )
    dup = {g for g, c in counts.items() if c > 1}
    assert dup, "fixture must contain duplicated spans"

    stripped = {r["doc_id"]: r for r in qs["text_dup_spans_strip"](spark, sf_oracle).collect()}
    assert len(stripped) == len(docs)
    for r in stripped.values():
        for g in windows(r["text_stripped"].split()):
            assert g not in dup, f"doc {r['doc_id']} still contains a dup window"

    profile = {r["doc_id"]: r for r in qs["text_dup_spans"](spark, sf_oracle).collect()}
    n_stripped_docs = 0
    for doc_id, r in stripped.items():
        p = profile[doc_id]
        assert r["n_tokens"] >= r["n_kept_tokens"]
        if p["n_dup_windows"] == 0:
            assert r["n_kept_tokens"] == r["n_tokens"]
        else:
            assert r["n_kept_tokens"] < r["n_tokens"]
            n_stripped_docs += 1
    assert n_stripped_docs > 0


def test_dup_spans_strip_hashed_row_identical(spark, sf_oracle):
    """The xxhash64-keyed strip (r10) is a physical change only: at the
    gate corpus (no 64-bit collisions) it must return exactly the
    text-keyed strip, including the stripped text itself."""
    qs = all_queries()
    text_rows = sorted(
        tuple(r) for r in qs["text_dup_spans_strip"](spark, sf_oracle).collect()
    )
    hashed_rows = sorted(
        tuple(r)
        for r in qs["text_dup_spans_strip_hashed"](spark, sf_oracle).collect()
    )
    assert text_rows == hashed_rows
    assert any(r[1] > r[2] for r in text_rows), "fixture should strip something"


def test_dsir_funnel_selection_matches_standalone_stages(spark, sf_oracle):
    """pipeline_curation_dsir adds no semantics of its own: the selected
    set must be exactly the Gumbel-top-k of the standalone DSIR weights
    restricted to the standalone survivor set, and the packed bins must
    partition exactly those docs."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _DSIR_TAKE,
        _MICRO,
        _MIX_MULT,
        _MIX_SPACE,
        _dsir_selected_survivors,
        _survivors,
    )

    import math

    qs = all_queries()
    surv = {
        r["doc_id"]
        for r in _survivors(spark, sf_oracle, plant=True).select("doc_id").collect()
    }
    weights = {
        r["doc_id"]: r["log_w_micro"]
        for r in qs["mixture_dsir_weights"](spark, sf_oracle).collect()
    }

    def score(doc_id):
        u = (((doc_id % _MIX_SPACE) * _MIX_MULT) % _MIX_SPACE + 0.5) / _MIX_SPACE
        return weights[doc_id] + round(-math.log(-math.log(u)) * _MICRO)

    cand = [d for d in surv if d in weights]
    expect = set(sorted(cand, key=lambda d: (-score(d), d))[:_DSIR_TAKE])
    sel = {
        r["doc_id"]
        for r in _dsir_selected_survivors(spark, sf_oracle, plant=True).collect()
    }
    assert sel == expect
    assert len(sel) == _DSIR_TAKE
    assert sel < surv, "selection must be a proper subset of survivors"

    bins = qs["pipeline_curation_dsir"](spark, sf_oracle).collect()
    assert sum(r["n_docs"] for r in bins) == len(sel)


def test_decontam_w8_plant_flags_exactly_the_carriers(spark, sf_oracle):
    """The planted w=8 contamination (r10) must flag exactly the non-eval
    carrier docs (doc_id % _PLANT_MOD == 0) — plus any doc genuinely
    sharing a verbatim 8-gram with the eval slice, of which the gate
    corpus has none (that vacancy is why the plant exists)."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _EVAL_MOD,
        _PLANT_MOD,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    qs = all_queries()
    flagged = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in qs["decontam_ngram_overlap_w8"](spark, sf_oracle).collect()
    }
    all_ids = {
        r["doc_id"]
        for r in read_table(spark, sf_oracle, "documents").select("doc_id").collect()
    }
    carriers = {
        d for d in all_ids if d % _PLANT_MOD == 0 and d % _EVAL_MOD != 0
    }
    assert carriers, "fixture must contain planted carriers"
    assert carriers <= set(flagged)
    for d in carriers:
        assert flagged[d] >= 1


def test_unplanted_funnel_keeps_the_plant_carriers(spark, sf_oracle):
    """The PRODUCTION funnel (plant=False,
    the default) must not drop docs because of gate instrumentation. On
    the gate corpus — which has no natural w8 contamination — the
    unplanted survivor set is exactly the planted one plus the carriers
    (doc_id % _PLANT_MOD == 0) that pass every other stage, and the
    unplanted bins partition that larger set."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _EVAL_MOD,
        _PLANT_MOD,
        _survivors,
        curation_funnel_bins,
    )

    planted = {
        r["doc_id"]
        for r in _survivors(spark, sf_oracle, plant=True).select("doc_id").collect()
    }
    natural = {
        r["doc_id"]
        for r in _survivors(spark, sf_oracle).select("doc_id").collect()
    }
    assert planted < natural, "plant must be the only difference, and real"
    extra = natural - planted
    assert extra and all(
        d % _PLANT_MOD == 0 and d % _EVAL_MOD != 0 for d in extra
    ), f"unexpected non-carrier docs only in the unplanted funnel: {extra}"

    bins = curation_funnel_bins(spark, sf_oracle).collect()
    assert sum(r["n_docs"] for r in bins) == len(natural)


def test_funnel_stage_membership_matches_stage_queries(spark, sf_oracle):
    """A document survives the funnel iff it passes every individual
    stage query — the composition adds no semantics of its own."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _EVAL_MOD,
        _survivors,
    )

    qs = all_queries()
    surv = {
        r["doc_id"]
        for r in _survivors(spark, sf_oracle, plant=True).select("doc_id").collect()
    }
    dd = {
        r["doc_id"]
        for r in qs["dedup_keep_list"](spark, sf_oracle).filter("keep").collect()
    }
    qok = {
        r["doc_id"]
        for r in qs["quality_filter_composite"](spark, sf_oracle)
        .filter("keep")
        .collect()
    }
    cont = {
        r["doc_id"] for r in qs["decontam_ngram_overlap_w8"](spark, sf_oracle).collect()
    }
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    all_ids = {
        r["doc_id"]
        for r in read_table(spark, sf_oracle, "documents")
        .select("doc_id")
        .collect()
    }
    expect = {
        d
        for d in all_ids
        if d % _EVAL_MOD != 0 and d in dd and d in qok and d not in cont
    }
    assert surv == expect


def test_bloom_prefilter_row_identical_and_selective(spark, sf_oracle):
    """The Bloom-prefiltered decontam must return EXACTLY the plain w8
    query's rows (the bitmap is a performance device, never a semantics
    device), and the prefilter must actually prefilter: the sliver
    reaching the exact join must be a small fraction of the corpus gram
    stream (at the gate's ~0.5% bitmap load, survivors ≈ true overlaps
    plus sub-percent false positives)."""
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _DECON_N_W8,
        _EVAL_MOD,
        _gram_bit_cols,
        _planted_text,
        _strict_ngrams,
    )
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    qs = all_queries()
    plain = sorted(
        (r.doc_id, r.n_shared_ngrams)
        for r in qs["decontam_ngram_overlap_w8"](spark, sf_oracle).collect()
    )
    bloom = sorted(
        (r.doc_id, r.n_shared_ngrams)
        for r in qs["decontam_bloom_prefilter_w8"](spark, sf_oracle).collect()
    )
    assert bloom == plain and len(bloom) > 0

    docs = read_table(spark, sf_oracle, "documents")
    with_t = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(_planted_text())), r"\s+").alias("t"),
    )
    grams = with_t.select(
        "doc_id",
        F.explode(_strict_ngrams(F.col("t"), _DECON_N_W8)).alias("gram"),
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    word, bit = _gram_bit_cols()
    bitmap = (
        grams.filter(is_eval)
        .select("gram")
        .distinct()
        .select(word, bit)
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("mask"))
    )
    corpus = grams.filter(~is_eval)
    total = corpus.count()
    surv = (
        corpus.select("doc_id", "gram", word, bit)
        .join(F.broadcast(bitmap), "word")
        .filter(F.expr("(shiftright(mask, bit) & 1) = 1"))
        .count()
    )
    assert surv < 0.05 * total, (surv, total)
