"""Registry hygiene pins."""

from __future__ import annotations

from streaming_data_pipeline_capstone_spark import registry


def test_sample_first_names_all_resolve():
    """Every must-sample name must be a registered query — a stale name
    silently shrinks the driver's correctness-sample coverage (the r10
    stream_curation_verdicts delivery bug hid behind exactly this)."""
    qs = registry.all_queries()
    stale = set(registry.sample_first()) - set(qs)
    assert not stale, f"_SAMPLE_FIRST names not registered: {sorted(stale)}"


def test_conditional_names_are_declared():
    """Conditionally-registered names (artifact-gated) must be the ONLY
    ones sample_first() may drop relative to the raw list — anything else
    missing is a stale entry, not a bootstrap state."""
    dropped = set(registry._SAMPLE_FIRST) - set(registry.sample_first())
    assert dropped <= {"tokenizer_bpe_encode_fixed"}, dropped


def test_every_query_has_an_oracle():
    """The repo convention: every registered query ships a DuckDB twin
    (genuinely non-SQL-expressible ops would be registered oracle-less by
    design — none currently are; update this pin if one ever is)."""
    qs, oracles = registry.all_queries(), registry.all_oracles()
    assert set(qs) == set(oracles)


def test_scoped_persists_release_zero_storage(spark, sf_smoke):
    """The scoped-persist leak: queries whose returned frame depends on a
    persisted intermediate (LM buckets, DSIR funnels, minhash dedup) must
    not accumulate executor storage across a long-lived session. Running
    each through the registry releases the previous query's caches, and a
    final release leaves ZERO persistent RDDs."""
    from streaming_data_pipeline_capstone_spark.cache import release_scoped

    qs = registry.all_queries()
    release_scoped()
    spark.catalog.clearCache()
    for name in (
        "quality_lm_ppl_buckets",
        "pipeline_curation_dsir",
        "dedup_minhash_lsh",
        "pipeline_curation_full",
    ):
        qs[name](spark, sf_smoke).count()
    release_scoped()
    leaked = spark.sparkContext._jsc.sc().getPersistentRDDs()
    assert leaked.size() == 0, f"leaked {leaked.size()} persistent RDDs"
