"""n-gram language-model perplexity filtering — the CCNet-style quality
signal (Wenzek et al. 2020: score every document with a LM trained on a
high-quality reference corpus; low perplexity ≈ fluent prose, high
perplexity ≈ boilerplate/gibberish) with the LM itself being Brants et
al. 2007's *stupid backoff* trigram model — the scheme published exactly
for this regime (count-based, trained and served with distributed
joins, no normalization pass over the vocabulary).

Model (all counts from the REFERENCE slice, the same deterministic
``doc_id % _EVAL_MOD == 0`` stand-in slice DSIR uses as its target
distribution — in production this is Wikipedia/books):

    S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)          if c(w1 w2 w3) > 0
                  = 0.4 · c(w2 w3) / c(w2)           elif c(w2 w3) > 0
                  = 0.4² · (c(w3) + 1) / (N + V)     otherwise

(the trigram's prefix bigram is guaranteed counted whenever the trigram
is, so the first branch never divides by null; the add-one unigram floor
absorbs out-of-vocabulary words). Per-document score = mean trigram
negative-log-likelihood; ppl = exp(mean NLL).

Cross-engine determinism: each occurrence's log-score is rounded ONCE to
integer micro-nats (``round(ln(s)·1e6) → BIGINT``); per-doc totals are
INTEGER sums — bit-identical under any aggregation order in both
engines (the mixture_dsir_weights convention). The bucket query goes
further and stays integer end-to-end: thresholds are computed on a
milli-nat histogram with integer cumulative counts, so not even a float
comparison separates the engines.

100 TB shape (the reason the plan is shaped the way it is):

- the count tables are gram-keyed aggregations of the REFERENCE slice —
  a fixed, small fraction of the corpus. They shuffle on the gram (high
  cardinality, skew-bounded by Zipf: the heaviest token is ~5% of
  occurrences) once at training time and are reusable across queries.
- scoring joins happen per distinct trigram TYPE, not per occurrence:
  the corpus's distinct-trigram frame is deduped first (one exchange),
  the 4 count-table lookups run against that (types are ~an order
  smaller than occurrences, and the join keys are all derived from the
  trigram string itself — one frame, no re-tokenization), and only the
  final (g3 → log-score) table — one column wider than the types frame
  — joins back to the occurrence stream. That last join and the doc_id
  rollup are the only corpus-sized exchanges.
- nothing collects: N/V ride as a broadcast 1-row metadata frame, the
  bucket thresholds as a broadcast ≤3-row frame cut from a bounded
  (≤ ~20k-bin) milli-nat histogram — CCNet's own histogram-cutoff
  methodology, which unlike exact percentiles needs no global sort and
  no driver-side value collection at any corpus size.

Reference parity: the reference repo has no LM filter (its quality ops
end at rule-based cleaning, `preprocess.py`); this module is part of the
LLM-training-data mandate (curation operators a 100 TB pretraining
pipeline needs) like queries/curation.py's DSIR/decontam family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
from streaming_data_pipeline_capstone_spark.queries.curation import _EVAL_MOD
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

_BACKOFF = 0.4          # Brants et al.'s published constant
_MICRO = 1_000_000      # integer micro-nats fixed point (DSIR convention)
_BIN = 1_000            # bucket histogram bin width: milli-nats of mean NLL


def _grams_df(
    spark: SparkSession, sf_dir: str, extra: tuple = ()
) -> DataFrame:
    """(doc_id, *extra, is_ref, t) with t the normalized whitespace
    tokens; ``extra`` names further document columns to carry (e.g.
    ``source`` for per-source rollups — riding the existing doc-keyed
    frames costs nothing, a separate doc→source join would be one more
    corpus-sized exchange)."""
    # NO spread_small_input here (r15 A/B): the same five consumers that
    # motivated spreading each RE-EVALUATE this frame, so each re-pays the
    # round-robin exchange + its sortBeforeRepartition — measured
    # corpus_health_lm_by_source 5.4 s spread vs 2.9 s unspread and
    # quality_lm_perplexity 1.65 vs 1.40 at sf0.1. The partial aggs that
    # follow each explode collapse rows before any shuffle either way.
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        *extra,
        (F.col("doc_id") % _EVAL_MOD == 0).alias("is_ref"),
        tokens("text").alias("t"),
    )


def _ngram_col(tt, n: int):
    """Array of space-joined n-grams of the token array (empty if < n)."""
    full = F.transform(tt, lambda x, i: F.array_join(F.slice(tt, i + 1, n), " "))
    return F.slice(full, F.lit(1), F.greatest(F.size(tt) - (n - 1), F.lit(0)))


def _lm_score_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g3, lp_micro): integer micro-nat log stupid-backoff score for every
    distinct trigram TYPE in the scored (non-reference) corpus."""
    base = _grams_df(spark, sf_dir)
    tt = F.col("t")
    ref = base.filter("is_ref")
    # reference count tables (training): gram-keyed aggregations
    tri_c = (
        ref.select(F.explode(_ngram_col(tt, 3)).alias("g3"))
        .groupBy("g3")
        .agg(F.count("*").alias("c3"))
    )
    bi_c = (
        ref.select(F.explode(_ngram_col(tt, 2)).alias("g2"))
        .groupBy("g2")
        .agg(F.count("*").alias("c2"))
    )
    uni_c = (
        ref.select(F.explode(tt).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    nv = uni_c.agg(
        F.sum("c1").cast("double").alias("n_tok"),
        F.count("*").cast("double").alias("v_tok"),
    )
    # distinct trigram types of the SCORED corpus; every join key below is
    # derived from the trigram string itself (tokens contain no whitespace,
    # so splitting on ' ' recovers them exactly)
    types = (
        base.filter(~F.col("is_ref"))
        .select(F.explode(_ngram_col(tt, 3)).alias("g3"))
        .distinct()
    )
    p = F.split(F.col("g3"), " ")
    typed = types.select(
        "g3",
        F.array_join(F.slice(p, 1, 2), " ").alias("ctx"),
        F.array_join(F.slice(p, 2, 2), " ").alias("b23"),
        p.getItem(1).alias("w2"),
        p.getItem(2).alias("w3"),
    )
    # the trained trigram table carries its own context count (ref-side
    # join — prefix bigram existence is guaranteed by construction)
    tri_j = tri_c.join(
        bi_c.withColumnRenamed("g2", "g3ctx").withColumnRenamed("c2", "c2ctx"),
        F.array_join(F.slice(F.split(F.col("g3"), " "), 1, 2), " ")
        == F.col("g3ctx"),
        "inner",
    ).select("g3", "c3", "c2ctx")
    scored = (
        typed.join(tri_j, "g3", "left")
        .join(bi_c.withColumnRenamed("g2", "b23").withColumnRenamed("c2", "c23"), "b23", "left")
        .join(
            uni_c.withColumnRenamed("w", "w2").withColumnRenamed("c1", "c1w2"),
            "w2",
            "left",
        )
        .join(
            uni_c.withColumnRenamed("w", "w3").withColumnRenamed("c1", "c1w3"),
            "w3",
            "left",
        )
        .crossJoin(F.broadcast(nv))
    )
    s = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2ctx").cast("double"),
        )
        .when(
            F.col("c23").isNotNull(),
            F.lit(_BACKOFF) * F.col("c23").cast("double") / F.col("c1w2").cast("double"),
        )
        .otherwise(
            F.lit(_BACKOFF * _BACKOFF)
            * (F.coalesce(F.col("c1w3"), F.lit(0)).cast("double") + 1.0)
            / (F.col("n_tok") + F.col("v_tok"))
        )
    )
    # Cross-engine determinism caveat (documented, not merely assumed):
    # s is an exact double ratio of integer counts, identical in both
    # engines, but ln(s) is computed independently by the JVM and DuckDB
    # libm. Both are correctly-rounded to ≤1 ulp, so lp_micro can only
    # flip if ln(s)·1e6 lands within ~1 ulp of a .5 boundary — for
    # |ln s| ≤ ~20 that window is ~4e-10 wide per boundary, i.e. a ~1e-9
    # chance per distinct trigram TYPE. All gate corpora verify
    # bit-identical. If a flake ever appears, derive lp_micro from the
    # integer counts via a shared fixed-point log (the
    # mixture_dsir_weights convention has the same latent fragility).
    return scored.select(
        "g3", F.round(F.log(s) * _MICRO, 0).cast("bigint").alias("lp_micro")
    )


def _doc_nll(
    spark: SparkSession, sf_dir: str, extra: tuple = ()
) -> DataFrame:
    """(doc_id, *extra, n_tri, nll_micro): per scored doc, trigram count
    and the integer micro-nat negative-log-likelihood total. ``extra``
    document columns ride the occurrence frame and the rollup key
    (doc_id determines them, so the grouping is unchanged)."""
    base = _grams_df(spark, sf_dir, extra)
    occ = base.filter(~F.col("is_ref")).select(
        "doc_id", *extra, F.explode(_ngram_col(F.col("t"), 3)).alias("g3")
    )
    return (
        occ.join(_lm_score_table(spark, sf_dir), "g3")
        .groupBy("doc_id", *extra)
        .agg(
            F.count("*").alias("n_tri"),
            (-F.sum("lp_micro")).alias("nll_micro"),
        )
    )


# shared oracle CTEs: tokenization, trigram occurrences, reference count
# tables, and the per-type stupid-backoff score — the DuckDB mirror of
# _lm_score_table/_doc_nll (identical branch structure, identical one-time
# micro-nat rounding)
_LM_CTES = f"""
    t AS (
      SELECT doc_id, doc_id % {_EVAL_MOD} = 0 AS is_ref,
             string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    g3occ AS (
      SELECT doc_id, is_ref,
             unnest(list_transform(range(1, len(t) - 1),
                    i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g3
      FROM t
    ),
    g2occ AS (
      SELECT doc_id, is_ref,
             unnest(list_transform(range(1, len(t)),
                    i -> array_to_string(list_slice(t, i, i + 1), ' '))) AS g2
      FROM t
    ),
    unocc AS (SELECT doc_id, is_ref, unnest(t) AS w FROM t),
    ref3 AS (SELECT g3, count(*) AS c3 FROM g3occ WHERE is_ref GROUP BY g3),
    ref2 AS (SELECT g2, count(*) AS c2 FROM g2occ WHERE is_ref GROUP BY g2),
    ref1 AS (SELECT w, count(*) AS c1 FROM unocc WHERE is_ref GROUP BY w),
    nv AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_tok,
                  CAST(COUNT(*) AS DOUBLE) AS v_tok FROM ref1),
    ty AS (SELECT DISTINCT g3 FROM g3occ WHERE NOT is_ref),
    typ AS (
      SELECT g3, string_split(g3, ' ') AS p FROM ty
    ),
    sc AS (
      SELECT typ.g3,
             CAST(round(ln(CASE
               WHEN r3.c3 IS NOT NULL
                 THEN CAST(r3.c3 AS DOUBLE) / CAST(r2c.c2 AS DOUBLE)
               WHEN r23.c2 IS NOT NULL
                 THEN {_BACKOFF} * CAST(r23.c2 AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
               ELSE {_BACKOFF * _BACKOFF} * (CAST(coalesce(u3.c1, 0) AS DOUBLE) + 1.0)
                    / (nv.n_tok + nv.v_tok)
             END) * {_MICRO}.0) AS BIGINT) AS lp_micro
      FROM typ
      LEFT JOIN ref3 r3 ON r3.g3 = typ.g3
      LEFT JOIN ref2 r2c ON r2c.g2 = array_to_string(list_slice(typ.p, 1, 2), ' ')
      LEFT JOIN ref2 r23 ON r23.g2 = array_to_string(list_slice(typ.p, 2, 3), ' ')
      LEFT JOIN ref1 u2 ON u2.w = typ.p[2]
      LEFT JOIN ref1 u3 ON u3.w = typ.p[3]
      CROSS JOIN nv
    ),
    nll AS (
      SELECT doc_id, count(*) AS n_tri,
             CAST(-SUM(lp_micro) AS BIGINT) AS nll_micro
      FROM g3occ JOIN sc USING (g3)
      WHERE NOT is_ref
      GROUP BY doc_id
    )
"""


@register(
    "quality_lm_perplexity",
    f"""
    WITH {_LM_CTES}
    SELECT doc_id, n_tri, nll_micro,
           round(exp(CAST(nll_micro AS DOUBLE) / (n_tri * {_MICRO}.0)), 6) AS ppl
    FROM nll
    """,
)
def quality_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score: per non-reference document, trigram
    count, integer micro-nat NLL total, and perplexity under the stupid-
    backoff trigram LM trained on the reference slice. Docs with < 3
    tokens have no trigram and are (by definition) unscored."""
    nll = _doc_nll(spark, sf_dir)
    return nll.select(
        "doc_id",
        "n_tri",
        "nll_micro",
        F.round(
            F.exp(F.col("nll_micro").cast("double") / (F.col("n_tri") * float(_MICRO))),
            6,
        ).alias("ppl"),
    )


@register(
    "quality_lm_ppl_buckets",
    f"""
    WITH {_LM_CTES},
    b AS (
      SELECT doc_id, n_tri, nll_micro,
             (nll_micro // n_tri) // {_BIN} AS bin
      FROM nll
    ),
    hist AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
    cum AS (
      SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum_n,
             SUM(n) OVER () AS tot_n
      FROM hist
    ),
    cuts AS (
      SELECT MIN(CASE WHEN 3 * cum_n >= tot_n THEN bin END) AS t1,
             MIN(CASE WHEN 3 * cum_n >= 2 * tot_n THEN bin END) AS t2
      FROM cum
    )
    SELECT doc_id, bin AS mean_nll_milli_bin,
           CASE WHEN bin <= t1 THEN 'head'
                WHEN bin <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM b, cuts
    """,
)
def quality_lm_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split, integer end-to-end: per-doc mean
    NLL in milli-nat bins, tertile cutoffs from the integer cumulative
    histogram (CCNet computes its cutoffs from a histogram for the same
    reason — no global sort, no exact percentile over the corpus), bucket
    by bin vs cutoffs. The histogram is bounded (≤ ~20k bins at any
    corpus size: mean NLL is bounded by the LM's OOV floor), so the
    cumulative window runs on a metadata-sized frame and the ≤1-row cuts
    frame broadcasts back onto the per-doc stream — zero corpus-sized
    exchanges beyond the NLL rollup itself."""
    return _bucketed_docs(spark, sf_dir).select(
        "doc_id", "mean_nll_milli_bin", "bucket"
    )


def _bucketed_docs(
    spark: SparkSession, sf_dir: str, extra: tuple = ()
) -> DataFrame:
    """(doc_id, *extra, mean_nll_milli_bin, bucket): the shared CCNet
    bucket-assignment chain behind quality_lm_ppl_buckets and the
    per-source health rollup. One definition, so the two queries cannot
    drift (also pinned by tests/test_lm.py's consistency check)."""
    # the bins frame feeds BOTH the histogram and the final bucket
    # assignment; persist it so the expensive NLL chain (count-table
    # joins + doc rollup) executes once, not once per consumer — the
    # same eager-reuse convention as the DSIR funnel's survivor frame.
    # scoped_persist (not bare persist): the returned frame still reads
    # this cache, so the registry releases it when the NEXT query builds
    # — no storage accumulates across a long-lived session (r11 ADVICE).
    from streaming_data_pipeline_capstone_spark.cache import scoped_persist

    b = scoped_persist(
        _doc_nll(spark, sf_dir, extra).select(
            "doc_id",
            *extra,
            F.expr(f"(nll_micro DIV n_tri) DIV {_BIN}").alias("bin"),
        )
    )
    # Window.partitionBy(lit(1)): Catalyst folds the constant into an
    # empty partition spec, so Spark logs its "No Partition Defined"
    # warning — DELIBERATE here: hist is the bounded milli-nat histogram
    # (≤ ~20k rows at any corpus size), the single partition is the
    # point, and the warning does not indicate an unpartitioned window
    # over corpus-sized data.
    hist = b.groupBy("bin").agg(F.count("*").alias("n"))
    w_ord = Window.partitionBy(F.lit(1)).orderBy("bin")
    w_all = Window.partitionBy(F.lit(1))
    cum = hist.select(
        "bin",
        F.sum("n").over(w_ord).alias("cum_n"),
        F.sum("n").over(w_all).alias("tot_n"),
    )
    cuts = cum.agg(
        F.min(F.when(3 * F.col("cum_n") >= F.col("tot_n"), F.col("bin"))).alias("t1"),
        F.min(F.when(3 * F.col("cum_n") >= 2 * F.col("tot_n"), F.col("bin"))).alias(
            "t2"
        ),
    )
    return b.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        *extra,
        F.col("bin").alias("mean_nll_milli_bin"),
        F.when(F.col("bin") <= F.col("t1"), "head")
        .when(F.col("bin") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


# the oracle's bucket-labelled doc frame with source carried — shared by
# the per-source health rollup below (join to documents recovers source;
# the Spark side instead rides source through the existing doc-keyed
# rollup, costing zero extra corpus exchanges)
_LM_LABELED_CTES = f"""
    {_LM_CTES},
    b AS (
      SELECT doc_id, (nll_micro // n_tri) // {_BIN} AS bin
      FROM nll
    ),
    hist AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
    cum AS (
      SELECT bin, SUM(n) OVER (ORDER BY bin) AS cum_n,
             SUM(n) OVER () AS tot_n
      FROM hist
    ),
    cuts AS (
      SELECT MIN(CASE WHEN 3 * cum_n >= tot_n THEN bin END) AS t1,
             MIN(CASE WHEN 3 * cum_n >= 2 * tot_n THEN bin END) AS t2
      FROM cum
    ),
    lab AS (
      SELECT doc_id, source,
             CASE WHEN bin <= t1 THEN 'head'
                  WHEN bin <= t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM b JOIN documents USING (doc_id), cuts
    )
"""


@register(
    "corpus_health_lm_by_source",
    f"""
    WITH {_LM_LABELED_CTES}
    SELECT source,
           count(*) AS n_scored,
           CAST(SUM(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT) AS n_head,
           CAST(SUM(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT) AS n_middle,
           CAST(SUM(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
           round(CAST(SUM(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_head,
           round(CAST(SUM(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_middle,
           round(CAST(SUM(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_tail
    FROM lab GROUP BY source
    """,
)
def corpus_health_lm_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LM-quality distribution: what
    fraction of each ingest source's scored documents land in the CCNet
    head/middle/tail perplexity buckets — the fluency counterpart to
    corpus_health_by_source's rule pass-rates (a source whose tail share
    climbs is degrading even while it passes every composite rule).

    100 TB shape: the bucket chain is quality_lm_ppl_buckets' plan with
    ``source`` riding the existing doc-keyed occurrence frame and rollup
    (zero additional corpus-sized exchanges — no doc→source join), then
    ONE exchange on the low-cardinality source key with map-side combine.
    Consistency with the standalone bucket query is structural (shared
    ``_bucketed_docs`` chain) and pinned by tests/test_lm.py."""
    lab = _bucketed_docs(spark, sf_dir, extra=("source",))

    def _n(bucket: str, alias: str) -> F.Column:
        return (
            F.sum(F.when(F.col("bucket") == bucket, 1).otherwise(0))
            .cast("bigint")
            .alias(alias)
        )

    def _frac(bucket: str, alias: str) -> F.Column:
        return F.round(
            F.sum(F.when(F.col("bucket") == bucket, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias(alias)

    return lab.groupBy("source").agg(
        F.count("*").alias("n_scored"),
        _n("head", "n_head"),
        _n("middle", "n_middle"),
        _n("tail", "n_tail"),
        _frac("head", "frac_head"),
        _frac("middle", "frac_middle"),
        _frac("tail", "frac_tail"),
    )
