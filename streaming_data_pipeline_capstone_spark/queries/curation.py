"""Corpus-curation queries: the remaining ops a pretraining-data pipeline
runs that round 2's quality module didn't cover.

- **Benchmark decontamination** (`decontam_ngram_overlap`): flag corpus
  documents sharing word n-grams with a held-out evaluation set — the
  standard published recipe (n-gram overlap against benchmark text) for
  keeping eval data out of training data. The eval set here is the
  deterministic slice ``doc_id % 97 == 0`` standing in for a benchmark
  suite; at 100 TB the eval n-gram set is tiny relative to the corpus and
  broadcasts, so the corpus side stays one scan + one per-doc aggregation.
- **Document-frequency profile** (`text_idf_profile`): per-document
  rare-token and common-token (boilerplate-ish) fractions from the corpus
  document-frequency table — the IDF building block for quality scoring.
  Shuffles on the token (vocabulary-sized, skew-bounded because per-doc
  token sets are distinct) then on doc_id; both keys spread at any scale.
- **Mixture sampling** (`mixture_sample_by_lang`): deterministic
  per-language downsampling toward a target mixture (keep all English,
  ~30% of everything else) via a multiplicative integer hash of doc_id —
  reproducible across engines and runs, no RNG state, embarrassingly
  parallel.
- **DSIR importance weights** (`mixture_dsir_weights`): Xie et al. 2023's
  hashed-ngram importance resampling scores — per-doc integer micro-nat
  log-weights toward the eval-slice target distribution, computed from two
  Laplace-smoothed bag-of-hashed-ngrams models. The log-ratio table is
  O(buckets) metadata and broadcasts; the corpus side is one scan + one
  doc_id-keyed integer aggregation.
- **DSIR resampling** (`mixture_dsir_resample`): the paper's selection
  step — sample k docs ∝ exp(log w) without replacement via Gumbel-top-k,
  with the Gumbel noise derived from the deterministic Knuth hash (RNG-
  free, integer ranking key, zero-shuffle TakeOrderedAndProject top-k).
- **Composite quality decision** (`quality_filter_composite`): the
  decision form of filtering — per doc, keep/drop plus the FIRST failing
  rule as a reason code (language allowlist, token-count bounds, mean
  token length, digit fraction). Pure per-row expressions: zero shuffles,
  fully codegen'd, the shape that runs as a cheap early pass before any
  expensive dedup.

Oracle conventions as elsewhere: identical aliases both engines, integer
SUM outputs CAST to BIGINT in DuckDB (HUGEINT→float64 otherwise — the
round-2 lesson), fractions as int/int double divisions rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.skew import spread_small_input
from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

# -- decontamination ---------------------------------------------------------
# n-gram width trade-off: published decontamination recipes use 8-13-gram
# windows — long enough that a match is near-certain verbatim benchmark
# text. Short n (3) over-flags at corpus scale: common trigrams collide by
# chance, so the flagged set grows with corpus size and recall of *true*
# contamination is bought with a large false-positive tax. Both widths are
# registered: n=3 (`decontam_ngram_overlap`, the sensitive/over-flagging
# end) and n=8 (`decontam_ngram_overlap_w8`, the published operating
# point). At sf0.01 the n=3 variant flags ~1/3 of the corpus while n=8
# flags only docs sharing verbatim 8-word spans with the eval slice —
# the near-duplicate strata — which is the intended behavior.
_DECON_N = 3          # sensitive end of the published 8-13-gram range
_DECON_N_W8 = 8       # published operating point (GPT-3/PaLM-style 8-13)
_EVAL_MOD = 97        # doc_id % 97 == 0 → the stand-in "benchmark" slice

# Planted w=8 contamination (the curation_pii_scrub
# precedent): the gate corpus contains no verbatim 8-word overlap with the
# eval slice, so the w8 driver check hash-matched an EMPTY frame. Append a
# fixed 8-token sentinel span — identically in both engines — to every eval
# doc and to the non-eval docs with doc_id % _PLANT_MOD == 0; those carriers
# then share a verbatim 8-gram with the benchmark slice and the oracle
# verifies the flagging machinery on known positives (5 docs at sf0.01).
# The w=3 variant stays UNplanted: it already flags 171 real docs at the
# gate and measures genuine trigram collision behavior.
_PLANT_MOD = 89
_PLANT_SPAN = "benchmark contamination sentinel span alpha bravo charlie delta"
assert len(_PLANT_SPAN.split()) == _DECON_N_W8
_PLANT_SQL = (
    f"CASE WHEN doc_id % {_PLANT_MOD} = 0 OR doc_id % {_EVAL_MOD} = 0 "
    f"THEN ' {_PLANT_SPAN}' ELSE '' END"
)


def _planted_text() -> F.Column:
    """Spark twin of ``_PLANT_SQL``: documents.text with the sentinel span
    appended on the planted carriers."""
    carrier = (F.col("doc_id") % _PLANT_MOD == 0) | (F.col("doc_id") % _EVAL_MOD == 0)
    return F.concat(
        F.col("text"),
        F.when(carrier, F.lit(" " + _PLANT_SPAN)).otherwise(F.lit("")),
    )


def _strict_ngrams(t: F.Column, n: int) -> F.Column:
    """Distinct word n-grams; docs with fewer than n tokens contribute none
    (strict semantics — unlike shingles_from_tokens' whole-doc fallback —
    so the SQL twin is a plain slide over the token list)."""
    grams_full = F.transform(t, lambda x, i: F.array_join(F.slice(t, i + 1, n), " "))
    grams = F.slice(grams_full, F.lit(1), F.greatest(F.size(t) - (n - 1), F.lit(0)))
    return F.array_distinct(grams)


def _decontam_oracle(n: int, plant: bool = False) -> str:
    text_expr = f"text || {_PLANT_SQL}" if plant else "text"
    return f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim({text_expr})), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {n} + 2),
                      i -> array_to_string(list_slice(t, i, i + {n} - 1), ' '))) AS gram
        FROM t WHERE len(t) >= {n}
      )
    ),
    eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_EVAL_MOD} = 0)
    SELECT g.doc_id, count(*) AS n_shared_ngrams
    FROM g JOIN eg USING (gram)
    WHERE g.doc_id % {_EVAL_MOD} <> 0
    GROUP BY g.doc_id
    """


def _decontam(
    spark: SparkSession,
    sf_dir: str,
    n: int,
    plant: bool = False,
    spread: bool = False,
) -> DataFrame:
    # spread defaults OFF (r15 A/B): standalone, BOTH join sides (eval
    # grams + corpus grams) re-evaluate this frame, so the round-robin
    # exchange (and its sortBeforeRepartition) is paid twice — measured
    # decontam_ngram_overlap 1.23 s spread vs 0.83 s unspread at sf0.1.
    # The FUNNELS pass spread=True: there the decontam arm sits on the
    # critical path of the survivor frame's single eager materialization,
    # where scan parallelism wins — measured pipeline_curation_full
    # 5.66 s spread vs 6.07 s unspread (dsir 5.98 vs 6.25).
    docs = read_table(spark, sf_dir, "documents")
    if spread:
        docs = spread_small_input(docs)
    text_col = _planted_text() if plant else F.col("text")
    with_t = docs.select("doc_id", tokens(text_col).alias("t"))
    grams = with_t.select(
        "doc_id", F.explode(_strict_ngrams(F.col("t"), n)).alias("gram")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    # eval/benchmark n-gram set is tiny at any corpus scale — broadcast it;
    # grams are distinct per doc by construction, so count(*) == distinct.
    return (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


@register("decontam_ngram_overlap", _decontam_oracle(_DECON_N))
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decontam(spark, sf_dir, _DECON_N)


@register("decontam_ngram_overlap_w8", _decontam_oracle(_DECON_N_W8, plant=True))
def decontam_ngram_overlap_w8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _decontam(spark, sf_dir, _DECON_N_W8, plant=True)


# -- Bloom-prefiltered decontamination (round 11) ------------------------------
# The 100 TB form of the eval-gram membership test. The broadcast-join
# decontam above ships the full eval GRAM SET to every executor — fine
# while the benchmark suite is small, but a large held-out corpus (or a
# union of many benchmarks) makes that broadcast the bottleneck. The
# standard fix — the same semijoin reduction Spark's own runtime filters
# apply to shuffle joins — is a Bloom-style bitmap prefilter:
#
#   1. hash every eval gram into an M-bit bitmap (M = 2^20 → 128 KiB,
#      ~1000x smaller than the gram set it summarizes — THIS broadcasts
#      at any benchmark size). Built fully distributed: bit positions
#      aggregate per 64-bit word index with bit_or, no driver collect;
#   2. corpus grams test their bit via a broadcast join on the word
#      index — false positives pass (hash collisions), true matches
#      always pass (no false negatives by construction);
#   3. ONLY the surviving sliver (true overlaps + ~0.5% FP at the gate's
#      load factor) reaches the exact gram join, which therefore no
#      longer needs the corpus-sized side at all.
#
# The exact verify makes the composition's OUTPUT identical to the plain
# w8 query, so the registered oracle is the SAME exact SQL — a hash match
# certifies that the prefilter dropped nothing it shouldn't (the bitmap
# math is only a performance device, never a semantics device).
# 2^20 bits packed 64 per bigint word → (1 << _BLOOM_BITS_LOG2) / 64 =
# 16,384 words ≈ 128 KiB broadcast (the figure quoted in the docstrings
# below derives from this constant alone)
_BLOOM_BITS_LOG2 = 20


def _gram_bit_cols() -> tuple[F.Column, F.Column]:
    """(word_idx, bit_idx) of a gram's position in the M-bit bitmap."""
    h = F.pmod(F.xxhash64("gram"), F.lit(1 << _BLOOM_BITS_LOG2))
    return F.shiftright(h, 6).alias("word"), (h % 64).cast("int").alias("bit")


@register(
    "decontam_bloom_prefilter_w8", _decontam_oracle(_DECON_N_W8, plant=True)
)
def decontam_bloom_prefilter_w8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontam_ngram_overlap_w8 through the Bloom-prefilter plan: output
    row-identical (pinned in tests and by sharing the exact oracle), but
    the only structure broadcast corpus-wide is the 16,384-word bitmap,
    and the exact gram join runs over the prefiltered sliver without a
    broadcast hint — the shape that survives an arbitrarily large
    benchmark suite."""
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens(_planted_text()).alias("t"))
    grams = with_t.select(
        "doc_id", F.explode(_strict_ngrams(F.col("t"), _DECON_N_W8)).alias("gram")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_grams = grams.filter(is_eval).select("gram").distinct()
    word, bit = _gram_bit_cols()
    bitmap = (
        eval_grams.select(word, bit)
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("mask"))
    )
    survivors = (
        grams.filter(~is_eval)
        .select("doc_id", "gram", word, bit)
        # inner join: a word with no eval bits set cannot contain a match
        .join(F.broadcast(bitmap), "word")
        .filter(F.expr("(shiftright(mask, bit) & 1) = 1"))
        .select("doc_id", "gram")
    )
    # exact verify over the sliver — deliberately NO broadcast hint: at
    # scale this is a shuffle join whose left side the bitmap already
    # shrank to ~the contaminated fraction (AQE may still broadcast the
    # eval side when it happens to be small, as at the gate)
    return (
        survivors.join(eval_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


# -- document-frequency profile ----------------------------------------------
_RARE_DF = 2          # tokens in ≤2 docs are "rare"
_COMMON_FRAC = 0.5    # tokens in ≥50% of docs are "common" (boilerplate-ish)


@register(
    "text_idf_profile",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    tok AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(t) AS tok FROM t
      )
    ),
    dft AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
    nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id,
           count(*) AS n_distinct_tokens,
           CAST(coalesce(SUM(CASE WHEN df <= {_RARE_DF} THEN 1 END), 0) AS BIGINT)
             AS n_rare_tokens,
           round(CAST(SUM(CASE WHEN df >= {_COMMON_FRAC} * n_docs THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS frac_common
    FROM tok JOIN dft USING (tok), nd
    GROUP BY doc_id
    """,
)
def text_idf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    tok = with_t.select("doc_id", F.explode(F.array_distinct("t")).alias("tok"))
    dft = tok.groupBy("tok").agg(F.count("*").alias("df"))
    # corpus size is one scalar — computed plan-side and broadcast, not
    # collected on the driver.
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    joined = tok.join(dft, "tok").crossJoin(F.broadcast(n_docs))
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_tokens"),
        F.coalesce(F.sum(F.when(F.col("df") <= _RARE_DF, 1)), F.lit(0)).alias(
            "n_rare_tokens"
        ),
        F.round(
            F.sum(F.when(F.col("df") >= _COMMON_FRAC * F.col("n_docs"), 1).otherwise(0))
            .cast("double")
            / F.count("*"),
            6,
        ).alias("frac_common"),
    )


# -- mixture sampling ---------------------------------------------------------
# keep-thresholds out of a 2^20 hash space: en keeps everything, the rest
# keep floor(0.3 · 2^20). Integer literals in BOTH engines so the decision
# is exact integer comparison, never float.
_MIX_SPACE = 1 << 20
_MIX_MULT = 2654435761  # Knuth multiplicative hash constant
# Every hash site reduces doc_id mod 2^20 BEFORE multiplying: the value is
# identical ((x*M) mod S == ((x mod S)*M) mod S for x >= 0 since S = 2^20),
# but the product stays <= (S-1)*M ~ 2.8e15 — a bare doc_id*M overflows
# int64 once doc_ids pass ~3.5e9 (found by the sf100 decade under ANSI
# mode; DuckDB BIGINT would error identically).
_KEEP_ALL = _MIX_SPACE
_KEEP_PART = int(0.3 * _MIX_SPACE)


@register(
    "mixture_sample_by_lang",
    f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(coalesce(SUM(CASE WHEN ((doc_id % {_MIX_SPACE}) * {_MIX_MULT}) % {_MIX_SPACE} <
                  CASE WHEN lang = 'en' THEN {_KEEP_ALL} ELSE {_KEEP_PART} END
                  THEN 1 END), 0) AS BIGINT) AS n_kept,
           round(CAST(SUM(CASE WHEN ((doc_id % {_MIX_SPACE}) * {_MIX_MULT}) % {_MIX_SPACE} <
                  CASE WHEN lang = 'en' THEN {_KEEP_ALL} ELSE {_KEEP_PART} END
                  THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS kept_frac
    FROM documents
    GROUP BY lang
    """,
)
def mixture_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    thr = F.when(F.col("lang") == "en", F.lit(_KEEP_ALL)).otherwise(F.lit(_KEEP_PART))
    kept = ((F.col("doc_id") % _MIX_SPACE) * _MIX_MULT) % _MIX_SPACE < thr
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.when(kept, 1)), F.lit(0)).alias("n_kept"),
        F.round(
            F.sum(F.when(kept, 1).otherwise(0)).cast("double") / F.count("*"), 6
        ).alias("kept_frac"),
    )


# -- composite quality decision ----------------------------------------------
_LANG_ALLOW = ["en", "de", "fr", "es"]
_CMP_MIN_TOKENS, _CMP_MAX_TOKENS = 10, 100_000
_MIN_MEAN_TOK, _MAX_MEAN_TOK = 2.5, 12.0
_MAX_DIGIT_FRAC = 0.2


@register(
    "quality_filter_composite",
    f"""
    WITH s AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS t,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
             greatest(length(text), 1) AS n_chars
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             len(t) AS n_tokens,
             CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                  AS DOUBLE) / greatest(len(t), 1) AS mean_tok,
             CAST(n_digits AS DOUBLE) / n_chars AS digit_frac
      FROM s
    )
    SELECT doc_id,
           CASE
             WHEN lang NOT IN ({', '.join("'" + l + "'" for l in _LANG_ALLOW)})
               THEN 'lang_filtered'
             WHEN n_tokens < {_CMP_MIN_TOKENS} THEN 'too_short'
             WHEN n_tokens > {_CMP_MAX_TOKENS} THEN 'too_long'
             WHEN mean_tok < {_MIN_MEAN_TOK} OR mean_tok > {_MAX_MEAN_TOK}
               THEN 'token_length'
             WHEN digit_frac > {_MAX_DIGIT_FRAC} THEN 'too_numeric'
             ELSE 'ok'
           END AS reason,
           CASE
             WHEN lang NOT IN ({', '.join("'" + l + "'" for l in _LANG_ALLOW)})
               THEN FALSE
             WHEN n_tokens < {_CMP_MIN_TOKENS} THEN FALSE
             WHEN n_tokens > {_CMP_MAX_TOKENS} THEN FALSE
             WHEN mean_tok < {_MIN_MEAN_TOK} OR mean_tok > {_MAX_MEAN_TOK}
               THEN FALSE
             WHEN digit_frac > {_MAX_DIGIT_FRAC} THEN FALSE
             ELSE TRUE
           END AS keep
    FROM m
    """,
)
def quality_filter_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    # token array projected so the three consumers below don't each
    # re-tokenize (Catalyst does not CSE across references).
    s = docs.select(
        "doc_id",
        "lang",
        tokens("text").alias("t"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digits"),
        F.greatest(F.length("text"), F.lit(1)).alias("n_chars"),
    )
    t = F.col("t")
    n_tokens = F.size(t)
    mean_tok = (
        F.aggregate(t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .cast("double")
        / F.greatest(n_tokens, F.lit(1))
    )
    digit_frac = F.col("n_digits").cast("double") / F.col("n_chars")
    reason = (
        F.when(~F.col("lang").isin(_LANG_ALLOW), "lang_filtered")
        .when(n_tokens < _CMP_MIN_TOKENS, "too_short")
        .when(n_tokens > _CMP_MAX_TOKENS, "too_long")
        .when((mean_tok < _MIN_MEAN_TOK) | (mean_tok > _MAX_MEAN_TOK), "token_length")
        .when(digit_frac > _MAX_DIGIT_FRAC, "too_numeric")
        .otherwise("ok")
    )
    return s.select(
        "doc_id", reason.alias("reason"), (reason == "ok").alias("keep")
    )


# -- per-source corpus health rollup (round 11) --------------------------------
# The monitoring query every curation pipeline runs per ingest batch: for
# each SOURCE (crawl/feed/provider), doc counts, token volume, the
# composite-filter pass rate, and the per-reason failure breakdown — the
# table that tells an operator WHICH feed went bad when the corpus-wide
# pass rate moves. Same rule constants and branch order as
# quality_filter_composite, so the two queries can never disagree.
#
# 100 TB shape: all signals are per-row expressions (zero shuffles until
# the rollup); the single exchange is a groupBy on the low-cardinality
# source key, which is exactly the skew-by-construction case partial
# aggregation exists for — map-side combine reduces each partition to
# ≤|sources| rows before anything moves, so the exchange carries
# |partitions|·|sources| tiny rows regardless of corpus size.
#
# Determinism: counts are integers; per-doc float signals (mean token
# length, digit fraction) round ONCE to integer micro-units and roll up
# as integer sums; every published mean divides two integers at the end.


@register(
    "corpus_health_by_source",
    f"""
    WITH s AS (
      SELECT doc_id, source, lang,
             string_split_regex(lower(trim(text)), '\\s+') AS t,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
             greatest(length(text), 1) AS n_chars
      FROM documents
    ),
    m AS (
      SELECT doc_id, source,
             len(t) AS n_tokens,
             CAST(round(CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                  AS DOUBLE) / greatest(len(t), 1) * 1000000.0) AS BIGINT) AS mean_tok_micro,
             CAST(round(CAST(n_digits AS DOUBLE) / n_chars * 1000000.0) AS BIGINT)
               AS digit_frac_micro,
             CASE
               WHEN lang NOT IN ({', '.join("'" + l + "'" for l in _LANG_ALLOW)})
                 THEN 'lang_filtered'
               WHEN len(t) < {_CMP_MIN_TOKENS} THEN 'too_short'
               WHEN len(t) > {_CMP_MAX_TOKENS} THEN 'too_long'
               WHEN CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                    AS DOUBLE) / greatest(len(t), 1) < {_MIN_MEAN_TOK}
                 OR CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                    AS DOUBLE) / greatest(len(t), 1) > {_MAX_MEAN_TOK}
                 THEN 'token_length'
               WHEN CAST(n_digits AS DOUBLE) / n_chars > {_MAX_DIGIT_FRAC}
                 THEN 'too_numeric'
               ELSE 'ok'
             END AS reason
      FROM s
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_total,
           CAST(SUM(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(CAST(SUM(CASE WHEN reason = 'ok' THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS pass_rate,
           round(CAST(SUM(n_tokens) AS DOUBLE) / count(*), 6) AS mean_tokens,
           round(CAST(SUM(mean_tok_micro) AS DOUBLE) / (count(*) * 1000000.0), 6)
             AS mean_tok_len,
           round(CAST(SUM(digit_frac_micro) AS DOUBLE) / (count(*) * 1000000.0), 6)
             AS mean_digit_frac,
           CAST(SUM(CASE WHEN reason = 'lang_filtered' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang_filtered,
           CAST(SUM(CASE WHEN reason = 'too_short' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_short,
           CAST(SUM(CASE WHEN reason = 'too_long' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_long,
           CAST(SUM(CASE WHEN reason = 'token_length' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_token_length,
           CAST(SUM(CASE WHEN reason = 'too_numeric' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_numeric
    FROM m GROUP BY source
    """,
)
def corpus_health_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    s = docs.select(
        "source",
        "lang",
        tokens("text").alias("t"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digits"),
        F.greatest(F.length("text"), F.lit(1)).alias("n_chars"),
    )
    t = F.col("t")
    n_tokens = F.size(t)
    mean_tok = (
        F.aggregate(t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .cast("double")
        / F.greatest(n_tokens, F.lit(1))
    )
    digit_frac = F.col("n_digits").cast("double") / F.col("n_chars")
    reason = (
        F.when(~F.col("lang").isin(_LANG_ALLOW), "lang_filtered")
        .when(n_tokens < _CMP_MIN_TOKENS, "too_short")
        .when(n_tokens > _CMP_MAX_TOKENS, "too_long")
        .when((mean_tok < _MIN_MEAN_TOK) | (mean_tok > _MAX_MEAN_TOK), "token_length")
        .when(digit_frac > _MAX_DIGIT_FRAC, "too_numeric")
        .otherwise("ok")
    )
    m = s.select(
        "source",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok * 1_000_000, 0).cast("bigint").alias("mean_tok_micro"),
        F.round(digit_frac * 1_000_000, 0).cast("bigint").alias("digit_frac_micro"),
        reason.alias("reason"),
    )

    def _n(r: str, alias: str) -> F.Column:
        return F.sum(F.when(F.col("reason") == r, 1).otherwise(0)).cast(
            "bigint"
        ).alias(alias)

    return m.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens_total"),
        _n("ok", "n_kept"),
        F.round(
            F.sum(F.when(F.col("reason") == "ok", 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("pass_rate"),
        F.round(F.sum("n_tokens").cast("double") / F.count("*"), 6).alias(
            "mean_tokens"
        ),
        F.round(
            F.sum("mean_tok_micro").cast("double") / (F.count("*") * 1_000_000.0), 6
        ).alias("mean_tok_len"),
        F.round(
            F.sum("digit_frac_micro").cast("double") / (F.count("*") * 1_000_000.0),
            6,
        ).alias("mean_digit_frac"),
        _n("lang_filtered", "n_lang_filtered"),
        _n("too_short", "n_too_short"),
        _n("too_long", "n_too_long"),
        _n("token_length", "n_token_length"),
        _n("too_numeric", "n_too_numeric"),
    )


# -- temperature-rebalanced mixture sampling ----------------------------------
# The standard multilingual pretraining mix (XLM-R / mT5 style): sample
# language l with rate ∝ p_l^(α−1), α<1, normalized so the RAREST
# language keeps everything — dominant languages downsample, tail
# languages survive. Unlike mixture_sample_by_lang's fixed per-bucket
# rates, the rates here are DATA-DEPENDENT (derived from corpus counts),
# so the query exercises the two-pass shape: tiny per-lang aggregate →
# rate computation on the language-cardinality frame (single partition by
# nature — it's model metadata, not data) → broadcast back over the
# corpus for the keep decision. Cross-engine determinism: rates round to
# 6 dp then quantize to an integer threshold in a 2^20 hash space, so the
# keep decision is exact integer comparison in both engines.
_TEMP_ALPHA = 0.3


@register(
    "mixture_temperature_sample",
    f"""
    WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    r0 AS (
      SELECT lang, n_docs,
             pow(CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER (), {_TEMP_ALPHA - 1.0}) AS w
      FROM c
    ),
    r AS (SELECT lang, n_docs, round(w / MAX(w) OVER (), 6) AS rate FROM r0),
    t AS (SELECT lang, n_docs, rate,
                 CAST(floor(rate * {_MIX_SPACE}) AS BIGINT) AS thr FROM r)
    SELECT d.lang, t.n_docs, t.rate,
           CAST(coalesce(SUM(CASE WHEN ((d.doc_id % {_MIX_SPACE}) * {_MIX_MULT}) % {_MIX_SPACE} < t.thr
                                  THEN 1 END), 0) AS BIGINT) AS n_kept
    FROM documents d JOIN t USING (lang)
    GROUP BY d.lang, t.n_docs, t.rate
    """,
)
def mixture_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    # single-partition window over the language-cardinality frame: a few
    # rows of model metadata, never data-sized
    wall = Window.partitionBy()
    p = F.col("n_docs").cast("double") / F.sum("n_docs").over(wall)
    weight = F.pow(p, F.lit(_TEMP_ALPHA - 1.0))
    rates = counts.select(
        "lang",
        "n_docs",
        F.round(weight / F.max(weight).over(wall), 6).alias("rate"),
    ).withColumn("thr", F.floor(F.col("rate") * _MIX_SPACE).cast("bigint"))
    kept = ((F.col("doc_id") % _MIX_SPACE) * _MIX_MULT) % _MIX_SPACE < F.col("thr")
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "rate")
        .agg(F.coalesce(F.sum(F.when(kept, 1)), F.lit(0)).alias("n_kept"))
        .select("lang", "n_docs", "rate", "n_kept")
    )


# -- DSIR importance weights ---------------------------------------------------
# Data Selection for Language Models via Importance Resampling (Xie et al.,
# NeurIPS 2023): score every raw-corpus document by how target-like it is
# under two bag-of-hashed-ngrams generative models — one fit on a target
# (benchmark-like) sample, one on the raw corpus — and resample with
# probability ∝ exp(log w), log w(doc) = Σ_gram [ln p_target(bucket(gram))
# − ln p_raw(bucket(gram))]. Features are UNIGRAM+BIGRAM occurrences (the
# paper's hashed n-gram featurization) hashed into `_DSIR_BUCKETS` buckets
# via md5 hex prefix (portable across engines, same trick as MinHash); both
# models are Laplace-smoothed multinomials over buckets.
#
# Target distribution here = the deterministic eval slice (doc_id %
# _EVAL_MOD == 0), the same stand-in "benchmark" sample decontamination
# uses; scored docs are the non-eval corpus.
#
# 100 TB shape: the per-bucket log-ratio table is O(_DSIR_BUCKETS) rows of
# model METADATA — it broadcasts at any corpus size — so the corpus side is
# one scan producing (doc_id, bucket) occurrences, one broadcast hash join,
# and ONE doc_id-keyed aggregation with map-side partials. The bucket-stats
# side is a second scan aggregated on the 4096-key bucket space (tiny,
# skew-free). No vocabulary-sized state anywhere — that is the point of the
# paper's hashing trick, and it is what makes the op linear at scale.
#
# Cross-engine determinism: per-bucket log-ratios are rounded ONCE into
# integer micro-nats (round(lr·1e6) → BIGINT), and every per-doc weight is
# an INTEGER sum of those — bit-identical under any aggregation order in
# both engines, immune to float-summation non-associativity.
_DSIR_BUCKETS = 4096   # 3 md5 hex chars → the hashed-feature space
_MICRO = 1_000_000     # fixed-point scale: micro-nats end-to-end


@register(
    "mixture_dsir_weights",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             doc_id % {_EVAL_MOD} = 0 AS is_eval,
             substr(md5(unnest(list_concat(t,
               list_transform(range(1, len(t)),
                              i -> array_to_string(list_slice(t, i, i + 1), ' '))
             ))), 1, 3) AS bkt
      FROM t
    ),
    s AS (
      SELECT bkt,
             SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS c_t,
             SUM(CASE WHEN is_eval THEN 0 ELSE 1 END) AS c_s
      FROM g GROUP BY bkt
    ),
    tot AS (SELECT SUM(c_t) AS tot_t, SUM(c_s) AS tot_s FROM s),
    r AS (
      SELECT bkt,
             CAST(round((ln((c_t + 1.0) / (tot_t + {_DSIR_BUCKETS}.0))
                       - ln((c_s + 1.0) / (tot_s + {_DSIR_BUCKETS}.0)))
                  * {_MICRO}.0) AS BIGINT) AS lr_micro
      FROM s, tot
    )
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(SUM(lr_micro) AS BIGINT) AS log_w_micro
    FROM g JOIN r USING (bkt)
    WHERE NOT is_eval
    GROUP BY doc_id
    """,
)
def mixture_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread_small_input(read_table(spark, sf_dir, "documents"))
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    tt = F.col("t")
    # unigram+bigram OCCURRENCES (multiset — counts matter for the
    # multinomial models, unlike the distinct-gram decontam sets)
    bigrams_full = F.transform(tt, lambda x, i: F.array_join(F.slice(tt, i + 1, 2), " "))
    bigrams = F.slice(bigrams_full, F.lit(1), F.greatest(F.size(tt) - 1, F.lit(0)))
    g = with_t.select(
        "doc_id",
        (F.col("doc_id") % _EVAL_MOD == 0).alias("is_eval"),
        F.explode(F.concat(tt, bigrams)).alias("gram"),
    ).select("doc_id", "is_eval", F.substring(F.md5("gram"), 1, 3).alias("bkt"))
    stats = g.groupBy("bkt").agg(
        F.sum(F.when(F.col("is_eval"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_eval"), 0).otherwise(1)).alias("c_s"),
    )
    # corpus-wide totals via a global window over the ≤4096-row bucket
    # frame (model METADATA — the single-partition exchange moves KBs, the
    # same trick mixture_temperature_sample uses). A crossJoin against a
    # separate stats.agg() would re-plan the whole stats subtree twice.
    from pyspark.sql import Window

    w_all = Window.partitionBy(F.lit(1))
    totals = stats.select(
        "bkt",
        "c_t",
        "c_s",
        F.sum("c_t").over(w_all).alias("tot_t"),
        F.sum("c_s").over(w_all).alias("tot_s"),
    )
    lr = F.log((F.col("c_t") + 1.0) / (F.col("tot_t") + float(_DSIR_BUCKETS))) - F.log(
        (F.col("c_s") + 1.0) / (F.col("tot_s") + float(_DSIR_BUCKETS))
    )
    ratio = totals.select(
        "bkt", F.round(lr * _MICRO, 0).cast("bigint").alias("lr_micro")
    )
    return (
        g.filter(~F.col("is_eval"))
        .join(F.broadcast(ratio), "bkt")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"), F.sum("lr_micro").alias("log_w_micro"))
    )


# -- DSIR resampling (Gumbel-top-k selection) -----------------------------------
# The paper's second half: SELECT k documents with probability ∝ exp(log w)
# without replacement — exactly the Gumbel-top-k trick (add iid
# Gumbel(0,1) noise to each log-weight, take the k largest). The noise here
# is the repo's RNG-free stand-in: u = (knuth_hash(doc_id) + 0.5) / 2^20 ∈
# (0,1), g = −ln(−ln u) — any engine reproduces the exact selection. The
# Gumbel term is rounded ONCE to integer micro-nats and added to the
# integer log-weight, so the ranking key is a BIGINT — no float-order
# ambiguity; ties break on doc_id.
#
# 100 TB shape: everything up to the score is mixture_dsir_weights' 3-
# exchange plan plus per-row arithmetic; the global top-k compiles to
# TakeOrderedAndProject (per-partition heaps + one k-row reduce), the same
# zero-shuffle pattern as sort_top20_orders — no global sort materializes.
_DSIR_TAKE = 100


@register(
    "mixture_dsir_resample",
    f"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             doc_id % {_EVAL_MOD} = 0 AS is_eval,
             substr(md5(unnest(list_concat(t,
               list_transform(range(1, len(t)),
                              i -> array_to_string(list_slice(t, i, i + 1), ' '))
             ))), 1, 3) AS bkt
      FROM t
    ),
    s AS (
      SELECT bkt,
             SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS c_t,
             SUM(CASE WHEN is_eval THEN 0 ELSE 1 END) AS c_s
      FROM g GROUP BY bkt
    ),
    tot AS (SELECT SUM(c_t) AS tot_t, SUM(c_s) AS tot_s FROM s),
    r AS (
      SELECT bkt,
             CAST(round((ln((c_t + 1.0) / (tot_t + {_DSIR_BUCKETS}.0))
                       - ln((c_s + 1.0) / (tot_s + {_DSIR_BUCKETS}.0)))
                  * {_MICRO}.0) AS BIGINT) AS lr_micro
      FROM s, tot
    ),
    w AS (
      SELECT doc_id, CAST(SUM(lr_micro) AS BIGINT) AS log_w_micro
      FROM g JOIN r USING (bkt)
      WHERE NOT is_eval
      GROUP BY doc_id
    )
    SELECT doc_id, log_w_micro,
           log_w_micro + CAST(round(
             -ln(-ln((((doc_id % {_MIX_SPACE}) * {_MIX_MULT}) % {_MIX_SPACE} + 0.5) / {_MIX_SPACE}.0))
             * {_MICRO}.0) AS BIGINT) AS score_micro
    FROM w
    ORDER BY score_micro DESC, doc_id
    LIMIT {_DSIR_TAKE}
    """,
)
def mixture_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = mixture_dsir_weights(spark, sf_dir)
    u = (((F.col("doc_id") % _MIX_SPACE) * _MIX_MULT) % _MIX_SPACE + 0.5) / float(_MIX_SPACE)
    gumbel_micro = F.round(-F.log(-F.log(u)) * _MICRO, 0).cast("bigint")
    return (
        w.select(
            "doc_id",
            "log_w_micro",
            (F.col("log_w_micro") + gumbel_micro).alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_DSIR_TAKE)
    )


# -- deterministic corpus shuffle/shard -----------------------------------------
# The last pre-training step: a reproducible pseudo-random permutation of
# the corpus, materialized as shard assignments plus a within-shard
# position. Shard and order both derive from the same multiplicative
# integer hash (no RNG state), so any engine reproduces the exact
# permutation. One exchange keyed on shard; the within-shard row_number
# is a per-shard sort — at 100 TB pick the shard count so a shard sorts
# in one task (or write shards with sortWithinPartitions and let file
# order carry the permutation), which is the standard sharded-shuffle
# layout for training data.
_N_SHARDS = 8


@register(
    "corpus_shard_shuffle",
    f"""
    WITH h AS (
      SELECT doc_id, ((doc_id % {_MIX_SPACE}) * {_MIX_MULT}) % {_MIX_SPACE} AS hkey
      FROM documents
    )
    SELECT doc_id, hkey,
           CAST(hkey % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY hkey % {_N_SHARDS}
                                   ORDER BY hkey, doc_id) AS BIGINT) AS pos
    FROM h
    """,
)
def corpus_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id", (((F.col("doc_id") % _MIX_SPACE) * _MIX_MULT) % _MIX_SPACE).alias("hkey")
    ).withColumn("shard", (F.col("hkey") % _N_SHARDS).cast("bigint"))
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return h.select(
        "doc_id",
        "hkey",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


# -- PII scrub ----------------------------------------------------------------
# Redaction is a standard pretraining-curation pass (emails/phones out of
# the corpus before training). The synthetic documents contain no PII, so
# the query PLANTS deterministic PII in-flight — identically in both
# engines (doc_id % 7 gets an email, % 11 a phone) — then counts and
# scrubs it; the oracle therefore verifies the regex/replace machinery on
# known-positive rows, not a vacuous all-zeros corpus. Regexes stay in
# the Java∩RE2 common syntax (no lookarounds, no backrefs) so both
# engines match identical spans. Pure per-row expressions: zero shuffles.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9 ()-]{5,}[0-9]"


@register(
    "curation_pii_scrub",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0
                    THEN ' call +1 555 0' || CAST(doc_id % 100 AS VARCHAR) || ' 4242'
                    ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           length(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_PHONE_RE}', '<PHONE>', 'g')) AS n_chars_scrubbed
    FROM aug
    """,
)
def curation_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call +1 555 0"),
                    (F.col("doc_id") % 100).cast("string"),
                    F.lit(" 4242"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return aug.select(
        "doc_id",
        # idx=0 (whole match): Spark defaults to group 1 and errors on
        # group-less patterns; DuckDB defaults to group 0
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0)).alias("n_phones"),
        F.length(scrubbed).alias("n_chars_scrubbed"),
    )


# -- repetition profile (Gopher-style) ----------------------------------------
# The Gopher/MassiveText repetition signals the round-2 gopher query did
# not cover: most-frequent-token share and duplicate token/bigram
# fractions. Token stats take two doc_id-keyed hash aggregations
# (map-side combined, skew-bounded by per-doc token counts); bigram stats
# are pure per-row array expressions joined back on doc_id. Every shuffle
# key is doc_id — spreads at any corpus size.
@register(
    "text_repetition_profile",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM t),
    c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok),
    ts AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             round(CAST(max(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_token_frac,
             round(1.0 - CAST(count(*) AS DOUBLE) / SUM(cnt), 6) AS dup_token_frac
      FROM c GROUP BY doc_id
    ),
    bg AS (
      SELECT doc_id,
             greatest(len(t) - 1, 0) AS n_bigrams,
             CASE WHEN len(t) >= 2 THEN len(list_distinct(
               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
               ELSE 0 END AS n_bigrams_distinct
      FROM t
    )
    SELECT ts.doc_id, n_tokens, n_distinct, top_token_frac, dup_token_frac,
           CASE WHEN n_bigrams > 0
                THEN round(1.0 - CAST(n_bigrams_distinct AS DOUBLE) / n_bigrams, 6)
                ELSE 0.0 END AS dup_bigram_frac
    FROM ts JOIN bg USING (doc_id)
    """,
)
def text_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    c = (
        with_t.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("cnt"))
    )
    ts = c.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias("top_token_frac"),
        F.round(F.lit(1.0) - F.count("*").cast("double") / F.sum("cnt"), 6).alias(
            "dup_token_frac"
        ),
    )
    t = F.col("t")
    bigrams_full = F.transform(t, lambda x, i: F.array_join(F.slice(t, i + 1, 2), " "))
    bigrams = F.slice(bigrams_full, F.lit(1), F.greatest(F.size(t) - 1, F.lit(0)))
    bg = with_t.select(
        "doc_id",
        F.greatest(F.size(t) - 1, F.lit(0)).alias("n_bigrams"),
        F.when(F.size(t) >= 2, F.size(F.array_distinct(bigrams)))
        .otherwise(F.lit(0))
        .alias("n_bigrams_distinct"),
    )
    return ts.join(bg, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_frac",
        "dup_token_frac",
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                F.lit(1.0)
                - F.col("n_bigrams_distinct").cast("double") / F.col("n_bigrams"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


# -- token-budget sequence packing --------------------------------------------
# Training pipelines pack documents into fixed token budgets (sequence
# length) before batching: a doc joins the bin where its per-language
# exclusive cumulative token count falls (bins may overflow by one
# straddling doc, the standard streaming-pack trade).
#
# SCALE SHAPE (r9, clears the r8 weak flag): the naive form is one
# running sum over Window.partitionBy(lang).orderBy(doc_id) — but lang
# cardinality is ~5, so every language's documents shuffle into ONE
# partition and prefix-sum in ONE task; at 100 TB a majority language is
# half the corpus scanning sequentially on a single core. _pack_bins
# instead runs the textbook HIERARCHICAL (two-level) prefix sum:
#
#   1. bucket docs by doc_id range (bucket = floor(doc_id / width), a
#      deterministic, order-preserving coarse key — unlike
#      repartitionByRange, whose sampled boundaries can differ between
#      the two jobs that would have to agree on them);
#   2. one distributed agg -> per-(lang, bucket) token totals
#      (langs × buckets rows: metadata-sized);
#   3. exclusive cumulative bucket offsets via a window over that TINY
#      frame (one task per lang, but over bucket-count rows, not docs);
#   4. broadcast the offsets back and finish the running sum with a
#      window partitioned by (lang, bucket) — langs × buckets concurrent
#      tasks instead of langs.
#
# bin_id is bit-identical to the single-window form (the prefix sum is
# exact integer arithmetic, just associatively regrouped), so the DuckDB
# oracle below keeps the plain window formulation.
_PACK_BUDGET = 512


def _doc_bucket_width(spark: SparkSession, sf_dir: str) -> int:
    """doc_id bucket width for the hierarchical prefix sum: one cheap
    single-column agg over `documents` (parquet stats make this a nearly
    free scan) sized so ~4 buckets exist per executor core. More buckets
    only add metadata rows; the width can't change bin output, only the
    parallelism of the within-bucket windows."""
    import math

    bounds = (
        read_table(spark, sf_dir, "documents")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .head()
    )
    target = max(32, 4 * spark.sparkContext.defaultParallelism)
    return max(1, math.ceil((bounds["hi"] - bounds["lo"] + 1) / target))


def _pack_bins(t: DataFrame, bucket_width: int, budget: int = _PACK_BUDGET) -> DataFrame:
    """Assign `bin_id` = floor(exclusive per-lang running token sum /
    budget) to every row of ``t`` (doc_id, lang, n_tok) via the two-level
    prefix sum described above — bit-identical to
    ``Window.partitionBy(lang).orderBy(doc_id)`` (pinned by
    tests/test_curation_pipeline.py) with langs × buckets parallelism
    instead of langs."""
    from pyspark.sql import Window

    b = t.withColumn(
        "bkt", F.floor(F.col("doc_id") / F.lit(bucket_width)).cast("bigint")
    )
    totals = b.groupBy("lang", "bkt").agg(F.sum("n_tok").alias("bkt_tok"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "lang",
        "bkt",
        F.coalesce(F.sum("bkt_tok").over(w_off), F.lit(0)).alias("bkt_off"),
    )
    w_in = (
        Window.partitionBy("lang", "bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_excl = F.col("bkt_off") + F.coalesce(F.sum("n_tok").over(w_in), F.lit(0))
    return (
        b.join(F.broadcast(offsets), ["lang", "bkt"])
        .withColumn("bin_id", F.floor(cum_excl / budget).cast("bigint"))
        .drop("bkt", "bkt_off")
    )


@register(
    "pack_token_budget",
    rf"""
    WITH t AS (
      SELECT doc_id, lang,
             len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok
      FROM documents
    ),
    w AS (
      SELECT doc_id, lang, n_tok,
             CAST(floor(coalesce(SUM(n_tok) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_PACK_BUDGET}) AS BIGINT) AS bin_id
      FROM t
    )
    SELECT lang, bin_id,
           count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM w GROUP BY lang, bin_id
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.size(tokens("text")).alias("n_tok"))
    binned = _pack_bins(t, _doc_bucket_width(spark, sf_dir))
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("tok_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# -- end-to-end curation pipeline ---------------------------------------------
# The composition a training-data pipeline actually runs, as ONE declarative
# plan: benchmark-slice removal -> near-dup keep-list -> composite quality
# filter -> 8-gram decontamination -> token-budget packing. Every stage is
# an already-oracle-green registry query; this row pins that they compose
# (the funnel's joins are all doc_id-keyed, so the stages co-partition on
# one key and AQE coalesces the chain). At 100 TB each stage's keep-list
# would be checkpointed parquet between jobs rather than recomputed in one
# plan — the LOGICAL funnel and its semantics are identical; Spark just
# re-scans `documents` per stage here, which is the single-plan trade.
#
# Parity note: extends SURVEY §2.11 (no reference twin — the reference has
# no corpus-curation stage); published-recipe shape per Gopher/RefinedWeb
# (quality + dedup + decontam, then pack).


def _curation_ctes(plant: bool = False) -> str:
    """Shared CTE prefix: the dedup keep-set (dd), the quality-pass set
    (qok), the contaminated set (contaminated), and the survivor frame
    (surv) with per-doc token counts — verbatim recompositions of the
    dedup_keep_list / quality_filter_composite / decontam_ngram_overlap_w8
    oracles with disambiguated CTE names.

    ``plant`` (default OFF) appends the w8
    sentinel span to the decontam stage's input, exactly as the registered
    ``decontam_ngram_overlap_w8`` gate does; the REGISTERED funnel queries
    pass plant=True so their oracles keep verifying known positives, while
    the production composition (plant=False) measures the natural corpus
    and never drops doc_id % _PLANT_MOD carriers by instrumentation."""
    lang_allow = ", ".join("'" + l + "'" for l in _LANG_ALLOW)
    dt_text = f"text || {_PLANT_SQL}" if plant else "text"
    return rf"""
    WITH RECURSIVE sets AS (
      SELECT doc_id AS doc,
             CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t)-1),
                         i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) END AS shingles
      FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
            FROM documents)
    ),
    sh AS (SELECT doc, unnest(shingles) AS s FROM sets),
    cand AS (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
    ),
    verified AS (
      SELECT d1, d2 FROM cand
      JOIN sets s1 ON s1.doc = d1 JOIN sets s2 ON s2.doc = d2
      WHERE round(CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)
              / (len(s1.shingles) + len(s2.shingles)
                 - len(list_intersect(s1.shingles, s2.shingles))), 6) >= 0.6
    ),
    edges AS (
      SELECT d1 AS a, d2 AS b FROM verified
      UNION SELECT d2, d1 FROM verified
    ),
    reach AS (
      SELECT a AS d, a AS m FROM edges
      UNION
      SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.d
    ),
    comp AS (SELECT d AS node, MIN(m) AS component FROM reach GROUP BY d),
    dd AS (
      SELECT doc_id FROM documents LEFT JOIN comp ON comp.node = doc_id
      WHERE comp.component IS NULL OR comp.component = doc_id
    ),
    qs AS (
      SELECT doc_id, lang,
             string_split_regex(lower(trim(text)), '\s+') AS t,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
             greatest(length(text), 1) AS n_chars
      FROM documents
    ),
    qok AS (
      SELECT doc_id FROM (
        SELECT doc_id, lang,
               len(t) AS n_tokens,
               CAST(list_sum(list_transform(t, x -> CAST(length(x) AS BIGINT)))
                    AS DOUBLE) / greatest(len(t), 1) AS mean_tok,
               CAST(n_digits AS DOUBLE) / n_chars AS digit_frac
        FROM qs
      )
      WHERE lang IN ({lang_allow})
        AND n_tokens BETWEEN {_CMP_MIN_TOKENS} AND {_CMP_MAX_TOKENS}
        AND mean_tok BETWEEN {_MIN_MEAN_TOK} AND {_MAX_MEAN_TOK}
        AND digit_frac <= {_MAX_DIGIT_FRAC}
    ),
    dt AS (
      -- decontam stage input: PLANTED text (the w8 gate's known
      -- positives, see _PLANT_SQL) when plant=True, natural text
      -- otherwise — verbatim recomposition of the _decontam oracle
      SELECT doc_id, string_split_regex(lower(trim({dt_text})), '\s+') AS t
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - {_DECON_N_W8} + 2),
                      i -> array_to_string(list_slice(t, i, i + {_DECON_N_W8} - 1), ' '))) AS gram
        FROM dt WHERE len(t) >= {_DECON_N_W8}
      )
    ),
    deg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % {_EVAL_MOD} = 0),
    contaminated AS (
      SELECT DISTINCT g.doc_id FROM dg g JOIN deg USING (gram)
      WHERE g.doc_id % {_EVAL_MOD} <> 0
    ),
    surv AS (
      SELECT d.doc_id, d.lang,
             len(string_split_regex(lower(trim(d.text)), '\s+')) AS n_tok
      FROM documents d
      JOIN dd USING (doc_id)
      JOIN qok USING (doc_id)
      WHERE d.doc_id % {_EVAL_MOD} <> 0
        AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
    )
    """


def _survivors(spark: SparkSession, sf_dir: str, plant: bool = False) -> DataFrame:
    """The funnel's survivor frame. ``plant`` (default OFF) switches the
    decontam stage to the planted-gate input — production callers get the
    natural corpus; registered gate queries pass plant=True."""
    from streaming_data_pipeline_capstone_spark.queries.quality import (
        dedup_keep_list,
    )

    docs = read_table(spark, sf_dir, "documents")
    dd = dedup_keep_list(spark, sf_dir).filter("keep").select("doc_id")
    qok = quality_filter_composite(spark, sf_dir).filter("keep").select("doc_id")
    cont = _decontam(spark, sf_dir, _DECON_N_W8, plant=plant, spread=True).select("doc_id")
    return (
        docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(dd, "doc_id")
        .join(qok, "doc_id")
        .join(cont, "doc_id", "left_anti")
    )


def curation_funnel_bins(
    spark: SparkSession, sf_dir: str, plant: bool = False
) -> DataFrame:
    """The production funnel: packed token-budget bins over the survivor
    set. ``plant`` defaults OFF (natural-corpus semantics); the registered
    gate query ``pipeline_curation_full`` passes plant=True so its DuckDB
    oracle keeps verifying the decontam stage on known positives."""
    surv = _survivors(spark, sf_dir, plant=plant).select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tok")
    )
    # A distributed prefix sum is inherently TWO passes over its input
    # (bucket totals, then the within-bucket running sum). Persist the
    # survivor token frame — 3 narrow columns, the small OUTPUT of the
    # expensive dedup/quality/decontam chain — so the second pass reads
    # the first's materialization instead of re-running the chain. This
    # is the in-session stand-in for the production shape, where stage
    # verdicts are checkpointed parquet between jobs (demonstrated by
    # plans/curation_ckpt.py, pinned row-identical to this query).
    #
    # The eager flag populates the cache immediately: without it, the
    # bucket-offsets broadcast job and the main stages race to
    # materialize the same InMemoryRelation and the survivor chain can
    # execute twice concurrently (measured: up to 2x wall at sf1).
    # scoped_persist: released when the next registry query builds, so a
    # long-lived session doesn't accumulate survivor caches (r11 ask #7).
    from streaming_data_pipeline_capstone_spark.cache import scoped_persist

    surv = scoped_persist(surv, eager=True)
    # bucket width derives from the base table's doc_id bounds (a cheap
    # 1-column scan), NOT the survivor frame — bounds from survivors would
    # re-run the whole dedup/quality/decontam chain just to size buckets.
    binned = _pack_bins(surv, _doc_bucket_width(spark, sf_dir))
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("tok_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "pipeline_curation_full",
    _curation_ctes(plant=True)
    + rf"""
    , w AS (
      SELECT doc_id, lang, n_tok,
             CAST(floor(coalesce(SUM(n_tok) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_PACK_BUDGET}) AS BIGINT) AS bin_id
      FROM surv
    )
    SELECT lang, bin_id,
           count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM w GROUP BY lang, bin_id
    """,
)
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_funnel_bins(spark, sf_dir, plant=True)


@register(
    "curation_report",
    _curation_ctes(plant=True)
    + f"""
    SELECT 'total' AS stage, count(*) AS n_docs FROM documents
    UNION ALL
    SELECT 'eval_slice', count(*) FROM documents WHERE doc_id % {_EVAL_MOD} = 0
    UNION ALL
    SELECT 'after_dedup', count(*) FROM dd
    UNION ALL
    SELECT 'after_quality', count(*) FROM dd JOIN qok USING (doc_id)
    UNION ALL
    SELECT 'after_decontam', count(*) FROM surv
    """,
)
def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_report_frame(spark, sf_dir, plant=True)


def curation_report_frame(
    spark: SparkSession, sf_dir: str, plant: bool = False
) -> DataFrame:
    """Funnel report: documents surviving each curation stage (cumulative —
    after_quality counts docs passing dedup AND quality; after_decontam is
    the final survivor set, which also excludes the eval slice).
    ``plant`` defaults OFF; the registered gate query passes plant=True.

    Shape: ONE pass, not five. Each stage's verdict frame is computed once
    (dedup keep-list and quality cover every doc; contamination joins as a
    left flag), the verdicts join on doc_id, and all five counts come out
    of a single map-side-combined conditional aggregate, unpivoted with
    ``stack``. The first cut ran each count as its own subplan — five
    recomputations of the stage chains (13 exchanges, and a 0.76 decade
    exponent vs the funnel's 0.47 at sf10); this form is the one a 100 TB
    pipeline runs, where stage verdicts are computed once and every
    downstream consumer (the funnel report included) reads the same
    frames."""
    from streaming_data_pipeline_capstone_spark.queries.quality import (
        dedup_keep_list,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    dd = dedup_keep_list(spark, sf_dir).withColumnRenamed("keep", "keep_dd")
    qok = quality_filter_composite(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_q")
    )
    cont = _decontam(spark, sf_dir, _DECON_N_W8, plant=plant, spread=True).select(
        "doc_id", F.lit(True).alias("contam")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    j = (
        docs.join(dd, "doc_id")
        .join(qok, "doc_id")
        .join(cont, "doc_id", "left")
    )

    def cnt(cond: F.Column) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    agg = j.agg(
        F.count("*").alias("total"),
        cnt(is_eval).alias("eval_slice"),
        cnt(F.col("keep_dd")).alias("after_dedup"),
        cnt(F.col("keep_dd") & F.col("keep_q")).alias("after_quality"),
        cnt(
            F.col("keep_dd")
            & F.col("keep_q")
            & ~is_eval
            & F.col("contam").isNull()
        ).alias("after_decontam"),
    )
    return agg.selectExpr(
        "stack(5, 'total', total, 'eval_slice', eval_slice, "
        "'after_dedup', after_dedup, 'after_quality', after_quality, "
        "'after_decontam', after_decontam) AS (stage, n_docs)"
    )


# -- DSIR-selected funnel ------------------------------------------------------
# The funnel with the paper's ACTUAL composition: Xie
# et al. run importance resampling over the CLEANED pool, so the packing
# stage's input here is the DSIR-selected subset of the funnel's survivor
# set — per-doc importance weights toward the eval-slice target (the
# standalone mixture_dsir_weights plan: broadcast hashed-ngram ratio
# table, integer micro-nat sums), Gumbel-top-k selection (RNG-free Knuth-
# hash noise, zero-shuffle TakeOrderedAndProject), then the hierarchical
# token-budget pack over the selected docs. Stage membership is pinned by
# tests/test_curation_pipeline.py: selected == Gumbel-top-k of the
# standalone weights restricted to the standalone survivor set.
#
# 100 TB shape: the survivor chain is the funnel's (checkpointed between
# jobs in production, plans/curation_ckpt.py); the weight model is
# O(buckets) broadcast metadata; selection is a global top-k (per-
# partition heaps); packing runs over k rows. Nothing new shuffles at
# corpus scale beyond the funnel + weights plans this composes.


def _dsir_gumbel_micro() -> F.Column:
    """Integer micro-nat Gumbel noise from the deterministic Knuth hash —
    the exact expression mixture_dsir_resample uses."""
    u = (((F.col("doc_id") % _MIX_SPACE) * _MIX_MULT) % _MIX_SPACE + 0.5) / float(
        _MIX_SPACE
    )
    return F.round(-F.log(-F.log(u)) * _MICRO, 0).cast("bigint")


def _dsir_selected_survivors(
    spark: SparkSession, sf_dir: str, plant: bool = False
) -> DataFrame:
    """The DSIR selection stage over the funnel survivor set: top
    ``_DSIR_TAKE`` docs by (integer log-weight + integer Gumbel noise),
    ties on doc_id. Returns (doc_id, lang, n_tok). ``plant`` defaults OFF
    (production semantics); the registered gate passes plant=True."""
    surv = _survivors(spark, sf_dir, plant=plant).select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tok")
    )
    w = mixture_dsir_weights(spark, sf_dir).select("doc_id", "log_w_micro")
    return (
        surv.join(w, "doc_id")
        .withColumn("score_micro", F.col("log_w_micro") + _dsir_gumbel_micro())
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_DSIR_TAKE)
        .select("doc_id", "lang", "n_tok")
    )


def dsir_curation_bins(
    spark: SparkSession, sf_dir: str, plant: bool = False
) -> DataFrame:
    """The production DSIR-selected funnel (plant defaults OFF); the
    registered gate query ``pipeline_curation_dsir`` passes plant=True."""
    sel = _dsir_selected_survivors(spark, sf_dir, plant=plant)
    # the selected set is k rows; persist so the pack's two prefix-sum
    # passes read it instead of re-running the funnel + weights chain
    # (scoped: the registry releases it when the next query builds)
    from streaming_data_pipeline_capstone_spark.cache import scoped_persist

    sel = scoped_persist(sel, eager=True)
    binned = _pack_bins(sel, _doc_bucket_width(spark, sf_dir))
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("tok_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


@register(
    "pipeline_curation_dsir",
    _curation_ctes(plant=True)
    + rf"""
    , dst AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    dsg AS (
      SELECT doc_id,
             doc_id % {_EVAL_MOD} = 0 AS is_eval,
             substr(md5(unnest(list_concat(t,
               list_transform(range(1, len(t)),
                              i -> array_to_string(list_slice(t, i, i + 1), ' '))
             ))), 1, 3) AS bkt
      FROM dst
    ),
    dss AS (
      SELECT bkt,
             SUM(CASE WHEN is_eval THEN 1 ELSE 0 END) AS c_t,
             SUM(CASE WHEN is_eval THEN 0 ELSE 1 END) AS c_s
      FROM dsg GROUP BY bkt
    ),
    dstot AS (SELECT SUM(c_t) AS tot_t, SUM(c_s) AS tot_s FROM dss),
    dsr AS (
      SELECT bkt,
             CAST(round((ln((c_t + 1.0) / (tot_t + {_DSIR_BUCKETS}.0))
                       - ln((c_s + 1.0) / (tot_s + {_DSIR_BUCKETS}.0)))
                  * {_MICRO}.0) AS BIGINT) AS lr_micro
      FROM dss, dstot
    ),
    dsw AS (
      SELECT doc_id,
             CAST(SUM(lr_micro) AS BIGINT)
             + CAST(round(-ln(-ln((((doc_id % {_MIX_SPACE}) * {_MIX_MULT}) % {_MIX_SPACE} + 0.5) / {_MIX_SPACE}.0))
                    * {_MICRO}.0) AS BIGINT) AS score_micro
      FROM dsg JOIN dsr USING (bkt)
      WHERE NOT is_eval
      GROUP BY doc_id
    ),
    sel AS (
      SELECT surv.doc_id AS doc_id, surv.lang AS lang, surv.n_tok AS n_tok
      FROM surv JOIN dsw USING (doc_id)
      ORDER BY dsw.score_micro DESC, surv.doc_id
      LIMIT {_DSIR_TAKE}
    ),
    pw AS (
      SELECT doc_id, lang, n_tok,
             CAST(floor(coalesce(SUM(n_tok) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_PACK_BUDGET}) AS BIGINT) AS bin_id
      FROM sel
    )
    SELECT lang, bin_id,
           count(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM pw GROUP BY lang, bin_id
    """,
)
def pipeline_curation_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dsir_curation_bins(spark, sf_dir, plant=True)


# -- exact substring-duplication profile --------------------------------------
# Span-level duplication (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better"): doc-level dedup misses boilerplate and
# quoted spans repeated ACROSS otherwise-distinct documents, which the
# paper shows LMs memorize disproportionately. The exact-substring signal
# here is the Spark-expressible form: every w-token window, counted
# globally; a window occurring more than once (any doc, including
# within-doc repeats) is a duplicated span, and each doc reports how much
# of it lies in duplicated spans. At 100 TB: one exchange keyed on the
# window text (count), one back on doc_id (rollup) — the same two-shuffle
# shape as every other doc-keyed profile; window text as the key keeps the
# semantics hash-free and engine-portable (a production variant would key
# on a 128-bit window hash to shrink the exchange; identical plan shape).
_SPAN_W = 15


@register(
    "text_dup_spans",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id, CAST(greatest(len(t) - {_SPAN_W} + 1, 0) AS BIGINT) AS n_windows
      FROM t
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {_SPAN_W} + 2),
                    i -> array_to_string(list_slice(t, i, i + {_SPAN_W} - 1), ' '))) AS gram
      FROM t WHERE len(t) >= {_SPAN_W}
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
    nd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
      FROM g JOIN d USING (gram) GROUP BY doc_id
    )
    SELECT w.doc_id, n_windows,
           coalesce(n_dup, 0) AS n_dup_windows,
           round(CAST(coalesce(n_dup, 0) AS DOUBLE) / greatest(n_windows, 1), 6)
             AS dup_span_frac
    FROM w LEFT JOIN nd USING (doc_id)
    """,
)
def text_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    t = F.col("t")
    n_windows = F.greatest(F.size(t) - (_SPAN_W - 1), F.lit(0))
    grams_full = F.transform(
        t, lambda x, i: F.array_join(F.slice(t, i + 1, _SPAN_W), " ")
    )
    grams = F.slice(grams_full, F.lit(1), n_windows)
    base = with_t.select("doc_id", n_windows.cast("bigint").alias("n_windows"))
    g = with_t.select("doc_id", F.explode(grams).alias("gram"))
    dup_grams = (
        g.groupBy("gram").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    ).select("gram")
    nd = (
        g.join(dup_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_dup"))
    )
    return base.join(nd, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_windows"),
        F.round(
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_windows"), F.lit(1)),
            6,
        ).alias("dup_span_frac"),
    )


@register(
    "text_dup_spans_hashed",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    w AS (
      SELECT doc_id, CAST(greatest(len(t) - {_SPAN_W} + 1, 0) AS BIGINT) AS n_windows
      FROM t
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {_SPAN_W} + 2),
                    i -> array_to_string(list_slice(t, i, i + {_SPAN_W} - 1), ' '))) AS gram
      FROM t WHERE len(t) >= {_SPAN_W}
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
    nd AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
      FROM g JOIN d USING (gram) GROUP BY doc_id
    )
    SELECT w.doc_id, n_windows,
           coalesce(n_dup, 0) AS n_dup_windows,
           round(CAST(coalesce(n_dup, 0) AS DOUBLE) / greatest(n_windows, 1), 6)
             AS dup_span_frac
    FROM w LEFT JOIN nd USING (doc_id)
    """,
)
def text_dup_spans_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape of :func:`text_dup_spans`: the global window count
    keys on ``xxhash64(window)`` (8 bytes) instead of the window text
    (~15 words ≈ 100+ bytes), shrinking the dominant exchange ~12× — at
    100 TB the text-keyed exchange is corpus×15 bytes, the hashed one is
    corpus×(8/avg_word_len). A 64-bit collision would need ~2^32 distinct
    windows in flight (birthday bound) to become likely; its effect is one
    window pair falsely counted duplicated. The oracle is the TEXT-keyed
    SQL — exact agreement pins collision-freedom at the gate corpus, and
    tests pin row-identity to text_dup_spans."""
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    t = F.col("t")
    n_windows = F.greatest(F.size(t) - (_SPAN_W - 1), F.lit(0))
    grams_full = F.transform(
        t, lambda x, i: F.xxhash64(F.array_join(F.slice(t, i + 1, _SPAN_W), " "))
    )
    hashes = F.slice(grams_full, F.lit(1), n_windows)
    base = with_t.select("doc_id", n_windows.cast("bigint").alias("n_windows"))
    g = with_t.select("doc_id", F.explode(hashes).alias("h"))
    dup = g.groupBy("h").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    nd = (
        g.join(dup.select("h"), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_dup"))
    )
    return base.join(nd, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup_windows"),
        F.round(
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_windows"), F.lit(1)),
            6,
        ).alias("dup_span_frac"),
    )


@register(
    "text_dup_spans_strip",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - {_SPAN_W} + 2),
            i -> {{'pos': i,
                   'gram': array_to_string(list_slice(t, i, i + {_SPAN_W} - 1), ' ')}})) AS u
        FROM t WHERE len(t) >= {_SPAN_W}
      )
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
    s AS (SELECT doc_id, list(pos) AS starts FROM g JOIN d USING (gram) GROUP BY doc_id),
    k AS (
      SELECT doc_id, t,
             CASE WHEN starts IS NULL THEN t
                  ELSE list_filter(t, (x, j) ->
                         NOT len(list_filter(starts,
                               p -> p <= j AND j < p + {_SPAN_W})) > 0)
             END AS kept
      FROM t LEFT JOIN s USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           -- DuckDB's array_to_string of an EMPTY list is NULL; Spark's
           -- array_join is '' — align on '' (fully-stripped docs)
           coalesce(array_to_string(kept, ' '), '') AS text_stripped
    FROM k
    """,
)
def text_dup_spans_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL on top of the duplication profile — the operator Lee
    et al. 2022 actually run (exact-substring dedup DELETES the duplicated
    spans; :func:`text_dup_spans` only measures them). A token survives
    iff no duplicated w-token window covers it; the emitted text is the
    surviving tokens rejoined.

    Same two keyed exchanges as the profile (window-text count, then a
    per-doc rollup — here of duplicated START positions instead of a
    count) plus one doc_id-keyed join of the start-lists back onto the
    token arrays; coverage expansion (start list -> per-token verdict) is
    a native higher-order filter over the token array, zero extra
    shuffles and no UDF. At 100 TB the start-list rollup rows are
    doc_id + a small int list — the production variant keys the window
    count on xxhash64: :func:`text_dup_spans_strip_hashed` (r10), pinned
    row-identical to this query."""
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    t = F.col("t")
    n_windows = F.greatest(F.size(t) - (_SPAN_W - 1), F.lit(0))
    grams_full = F.transform(
        t, lambda x, i: F.array_join(F.slice(t, i + 1, _SPAN_W), " ")
    )
    grams = F.slice(grams_full, F.lit(1), n_windows)
    g = with_t.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    dup_grams = (
        g.groupBy("gram").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    ).select("gram")
    starts = (
        g.join(dup_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("starts"))
    )
    joined = with_t.join(starts, "doc_id", "left")
    starts_arr = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    # 0-based here vs 1-based in the SQL twin — consistent within each
    # engine, so the covered set is identical
    kept = F.filter(
        t,
        lambda x, i: ~F.exists(
            starts_arr, lambda p: (p <= i) & (i < p + _SPAN_W)
        ),
    )
    return joined.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept_tokens"),
        F.array_join(kept, " ").alias("text_stripped"),
    )


@register(
    "text_dup_spans_strip_hashed",
    rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(t) - {_SPAN_W} + 2),
            i -> {{'pos': i,
                   'gram': array_to_string(list_slice(t, i, i + {_SPAN_W} - 1), ' ')}})) AS u
        FROM t WHERE len(t) >= {_SPAN_W}
      )
    ),
    d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
    s AS (SELECT doc_id, list(pos) AS starts FROM g JOIN d USING (gram) GROUP BY doc_id),
    k AS (
      SELECT doc_id, t,
             CASE WHEN starts IS NULL THEN t
                  ELSE list_filter(t, (x, j) ->
                         NOT len(list_filter(starts,
                               p -> p <= j AND j < p + {_SPAN_W})) > 0)
             END AS kept
      FROM t LEFT JOIN s USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept_tokens,
           coalesce(array_to_string(kept, ' '), '') AS text_stripped
    FROM k
    """,
)
def text_dup_spans_strip_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production shape of :func:`text_dup_spans_strip` — the twin its
    docstring promises: the global window count AND
    the duplicated-start-position rollup key on ``xxhash64(window)``
    (8 bytes) instead of the window text (~15 words ≈ 100+ bytes), the
    same ~12× exchange shrinkage :func:`text_dup_spans_hashed` buys the
    profile — at 100 TB the window exchange is the operator's dominant
    cost, corpus×15 bytes text-keyed. Collision math as there: one 64-bit
    collision per ~2^32 distinct windows, worst effect one span falsely
    stripped. Same plan shape (two keyed exchanges + one doc_id join +
    native higher-order coverage filter). The oracle is the TEXT-keyed
    SQL — exact agreement certifies collision-freedom at the gate — and
    tests pin row-identity to text_dup_spans_strip."""
    docs = read_table(spark, sf_dir, "documents")
    with_t = docs.select("doc_id", tokens("text").alias("t"))
    t = F.col("t")
    n_windows = F.greatest(F.size(t) - (_SPAN_W - 1), F.lit(0))
    hashes_full = F.transform(
        t, lambda x, i: F.xxhash64(F.array_join(F.slice(t, i + 1, _SPAN_W), " "))
    )
    hashes = F.slice(hashes_full, F.lit(1), n_windows)
    g = with_t.select("doc_id", F.posexplode(hashes).alias("pos", "h"))
    dup = (
        g.groupBy("h").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    ).select("h")
    starts = (
        g.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("starts"))
    )
    joined = with_t.join(starts, "doc_id", "left")
    starts_arr = F.coalesce(F.col("starts"), F.array().cast("array<int>"))
    kept = F.filter(
        t,
        lambda x, i: ~F.exists(
            starts_arr, lambda p: (p <= i) & (i < p + _SPAN_W)
        ),
    )
    return joined.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept_tokens"),
        F.array_join(kept, " ").alias("text_stripped"),
    )


# -- per-domain quota cap -----------------------------------------------------
# C4/Gopher-style domain capping: no single source may contribute more
# than K documents to the training mix (hot domains — content farms,
# boilerplate-heavy hosts — otherwise dominate token mass). Keep the K
# best by a quality proxy (n_chars here; any scored column composes),
# deterministic tiebreak on doc_id.
#
# 100 TB shape — two-phase top-K: a plain per-source rank window puts an
# ENTIRE hot domain in one task (the classic skew cliff: one domain can
# be 1% of a crawl). Phase 1 ranks within (source, salt) — 8-way salt on
# the doc id — and keeps each salt's local top-K, so the corpus-sized
# exchange spreads every domain over 8 tasks and the phase-2 source-keyed
# exchange carries at most 8K rows per source. Phase 2's global rank over
# that superset equals the single-window rank exactly (every global
# top-K row is in its salt's top-K). The oracle IS the single window.

_CAP_K = 15
_CAP_SALT = 8


@register(
    "curation_domain_cap",
    f"""
    SELECT doc_id, source, cap_rank, n_chars FROM (
      SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS INT) AS cap_rank
      FROM documents
    )
    WHERE cap_rank <= {_CAP_K}
    """,
)
def curation_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the top-15 docs per source by n_chars (doc_id tiebreak):
    (doc_id, source, cap_rank, n_chars). Two-phase salted top-K — see
    the module comment above for why the plain window doesn't scale."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    local = Window.partitionBy(
        "source", F.pmod(F.xxhash64("doc_id"), F.lit(_CAP_SALT))
    ).orderBy(F.desc("n_chars"), F.asc("doc_id"))
    pruned = (
        d.withColumn("_lr", F.row_number().over(local))
        .filter(F.col("_lr") <= _CAP_K)
        .drop("_lr")
    )
    final = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        pruned.withColumn("cap_rank", F.row_number().over(final).cast("int"))
        .filter(F.col("cap_rank") <= _CAP_K)
        .select("doc_id", "source", "cap_rank", "n_chars")
    )
