"""Oracle-checked LLM-data-pipeline queries (driver mandate §2.11 / X1-X5).

Dedup (exact / MinHash-LSH / n-gram Jaccard / SimHash / embedding-cosine),
similarity search (brute-force + hyperplane LSH), text analysis, and the
multimodal metadata path — every one with a DuckDB twin. The MinHash and
LSH oracles replicate the FULL pipeline (md5 min-hashing, banding, bucket
join, exact verify) in SQL, which works because the engine deliberately
uses portable md5-hex hashing (operators/dedup.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.dedup import (
    DEFAULT_BANDS,
    DEFAULT_NUM_HASHES,
    exact_dedup_groups,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash_bits,
)
from streaming_data_pipeline_capstone_spark.operators.multimodal import pack_binary
from streaming_data_pipeline_capstone_spark.operators.similarity import (
    brute_force_pairs,
    cosine,
    lsh_similar_pairs,
)
from streaming_data_pipeline_capstone_spark.operators.textstats import (
    fingerprint,
    lang_guess,
    lang_scores,
    mean_word_len,
    punct_ratio,
    quality_score,
    token_count,
)
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

# ---------------------------------------------------------------------------
# shared DuckDB fragments (kept in lockstep with operators/textstats.py)
# ---------------------------------------------------------------------------

_D_TOKS = r"string_split_regex(lower(trim(text)), '\s+')"
# distinct word 3-gram shingles; short docs → whole text as one shingle
_D_SETS = f"""
  sets AS (
    SELECT doc_id AS doc,
           CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                ELSE list_distinct(list_transform(range(1, len(t)-1),
                       i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))) END AS shingles
    FROM (SELECT doc_id, {_D_TOKS} AS t FROM documents)
  )
"""

_JACCARD = (
    "round(CAST(len(list_intersect(s1.shingles, s2.shingles)) AS DOUBLE)"
    " / (len(s1.shingles) + len(s2.shingles)"
    " - len(list_intersect(s1.shingles, s2.shingles))), 6)"
)


def _minhash_sql(num_hashes: int = DEFAULT_NUM_HASHES, bands: int = DEFAULT_BANDS) -> str:
    """DuckDB replica of the engine's MinHash-LSH candidate generation
    (chunked scheme: 4 hashes per seeded md5 — operators/dedup.py)."""
    r = num_hashes // bands
    n_seeds = (num_hashes + 3) // 4
    h_cols = ",\n           ".join(
        f"md5(concat('{s}|', s)) AS h{s}" for s in range(n_seeds)
    )
    mh_cols = ",\n           ".join(
        f"min(substr(h{i // 4}, {(i % 4) * 8 + 1}, 8)) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = "\n    UNION ALL ".join(
        "SELECT doc, {b} AS band_id, md5(concat_ws('|', {parts})) AS bh FROM sigs".format(
            b=b, parts=", ".join(f"mh{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
  sh AS (SELECT doc, unnest(shingles) AS s FROM sets),
  hashed AS (
    SELECT doc,
           {h_cols}
    FROM sh
  ),
  sigs AS (
    SELECT doc,
           {mh_cols}
    FROM hashed GROUP BY doc
  ),
  bands AS (
    {band_selects}
  ),
  cand AS (
    SELECT DISTINCT a.doc AS d1, b.doc AS d2
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc < b.doc
  )
"""


# -- X1: exact dedup ----------------------------------------------------------
@register(
    "dedup_exact",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           MIN(doc_id) AS representative_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


# -- X2: MinHash + LSH near-dedup (full pipeline, oracle-replicated) ----------
@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_D_SETS},
    {_minhash_sql()}
    SELECT doc1, doc2, jaccard FROM (
      SELECT d1 AS doc1, d2 AS doc2, {_JACCARD} AS jaccard
      FROM cand JOIN sets s1 ON s1.doc = d1 JOIN sets s2 ON s2.doc = d2
    ) WHERE jaccard >= 0.6
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.6)


# -- X2b: exact n-gram Jaccard (ground truth for MinHash recall) --------------
@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_D_SETS},
    sh AS (SELECT doc, unnest(shingles) AS s FROM sets),
    cand AS (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc
    )
    SELECT doc1, doc2, jaccard FROM (
      SELECT d1 AS doc1, d2 AS doc2, {_JACCARD} AS jaccard
      FROM cand JOIN sets s1 ON s1.doc = d1 JOIN sets s2 ON s2.doc = d2
    ) WHERE jaccard >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.6)


# -- X2c: SimHash fingerprints -------------------------------------------------
_SIMHASH_BITS_SQL = ",\n      ".join(
    "CASE WHEN list_sum(list_transform(toks, t -> CASE WHEN substr(md5(t), {p}, 1)"
    " IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0"
    " THEN '1' ELSE '0' END".format(p=p)
    for p in range(1, 17)
)


@register(
    "dedup_simhash",
    f"""
    WITH d AS (SELECT doc_id, list_distinct({_D_TOKS}) AS toks FROM documents)
    SELECT doc_id, concat({_SIMHASH_BITS_SQL}) AS simhash FROM d
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash_bits("text").alias("simhash"))


# -- X2d: embedding-cosine near-dup pairs (exact) -------------------------------
@register(
    "dedup_embedding_cosine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT id1, id2, cosine_sim FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cosine_sim >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return brute_force_pairs(emb, threshold=0.45)


# -- X3: brute-force cosine top-k ------------------------------------------------
@register(
    "sim_topk_bruteforce",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
    SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS cosine_sim
    FROM e CROSS JOIN q
    ORDER BY cosine_sim DESC, vec_id
    LIMIT 20
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    query = emb.filter(F.col("vec_id") == 0).select(as_double.alias("qv"))
    scored = emb.select(
        "vec_id", as_double.alias("v")
    ).crossJoin(F.broadcast(query)).select(
        "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cosine_sim")
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(20)


# -- X3b: hyperplane-LSH similar pairs (the scale path, oracle-replicated) -------
_N_PLANES, _DIM, _SIM_T = 6, 64, 0.4
# banded (OR-amplified) variant: collision prob for angular similarity p
# is 1-(1-p^PLANES)^BANDS; at the 0.4 threshold (p≈0.63) these give ≥0.93
# expected recall, measured 0.97 (tests/test_llm_ops.py pins it)
_BAND_PLANES, _N_BANDS = 4, 16


def _lsh_sig_sql(num_planes: int = _N_PLANES, plane_offset: int = 0) -> str:
    # plane[j][i] = 2*frac(sin(j*1009+i)*43758.5453)-1 — MUST stay in
    # lockstep with operators/similarity.hyperplane_signature (see its
    # docstring for why the fract-hash decorrelation step is load-bearing)
    def comp(j: int) -> str:
        s = f"sin({j} * 1009 + i - 1) * 43758.5453"
        return f"(2 * (({s}) - floor({s})) - 1)"

    bits = ",\n        ".join(
        "CASE WHEN list_sum(list_transform(range(1, {d}+1),"
        " i -> v[i] * {c})) > 0 THEN '1' ELSE '0' END".format(d=_DIM, c=comp(j))
        for j in range(plane_offset, plane_offset + num_planes)
    )
    return f"concat({bits})"


@register(
    "sim_lsh_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (SELECT vec_id, v, {_lsh_sig_sql()} AS s FROM e)
    SELECT id1, id2, cosine_sim FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id
    ) WHERE cosine_sim >= {_SIM_T}
    """,
)
def sim_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_similar_pairs(emb, threshold=_SIM_T, num_planes=_N_PLANES, dim=_DIM)


# banded OR-amplification: same verify-exact pair semantics, recall raised
# from p^planes to 1-(1-p^planes)^bands. The oracle unions per-band bucket
# joins and dedups — training-free, fully SQL-expressible.
def _banded_oracle(planes: int, bands: int, threshold: float, plant: bool = False) -> str:
    """Unrolled banded-LSH oracle at a FIXED (planes, bands) config — the
    config the corpus-scaling rule resolves to at the driver's gate SFs.

    ``plant`` mirrors ``_with_planted_neardups``: a perturbed copy of every
    ``vec_id % _NEARDUP_PLANT_MOD == 0`` vector is unioned in under a
    disjoint id range, so the near-dup gate checks known positives instead
    of hash-matching an empty frame."""
    e_cte = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
    if plant:
        e_cte = f"""SELECT vec_id, v FROM b0
      UNION ALL
      SELECT vec_id + {_NEARDUP_PLANT_OFF},
             list_transform(v, x -> x * {_NEARDUP_PLANT_SCALE} + {_NEARDUP_PLANT_SHIFT})
      FROM b0 WHERE vec_id % {_NEARDUP_PLANT_MOD} = 0"""
        return f"""
    WITH b0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    e AS ({e_cte}),
    bands AS (
      {" UNION ALL ".join(
          f'''SELECT vec_id, v, {b} AS band,
              {_lsh_sig_sql(planes, b * planes)} AS s FROM e'''
          for b in range(bands)
      )}
    )
    SELECT DISTINCT id1, id2, cosine_sim FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.s = b.s AND a.vec_id < b.vec_id
    ) WHERE cosine_sim >= {threshold}
    """
    return f"""
    WITH e AS ({e_cte}),
    bands AS (
      {" UNION ALL ".join(
          f'''SELECT vec_id, v, {b} AS band,
              {_lsh_sig_sql(planes, b * planes)} AS s FROM e'''
          for b in range(bands)
      )}
    )
    SELECT DISTINCT id1, id2, cosine_sim FROM (
      SELECT a.vec_id AS id1, b.vec_id AS id2,
             round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.s = b.s AND a.vec_id < b.vec_id
    ) WHERE cosine_sim >= {threshold}
    """


@register("sim_lsh_pairs_banded", _banded_oracle(_BAND_PLANES, _N_BANDS, _SIM_T))
def sim_lsh_pairs_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_similar_pairs(
        emb,
        threshold=_SIM_T,
        num_planes=_BAND_PLANES,
        dim=_DIM,
        num_bands=_N_BANDS,
    )


# corpus-scaled banded config: band width is a
# corpus-size knob — a fixed (planes, bands) only fits one corpus size.
# operators/similarity.banded_lsh_config holds expected bucket occupancy
# at the sf1-proven target and grows bands to keep per-pair recall ≥0.93
# (recall is corpus-size-independent, so the sf0.1 recall test certifies
# any n). At the correctness gate's sf0.01/sf0.001 the rule resolves to
# exactly (4, 16), which is what the static oracle below unrolls; at
# sf10's 200k vectors it scales to (7, 66). The corpus count that picks
# the config is one metadata-only parquet count job.
@register("sim_lsh_pairs_banded_scaled", _banded_oracle(_BAND_PLANES, _N_BANDS, _SIM_T))
def sim_lsh_pairs_banded_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        banded_lsh_band_batch,
        banded_lsh_config,
        vector_elem_bytes,
    )

    n = read_table(spark, sf_dir, "embeddings").count()
    emb = read_table(spark, sf_dir, "embeddings")
    planes, bands = banded_lsh_config(n, threshold=_SIM_T)
    return lsh_similar_pairs(
        emb,
        threshold=_SIM_T,
        num_planes=planes,
        dim=_DIM,
        num_bands=bands,
        band_batch=banded_lsh_band_batch(
            n, bands, _DIM, elem_bytes=vector_elem_bytes(emb)
        ),
    )


# near-dup-threshold banded variant: 0.4 is the
# deliberately-low stress threshold, but it sits only ~3.2 sd above the
# RANDOM-pair cosine noise at dim=64 (sd ~ 1/sqrt(dim) = 0.125), so pair
# output is quadratic in n for ANY corpus — the bulk tail, not duplicates.
# Real near-dup dedup runs at a threshold far above the bulk (0.7 here =
# 5.6 sd: expected random-tail pairs ~0 even at 2e10 candidate pairs), where
# output tracks the corpus's actual duplicate density — linear in n when
# density is constant, which is what the natural-growth decade measures.
# The driver's gate corpora contain no natural >=0.7 pairs (max pair cosine
# 0.51), which made the gate a hash of an EMPTY frame. So (the
# curation_pii_scrub precedent) the query PLANTS deterministic
# near-dups in-flight — for every vec_id % 83 == 0 a perturbed copy
# (v*0.9 + 0.01 elementwise, cosine ≈ 0.99 to its source at dim=64) is
# unioned in under a disjoint id range — identically in both engines, so
# the oracle verifies band-bucket candidate generation AND exact verify on
# known positives (7 planted pairs at sf0.01). The planted copies stay
# far below threshold vs every OTHER vector (bulk max 0.51 + the small
# perturbation), so the output is exactly the planted pairs plus any
# natural near-dups a larger corpus contains. The banded config is keyed
# to the UNplanted corpus count (the plant is gate instrumentation, ~1.2%
# rows — never a config input). The 0.7-threshold SEMANTICS remain pinned
# by tests/test_llm_ops.py's planted-fixture recall/precision gate.
_NEARDUP_T = 0.7
_NEARDUP_GATE_PLANES, _NEARDUP_GATE_BANDS = 4, 8  # banded_lsh_config(500, 0.7)
_NEARDUP_PLANT_MOD = 83
_NEARDUP_PLANT_OFF = 10_000_000  # disjoint from any fixture id range (max 5M at sf100)
_NEARDUP_PLANT_SCALE, _NEARDUP_PLANT_SHIFT = 0.9, 0.01


def _with_planted_neardups(emb: DataFrame) -> DataFrame:
    """Union a perturbed near-dup copy of every % _NEARDUP_PLANT_MOD
    vector. Vectors are cast float32→float64 FIRST (exact) so the
    perturbation arithmetic (x*0.9 + 0.01, left-assoc) is the same IEEE
    double sequence the oracle's list_transform runs.

    Loud guard (ADVICE r10): a real vec_id at or above the plant offset
    would collide with a planted id and silently corrupt pair identity,
    so any such row raises instead of flowing through."""
    vid_guarded = F.when(
        F.col("vec_id") < _NEARDUP_PLANT_OFF, F.col("vec_id")
    ).otherwise(
        F.raise_error(
            F.lit(
                "vec_id >= _NEARDUP_PLANT_OFF "
                f"({_NEARDUP_PLANT_OFF}): planted near-dup ids would "
                "collide with real ids — raise the offset"
            )
        ).cast("bigint")
    )
    base = emb.select(
        vid_guarded.alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    planted = base.filter(F.col("vec_id") % _NEARDUP_PLANT_MOD == 0).select(
        (F.col("vec_id") + _NEARDUP_PLANT_OFF).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x: x * F.lit(_NEARDUP_PLANT_SCALE) + F.lit(_NEARDUP_PLANT_SHIFT),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


@register(
    "sim_lsh_pairs_banded_neardup",
    _banded_oracle(_NEARDUP_GATE_PLANES, _NEARDUP_GATE_BANDS, _NEARDUP_T, plant=True),
)
def sim_lsh_pairs_banded_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        banded_lsh_band_batch,
        banded_lsh_config,
        vector_elem_bytes,
    )

    n = read_table(spark, sf_dir, "embeddings").count()
    emb = _with_planted_neardups(read_table(spark, sf_dir, "embeddings"))
    planes, bands = banded_lsh_config(n, threshold=_NEARDUP_T)
    return lsh_similar_pairs(
        emb,
        threshold=_NEARDUP_T,
        num_planes=planes,
        dim=_DIM,
        num_bands=bands,
        band_batch=banded_lsh_band_batch(
            n, bands, _DIM, elem_bytes=vector_elem_bytes(emb)
        ),
    )


# -- X4: text statistics -----------------------------------------------------------
@register(
    "text_stats",
    rf"""
    WITH d AS (SELECT doc_id, text, {_D_TOKS} AS t FROM documents)
    SELECT doc_id,
           len(t) AS n_tokens,
           length(text) AS n_chars,
           round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / greatest(len(t), 1), 6) AS mean_word_len,
           round(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(0.4 * least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
               + 0.3 * (CASE WHEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                                  / greatest(len(t), 1) BETWEEN 3.0 AND 10.0
                              THEN 1.0 ELSE 0.5 END)
               + 0.3 * (1.0 - least(CAST(length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS DOUBLE)
                                    / greatest(length(text), 1) * 5.0, 1.0)), 6) AS quality
    FROM d
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(mean_word_len("text"), 6).alias("mean_word_len"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        quality_score("text").alias("quality"),
    )


# -- X4b: language-ID heuristic ------------------------------------------------------
_LANG_WORDS = {
    "en": ("the", "and", "of", "to", "a", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "es": ("el", "los", "las", "es", "una", "por"),
}
_D_LANG_COUNTS = ",\n           ".join(
    "len(list_filter(t, x -> x IN ({words}))) AS score_{lang}".format(
        words=", ".join(f"'{w}'" for w in ws), lang=lang
    )
    for lang, ws in _LANG_WORDS.items()
)


@register(
    "text_lang_id",
    f"""
    WITH d AS (SELECT doc_id, lang, {_D_TOKS} AS t FROM documents),
    scored AS (
      SELECT doc_id, lang,
           {_D_LANG_COUNTS}
      FROM d
    )
    SELECT doc_id, lang AS lang_label, score_en, score_de, score_fr, score_es,
           CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
                WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                ELSE 'es' END AS lang_guess
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        *[scores[lang].alias(f"score_{lang}") for lang in _LANG_WORDS],
        lang_guess("text").alias("lang_guess"),
    )


# -- X4c: document fingerprinting -----------------------------------------------------
@register(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS n_chars_norm
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        fingerprint("text").alias("fp"),
        F.length(normalized).alias("n_chars_norm"),
    )


# -- X5: multimodal binary metadata path ------------------------------------------------
@register(
    "multimodal_binary_meta",
    """
    SELECT doc_id,
           'application/octet-stream' AS mime,
           CAST(length(text) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload packing — the payload column itself stays out of the
    result (and out of any shuffle); docs are ASCII so octet_length ==
    char length in the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    packed = pack_binary(docs, "text")
    return packed.select(
        "doc_id",
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.checksum").alias("checksum"),
    )
