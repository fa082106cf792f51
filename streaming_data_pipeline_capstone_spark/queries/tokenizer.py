"""Tokenizer operators — distributed BPE vocabulary training, corpus
encoding, and fixed-width training-sequence chunking (LLM-training-data
mandate; the reference has no tokenizer stage — its pipeline ends at
geo/kinematic analytics, reference preprocess.py:1-80).

**BPE training** (Sennrich et al. 2016, public): iteratively merge the
most frequent adjacent symbol pair. The classic scalable formulation —
used by every real trainer — runs on the WORD-COUNT table, not the
corpus: tokenize once, count distinct words (one corpus-sized exchange),
then every merge iteration touches only vocabulary-sized state
(pair-count groupBy + a 1-row argmax broadcast back into a literal
string replace). At 100 TB the corpus is petabyte-scale but the distinct
word table is ~10^7-10^8 short strings — executor-memory-sized — so the
N merge rounds cost N vocabulary-table passes, NOT N corpus passes.

Symbol-sequence representation: the per-word symbol list is a DOUBLE-
space-joined string padded with two spaces at each end
(``'  l  o  w  </w>  '``). Applying merge (a, b) is then the literal
replace ``' a  b ' -> ' ab '``: each match consumes one space from each
flank (leaving the other intact, so the separator invariant survives),
and left-to-right non-overlapping replace semantics — identical in Spark
``replace`` and DuckDB ``replace`` — reproduce classic BPE's greedy
left-to-right merge scan exactly, INCLUDING consecutive occurrences
(``'  a  a  a  a  '`` -> ``'  aa  aa  '``, because the double separator
means adjacent matches do not share a consumed character; a single-space
representation would merge only alternate pairs). Tie-break: highest
pair count, then (left, right) ascending — deterministic in both
engines.

Every step is a pure relational expression, so the DuckDB oracle unrolls
the same N iterations as CTEs and the driver hash-compares real learned
merges, not a fixture.

**Encoding** broadcasts the trained per-word token counts back onto the
corpus: explode + broadcast-hash join + one map-side-combined groupBy
doc_id — a single corpus exchange carrying per-doc partial sums. (If the
vocabulary outgrows the broadcast threshold the same plan degrades
gracefully to a shuffle join on the word key; nothing here assumes the
corpus fits anywhere.)

**Chunking** (`chunk_fixed_tokens`) splits each document's token stream
into fixed-width windows with overlap (stride < width), the standard
training-sequence prep. Shuffle-free: per-row ``sequence`` + ``slice`` +
``posexplode`` inside codegen, output rows ≈ corpus tokens / stride.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.cache import scoped_persist
from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

_N_MERGES = 8
_EOW = "</w>"  # end-of-word marker symbol (Sennrich's convention)


def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, cnt) over the whitespace-tokenized corpus — the ONE
    corpus-sized exchange in BPE training."""
    # NO spread_small_input here (r15 A/B): the word-count frame is
    # re-evaluated by the trainer's merge rounds, so every round re-pays
    # the round-robin exchange (plus its sortBeforeRepartition) — measured
    # tokenizer_bpe_encode 3.58 s spread vs 3.12 s unspread at sf0.1.
    docs = read_table(spark, sf_dir, "documents").select("text").select(
        tokens("text").alias("t")
    )
    return (
        docs.select(F.explode("t").alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _seed_symbols(words: DataFrame) -> DataFrame:
    """Add the double-space-separated symbol string: chars + </w>."""
    # (?s): Java '.' excludes U+2028/U+2029/U+0085 that RE2 '.' keeps
    # (and vice versa for \n) — DOTALL makes both engines take every
    # char, so symbol lists can never diverge on exotic whitespace
    chars = F.regexp_extract_all("word", F.lit("(?s)."), F.lit(0))
    sym = F.concat(
        F.lit("  "),
        F.array_join(F.concat(chars, F.array(F.lit(_EOW))), "  "),
        F.lit("  "),
    )
    return words.select("word", "cnt", sym.alias("s"))


def _pair_counts(w: DataFrame) -> DataFrame:
    """(a, b, pair_count): adjacent-symbol pair frequencies, weighted by
    word count. Vocabulary-sized input; one (a, b) exchange."""
    return (
        w.select("cnt", F.split(F.trim("s"), "  ").alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1),"
                    " j -> struct(l[j-1] AS a, l[j] AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _apply_merge(w: DataFrame, a: str, b: str) -> DataFrame:
    """Replace ``' a  b '`` with ``' ab '`` everywhere — a literal,
    codegen-friendly string replace over the vocabulary frame."""
    return w.withColumn("s", F.replace("s", F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")))


def _bpe_train_chain(
    spark: SparkSession, sf_dir: str, n_merges: int = _N_MERGES
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """Run ``n_merges`` BPE iterations; return (final word-symbol frame,
    learned merges as (rank, left, right, pair_count) tuples).

    The argmax pair is COLLECTED each round — one row, the package's
    metadata-collect convention (IRLS stats, k-means centroid inits):
    iterative trainers make their per-round decision on the driver.
    Keeping the winner as a lazy frame instead (crossJoin + broadcast)
    is a trap: each round would reference the previous vocabulary frame
    twice, and even with eager persists Catalyst still canonicalizes
    the full logical plan for cache lookup, which doubles per round —
    measured 2 s/round through round 4, 98 s at round 6. With literal
    merges the chain is ``n_merges`` collapsible projections over the
    one persisted vocabulary frame.
    """
    w = scoped_persist(_seed_symbols(_word_counts(spark, sf_dir)), eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for i in range(1, n_merges + 1):
        row = (
            _pair_counts(w)
            .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not row:  # every word fully merged — corpus-degenerate; stop
            break
        a, b, cnt = row[0].a, row[0].b, row[0].pair_count
        merges.append((i, a, b, int(cnt)))
        w = _apply_merge(w, a, b)
    return w, merges


# -- oracles: the same N iterations unrolled as DuckDB CTEs ------------------


def _bpe_ctes(n_merges: int = _N_MERGES) -> str:
    """CTE chain ending in ``s{n}`` (word, cnt, s) and ``b1..b{n}``
    (a, b, pair_count). list_zip structs are unnamed -> numeric access.

    Every s_i / b_i is ``AS MATERIALIZED``: each is referenced twice
    downstream (s_i feeds both p_{i+1} and s_{i+1}; b_i feeds both the
    merge output and s_i), so DuckDB's default CTE inlining would expand
    the chain 2^n-fold (the same planner collapse the PQ oracles hit)."""
    parts = [
        f"""wc AS MATERIALIZED (
      SELECT term AS word, count(*) AS cnt
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            FROM documents)
      GROUP BY 1
    ),
    s0 AS MATERIALIZED (
      SELECT word, cnt,
             '  ' || array_to_string(
                       list_append(regexp_extract_all(word, '(?s).'), '{_EOW}'),
                       '  ') || '  ' AS s
      FROM wc
    )"""
    ]
    for i in range(1, n_merges + 1):
        prev = f"s{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (
        SELECT cnt, unnest(list_zip(l, l[2:])) AS pr
        FROM (SELECT cnt, string_split(trim(s, ' '), '  ') AS l FROM {prev})
        WHERE len(l) >= 2
      )
      WHERE pr[2] IS NOT NULL
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT a, b, pair_count FROM p{i}
      ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1
    ),
    s{i} AS MATERIALIZED (
      SELECT word, cnt,
             CASE WHEN m.a IS NULL THEN s
                  ELSE replace(s, ' ' || m.a || '  ' || m.b || ' ',
                                  ' ' || m.a || m.b || ' ')
             END AS s
      FROM {prev} LEFT JOIN b{i} m ON TRUE
    )"""
        )
    return ",\n    ".join(parts)


def _bpe_train_oracle(n_merges: int = _N_MERGES) -> str:
    rows = "\n      UNION ALL ".join(
        f"SELECT {i} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
    WITH {_bpe_ctes(n_merges)}
    SELECT * FROM ({rows})
    ORDER BY merge_rank
    """


def _bpe_encode_oracle(n_merges: int = _N_MERGES) -> str:
    return f"""
    WITH {_bpe_ctes(n_merges)},
    pw AS (
      SELECT word,
             len(string_split(trim(s, ' '), '  ')) AS w_bpe,
             length(word) + 1 AS w_sym
      FROM s{n_merges}
    ),
    dt AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(w_sym) AS BIGINT) AS n_sym_tokens,
           CAST(SUM(w_bpe) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(w_sym) AS DOUBLE) / SUM(w_bpe), 6) AS compression
    FROM dt JOIN pw USING (word)
    GROUP BY doc_id
    """


@register("tokenizer_bpe_train", _bpe_train_oracle())
def tokenizer_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the top-8 BPE merges over the corpus: (merge_rank, left_sym,
    right_sym, merged, pair_count). Oracle unrolls the identical 8
    iterations in SQL — the driver compares LEARNED merges."""
    _, merges = _bpe_train_chain(spark, sf_dir)
    return spark.createDataFrame(
        [(r, a, b, a + b, c) for r, a, b, c in merges],
        "merge_rank INT, left_sym STRING, right_sym STRING,"
        " merged STRING, pair_count BIGINT",
    )


@register("tokenizer_bpe_encode", _bpe_encode_oracle())
def tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the 8 learned merges: per-doc word count,
    pre-merge symbol count (chars + </w>), post-merge BPE token count,
    and compression ratio. One corpus exchange (map-side-combined
    groupBy doc_id after a broadcast vocabulary join)."""
    w, _ = _bpe_train_chain(spark, sf_dir)
    per_word = w.select(
        "word",
        F.size(F.split(F.trim("s"), "  ")).alias("w_bpe"),
        (F.length("word") + F.lit(1)).alias("w_sym"),
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    return (
        docs.select("doc_id", F.explode("t").alias("word"))
        .join(F.broadcast(per_word), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("w_sym").alias("n_sym_tokens"),
            F.sum("w_bpe").alias("n_bpe_tokens"),
            F.round(
                F.sum("w_sym").cast("double") / F.sum("w_bpe"), 6
            ).alias("compression"),
        )
    )


# -- fixed-width training-sequence chunking ----------------------------------

_CHUNK = 32   # tokens per training sequence
_STRIDE = 24  # window stride (8-token overlap)

_CHUNK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, t, unnest(range(0, len(t), {_STRIDE})) AS start
      FROM d
    )
    SELECT doc_id,
           CAST(start / {_STRIDE} AS INT) AS chunk_idx,
           CAST(least(len(t) - start, {_CHUNK}) AS INT) AS n_tokens,
           md5(array_to_string(list_slice(t, start + 1, start + {_CHUNK}), ' ')) AS chunk_md5
    FROM st
    """


@register("chunk_fixed_tokens", _CHUNK_ORACLE)
def chunk_fixed_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into 32-token training sequences at stride
    24 (8-token overlap): (doc_id, chunk_idx, n_tokens, chunk_md5).
    Shuffle-free — sequence/slice/explode run inside the
    scan's codegen span; at 100 TB this is a pure map stage whose output
    feeds the pack/shard writers downstream."""
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    return (
        d.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.size("t") - 1,
                    F.lit(_STRIDE),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            (F.col("start") / _STRIDE).cast("int").alias("chunk_idx"),
            F.least(
                F.size("t") - F.col("start"), F.lit(_CHUNK)
            ).cast("int").alias("n_tokens"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.slice("t", F.col("start") + 1, _CHUNK), " "
                    ),
                    "UTF-8",
                )
            ).alias("chunk_md5"),
        )
    )


# -- deployment shape: shipped merge table, zero training jobs ----------------
# The per-invocation trainer above proves the training loop is
# oracle-correct; a production pipeline tokenizes with a FROZEN vocab
# (the PQ-codebook deployment convention, tools/train_codebooks.py).
# tools/train_bpe.py trains ONCE to pair exhaustion on the sf0.01 sample
# (106 merges on this corpus — its 31-word vocabulary is the cap; the
# trainer takes any n) and ships the merge table as literals in
# queries/bpe_vocab.py.
#
# The encode path is the one that must scale with VOCAB SIZE, and the
# r12 replace-chain did not: n_merges nested replaces is O(vocab) plan
# depth and O(vocab) per-row work — a real 30k-50k-merge tokenizer would
# not compile. The deploy encode now applies the frozen
# merges ONLY to the corpus's DISTINCT-WORD frame through an
# Arrow-batched pandas pass (operators/bpe.segment_word, rank-ordered —
# provably equal to priority-order BPE because a merge's operands are
# created strictly before it), then broadcasts (word -> token count)
# back onto the corpus: the Python cost is O(distinct words x merges),
# never corpus-sized, and the PLAN is two joins + one agg at ANY vocab
# size. tests/test_tokenizer_vocab.py runs the same path at a
# 1,024-merge synthetic vocabulary to prove the batch axis.
#
# The oracle replays the identical rank-ordered application as a
# DuckDB RECURSIVE CTE joined to a merges VALUES table (n_merges
# iterations over the vocab frame — no O(vocab)-deep expression there
# either), so the gate checks deployment-vs-SQL at the full shipped
# vocab. Merge symbols are quote-escaped when inlined (ADVICE r12).

_MAX_REPLACE_CHAIN = 64  # guard: the literal-replace expr is test/demo-only


def _fixed_merge_expr(col):
    """Chain shipped merges as nested literal replaces over ``col``.

    DEPTH-CAPPED: this is the comparison/demo path (tests pin it equal to
    the segmenting encode at small vocab sizes); the deploy path never
    builds O(vocab)-deep expressions."""
    from streaming_data_pipeline_capstone_spark.queries.bpe_vocab import MERGES

    if len(MERGES) > _MAX_REPLACE_CHAIN:
        raise ValueError(
            f"replace-chain encode capped at {_MAX_REPLACE_CHAIN} merges "
            f"(got {len(MERGES)}); use the segmenting deploy encode"
        )
    out = col
    for _, a, b, _ in MERGES:
        out = F.replace(out, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return out


def _sql_quote(s: str) -> str:
    """Escape a symbol for inlining in a SQL string literal (quotes
    doubled — shipped merges are alphanumeric today, but a retrained
    vocab with apostrophes must not break the oracle; ADVICE r12)."""
    return s.replace("'", "''")


def _fixed_encode_oracle(merges: list[tuple[int, str, str, int]]) -> str:
    """The deploy-encode oracle at any vocab size: a RECURSIVE CTE applies
    merge ``r+1`` to every word's symbol string at step ``r`` (the same
    double-space replace the trainer's unrolled CTEs use), terminating
    after len(merges) steps; per-word token counts then join the corpus.
    """
    vals = ", ".join(
        f"({r}, '{_sql_quote(a)}', '{_sql_quote(b)}')" for r, a, b, _ in merges
    )
    n = len(merges)
    return f"""
    WITH RECURSIVE merges(rank, a, b) AS (VALUES {vals}),
    wc AS (
      SELECT term AS word, count(*) AS cnt
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
            FROM documents)
      GROUP BY 1
    ),
    seg AS (
      SELECT word,
             '  ' || array_to_string(
                       list_append(regexp_extract_all(word, '(?s).'), '{_EOW}'),
                       '  ') || '  ' AS s,
             0 AS r
      FROM wc
      UNION ALL
      SELECT seg.word,
             replace(seg.s, ' ' || m.a || '  ' || m.b || ' ',
                            ' ' || m.a || m.b || ' '),
             seg.r + 1
      FROM seg JOIN merges m ON m.rank = seg.r + 1
    ),
    pw AS (
      SELECT word, len(string_split(trim(s, ' '), '  ')) AS w_bpe,
             length(word) + 1 AS w_sym
      FROM seg WHERE r = {n}
    ),
    dt AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
      FROM documents
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(w_sym) AS BIGINT) AS n_sym_tokens,
           CAST(SUM(w_bpe) AS BIGINT) AS n_bpe_tokens,
           round(CAST(SUM(w_sym) AS DOUBLE) / SUM(w_bpe), 6) AS compression
    FROM dt JOIN pw USING (word)
    GROUP BY doc_id
    """


try:  # bootstrap: tools/train_bpe.py imports this module BEFORE the
    # artifact it generates exists; skip registering the deploy twin then
    from streaming_data_pipeline_capstone_spark.queries import bpe_vocab  # noqa: F401

    _HAVE_VOCAB = True
except ImportError:
    _HAVE_VOCAB = False


def bpe_token_count_udf(merges: list[tuple[str, str]]):
    """Arrow-batched per-word BPE token counter for a frozen merge table.

    Runs over the DISTINCT-WORD frame only (vocabulary-sized — the
    declared pandas extension-point pattern: Python where per-row
    iterative merge application genuinely can't be a built-in, and only
    on metadata-scaled input). ``merges`` is captured by value so the
    UDF closure ships the table once per executor."""
    from pyspark.sql.functions import pandas_udf

    # no annotations: `from __future__ import annotations` stringifies
    # them and pandas_udf can't resolve strings against local imports
    @pandas_udf("int")
    def _w_bpe(words):
        from streaming_data_pipeline_capstone_spark.operators.bpe import (
            segment_word,
        )

        return words.map(lambda w: len(segment_word(w, merges)))

    return _w_bpe


def bpe_encode_with_merges(
    spark: SparkSession, sf_dir: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Deploy-path corpus encode for ANY frozen merge table: segment the
    distinct-word frame (pandas pass, O(words x merges) Python, one
    vocab-sized job), broadcast (word -> token count) back onto the
    corpus, one map-side-combined groupBy doc_id. Plan shape and
    expression depth are CONSTANT in vocab size."""
    per_word = (
        _word_counts(spark, sf_dir)
        .select("word")
        .select(
            "word",
            bpe_token_count_udf(merges)(F.col("word")).alias("w_bpe"),
            (F.length("word") + F.lit(1)).alias("w_sym"),
        )
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("t")
    )
    return (
        docs.select("doc_id", F.explode("t").alias("word"))
        .join(F.broadcast(per_word), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("w_sym").alias("n_sym_tokens"),
            F.sum("w_bpe").alias("n_bpe_tokens"),
            F.round(
                F.sum("w_sym").cast("double") / F.sum("w_bpe"), 6
            ).alias("compression"),
        )
    )


def _register_fixed(fn):
    if _HAVE_VOCAB:
        from streaming_data_pipeline_capstone_spark.queries.bpe_vocab import (
            MERGES,
        )

        return register(
            "tokenizer_bpe_encode_fixed", _fixed_encode_oracle(MERGES)
        )(fn)
    return fn


@_register_fixed
def tokenizer_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the SHIPPED merge table (bpe_vocab.MERGES,
    trained to pair exhaustion on the sf0.01 sample by
    tools/train_bpe.py): same output schema as tokenizer_bpe_encode,
    zero training jobs — per-word segmentation runs rank-ordered over the
    distinct-word frame (never an O(vocab)-deep replace chain)."""
    from streaming_data_pipeline_capstone_spark.queries.bpe_vocab import MERGES

    return bpe_encode_with_merges(
        spark, sf_dir, [(a, b) for _, a, b, _ in MERGES]
    )


# -- sequence-prep composition: chunk -> pack ---------------------------------
# The full training-sequence prep path: fixed-width chunking (above)
# feeding the token-budget packer (queries/curation._pack_bins, the
# hierarchical two-level prefix sum). Chunks are ordered by the integer
# uid = doc_id * 2^20 + chunk_idx (order-preserving, collision-free for
# any document under 2^20 chunks), so the packer's per-language running
# sum — and therefore bin_id — is deterministic and oracle-expressible
# as the plain window the pack oracle already uses. With 32-token chunks
# and the 512-token budget each full bin holds exactly 16 chunks; the
# straddling-doc overflow case of free-form packing disappears, which is
# WHY real pipelines chunk before packing.

_UID_BASE = 1 << 20

_CHUNK_PACK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS t
      FROM documents
    ),
    st AS (
      SELECT doc_id, lang, t, unnest(range(0, len(t), {_STRIDE})) AS start
      FROM d
    ),
    c AS (
      SELECT doc_id,
             CAST(start / {_STRIDE} AS INT) AS chunk_idx,
             lang,
             CAST(least(len(t) - start, {_CHUNK}) AS INT) AS n_tokens,
             doc_id * {_UID_BASE} + CAST(start / {_STRIDE} AS BIGINT) AS uid
      FROM st
    )
    SELECT doc_id, chunk_idx, lang, n_tokens,
           CAST(floor(coalesce(SUM(n_tokens) OVER (
                 PARTITION BY lang ORDER BY uid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / 512.0) AS BIGINT) AS bin_id
    FROM c
    """


@register("pipeline_chunk_pack", _CHUNK_PACK_ORACLE)
def pipeline_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk every document into 32-token sequences, then pack the chunks
    into 512-token training bins per language: (doc_id, chunk_idx, lang,
    n_tokens, bin_id). The pack runs the hierarchical prefix sum —
    bit-identical to the plain per-lang window the oracle states."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _doc_bucket_width,
        _pack_bins,
    )

    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", tokens("text").alias("t")
    )
    chunks = d.select(
        "doc_id",
        "lang",
        F.size("t").alias("_n"),
        F.explode(
            F.sequence(F.lit(0), F.size("t") - 1, F.lit(_STRIDE))
        ).alias("start"),
    ).select(
        "doc_id",
        (F.col("start") / _STRIDE).cast("int").alias("chunk_idx"),
        "lang",
        F.least(F.col("_n") - F.col("start"), F.lit(_CHUNK))
        .cast("int")
        .alias("n_tokens"),
    )
    # uid packing is collision-free only for chunk_idx < 2^20 (~25M tokens
    # per document at stride 24). Nothing upstream enforces that, so force
    # the bound into the uid expression itself: assert_true is NULL on
    # every valid row (coalesce -> +0) and FAILS THE JOB on a violation —
    # a too-large document surfaces as an error, never as silently
    # colliding uids / wrong bins (ADVICE r12).
    guard = F.coalesce(
        F.assert_true(
            F.col("chunk_idx") < F.lit(_UID_BASE),
            F.lit(
                "pipeline_chunk_pack: document exceeds 2^20 chunks —"
                " uid packing would collide; raise _UID_BASE"
            ),
        ).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    t_frame = chunks.select(
        (
            F.col("doc_id") * F.lit(_UID_BASE)
            + F.col("chunk_idx").cast("bigint")
            + guard
        ).alias("doc_id"),
        "lang",
        F.col("n_tokens").alias("n_tok"),
    )
    packed = _pack_bins(
        t_frame, _doc_bucket_width(spark, sf_dir) * _UID_BASE
    )
    return packed.select(
        F.floor(F.col("doc_id") / _UID_BASE).cast("bigint").alias("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(_UID_BASE)).cast("int").alias("chunk_idx"),
        "lang",
        F.col("n_tok").cast("int").alias("n_tokens"),
        "bin_id",
    )
