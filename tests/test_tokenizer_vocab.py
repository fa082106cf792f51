"""The BPE deploy path at real vocabulary sizes.

The oracle-gated trainer/encoder (queries/tokenizer.py) proves 8 merges;
the shipped artifact is trained to pair exhaustion (106 merges on this
corpus — its 31-word vocabulary is the cap). These tests pin what the
gate can't:

- the driver-side trainer (operators/bpe.train_bpe) is byte-identical to
  the distributed chain;
- the segmenting encode (pandas over distinct words) equals the r12
  replace-chain encode where the chain still compiles;
- the SAME trainer + Spark encode path works at a 1,024-merge synthetic
  vocabulary — the batch axis the replace chain could never reach;
- the replace chain is guarded, and the oracle survives quoted symbols.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.bpe import (
    EOW,
    apply_merge,
    seed_symbols,
    segment_word,
    train_bpe,
)


def _string_segment(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Independent reference: the double-space STRING representation the
    distributed trainer and the DuckDB oracles use, via str.replace."""
    s = "  " + "  ".join(list(word) + [EOW]) + "  "
    for a, b in merges:
        s = s.replace(f" {a}  {b} ", f" {a}{b} ")
    return s.strip().split("  ")


def test_driver_trainer_matches_distributed_chain(spark, sf_smoke):
    from streaming_data_pipeline_capstone_spark.queries.tokenizer import (
        _bpe_train_chain,
        _word_counts,
    )

    wc = [(r.word, int(r.cnt)) for r in _word_counts(spark, sf_smoke).collect()]
    _, dist = _bpe_train_chain(spark, sf_smoke, n_merges=8)
    assert [tuple(m) for m in train_bpe(wc, 8)] == [tuple(m) for m in dist]


def test_list_merge_equals_string_replace():
    """apply_merge's list scan == the string form's replace, including
    the consecutive-occurrence case the docstring pins."""
    cases = [
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["x", "x", "x"], ("x", "x"), ["xx", "x"]),
        (["a", "b", "b"], ("a", "b"), ["ab", "b"]),
        (["l", "o", "w", EOW], ("o", "w"), ["l", "ow", EOW]),
    ]
    for syms, (a, b), want in cases:
        assert apply_merge(syms, a, b) == want


def test_segmenting_encode_equals_replace_chain(spark, sf_smoke):
    """Path equivalence at a chain-compilable vocab size: the pandas
    segmenting counts must equal the r12 replace-chain expression's."""
    from streaming_data_pipeline_capstone_spark.queries.bpe_vocab import MERGES
    from streaming_data_pipeline_capstone_spark.queries.tokenizer import (
        _seed_symbols,
        _word_counts,
        bpe_token_count_udf,
    )

    head = MERGES[:32]
    words = _word_counts(spark, sf_smoke).select("word")
    seg = words.select(
        "word",
        bpe_token_count_udf([(a, b) for _, a, b, _ in head])("word").alias(
            "w_seg"
        ),
    )
    sym = _seed_symbols(words.withColumn("cnt", F.lit(1)))
    expr = F.col("s")
    for _, a, b, _ in head:
        expr = F.replace(expr, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    chain = sym.select(
        "word", F.size(F.split(F.trim(expr), "  ")).alias("w_chain")
    )
    diff = (
        seg.join(chain, "word")
        .filter(F.col("w_seg") != F.col("w_chain"))
        .count()
    )
    assert diff == 0


def _synthetic_word_counts(n_words: int = 800) -> list[tuple[str, int]]:
    rng = random.Random(1313)
    words = set()
    while len(words) < n_words:
        words.add(
            "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(5, 11))
            )
        )
    return [(w, rng.randint(1, 500)) for w in sorted(words)]


def test_thousand_merge_vocab_trains_and_encodes(spark):
    """The batch axis: ≥1,024 merges trained by the same trainer, applied
    through the SAME Spark deploy path (pandas over a distinct-word
    frame) — plan compiles and every per-word count matches the
    independent string-replace reference. The r12 replace chain could
    not compile here; the segmenting path's plan is vocab-size-free."""
    wc = _synthetic_word_counts()
    merges = train_bpe(wc, 1024)
    assert len(merges) == 1024
    assert [m[0] for m in merges] == list(range(1, 1025))
    pairs = [(a, b) for _, a, b, _ in merges]

    from streaming_data_pipeline_capstone_spark.queries.tokenizer import (
        bpe_token_count_udf,
    )

    words_df = spark.createDataFrame([(w,) for w, _ in wc], "word string")
    got = {
        r.word: r.w_bpe
        for r in words_df.select(
            "word", bpe_token_count_udf(pairs)("word").alias("w_bpe")
        ).collect()
    }
    mismatches = [
        w
        for w, _ in wc
        if got[w] != len(_string_segment(w, pairs))
    ]
    assert not mismatches, mismatches[:5]
    # merging must genuinely compress: mean tokens/word well below seed
    mean_seed = sum(len(w) + 1 for w, _ in wc) / len(wc)
    mean_bpe = sum(got.values()) / len(got)
    assert mean_bpe < mean_seed * 0.8


def test_replace_chain_guard():
    """The shipped exhaustion vocab (106 merges) must be REJECTED by the
    depth-capped replace-chain helper — the deploy path never builds
    O(vocab)-deep expressions."""
    from streaming_data_pipeline_capstone_spark.queries.bpe_vocab import MERGES
    from streaming_data_pipeline_capstone_spark.queries.tokenizer import (
        _fixed_merge_expr,
    )

    assert len(MERGES) > 64
    with pytest.raises(ValueError, match="capped"):
        _fixed_merge_expr(F.col("s"))


def test_fixed_oracle_survives_quoted_symbols():
    """A retrained vocab whose merges contain an apostrophe
    must produce syntactically valid oracle SQL (quotes doubled)."""
    import duckdb

    from streaming_data_pipeline_capstone_spark.queries.tokenizer import (
        _fixed_encode_oracle,
    )

    quoted = [
        (1, "'", "t", 9),
        (2, "n", "'t", 8),
        (3, "o", "n't", 7),
        (4, "d", "on't", 6),
        (5, "don't", EOW, 5),
    ]
    sql = _fixed_encode_oracle(quoted)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT 1 AS doc_id, 'don''t stop' AS text"
    )
    rows = con.execute(sql).fetchall()
    assert len(rows) == 1
    # don't collapses to one token through the quoted chain; stop stays
    # at its 5 seed symbols
    doc_id, n_words, n_sym, n_bpe, _ = rows[0]
    assert (n_words, n_sym, n_bpe) == (2, 11, 6)

    pairs = [(a, b) for _, a, b, _ in quoted]
    assert segment_word("don't", pairs) == ["don't</w>"]
    assert seed_symbols("ab") == ["a", "b", EOW]
