"""Train the shipped BPE merge table and emit queries/bpe_vocab.py.

Same deployment logic as tools/train_codebooks.py: the registry's
`tokenizer_bpe_train` / `tokenizer_bpe_encode` retrain per invocation —
right for proving the training loop oracle-correct, not the shape a
100 TB pipeline runs. A production tokenizer is a MODEL ARTIFACT:
trained once on a sample, shipped as constants, applied everywhere.

Training runs DRIVER-SIDE on the collected (word, count) table
(operators/bpe.train_bpe) — the HuggingFace-tokenizers shape: the
distinct-word table of a corpus SAMPLE fits in memory, and a greedy
trainer over it is O(rounds x symbols) with zero per-round job
overhead, where the distributed chain costs one Spark job per merge
(right at the 8-merge gate, wrong at thousands). The ONE corpus-sized
step — building the word-count table — still runs in Spark. Semantics
are byte-identical to `_bpe_train_chain` (same tie-breaks, same
left-to-right merge application); this tool CROSS-CHECKS every trained
merge against the distributed chain every run (full depth).

Merges are trained to PAIR EXHAUSTION by default (every word a single
token). On the synthetic corpus that is 106 merges — the 31-word
vocabulary is the cap, not the trainer (tests/test_tokenizer_vocab.py
proves the same trainer + encode path at a 1,024-merge synthetic
vocabulary).

Usage::

    python tools/train_bpe.py [--n-merges N]   # rewrites queries/bpe_vocab.py
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRAIN_SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(
    REPO, "streaming_data_pipeline_capstone_spark", "queries", "bpe_vocab.py"
)
# Cross-check depth vs the distributed oracle-gated chain: FULL depth
# (the old 8-merge gate left the deeper merges relying on
# Python tuple comparison matching Spark/DuckDB string collation for the
# (left ASC, right ASC) tie-break, which can diverge on non-ASCII symbols
# in a retrained vocab; the chain is ~1 Spark job per merge, cheap at the
# sample's exhaustion depth). Every shipped merge is now certified against
# the distributed chain at train time, whatever the sample.


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--n-merges",
        type=int,
        default=None,
        help="merge budget (default: train to pair exhaustion)",
    )
    args = ap.parse_args()

    from streaming_data_pipeline_capstone_spark.operators.bpe import train_bpe
    from streaming_data_pipeline_capstone_spark.queries.tokenizer import (
        _bpe_train_chain,
        _word_counts,
    )
    from streaming_data_pipeline_capstone_spark.session import get_spark

    spark = get_spark(app_name="train-bpe")
    wc = [
        (r.word, int(r.cnt))
        for r in _word_counts(spark, TRAIN_SF_DIR).collect()
    ]
    merges = train_bpe(wc, args.n_merges)

    gate_depth = len(merges)
    _, gate = _bpe_train_chain(spark, TRAIN_SF_DIR, n_merges=gate_depth)
    if [tuple(m) for m in merges[:gate_depth]] != [tuple(m) for m in gate]:
        diverge = next(
            i
            for i, (a, b) in enumerate(zip(merges[:gate_depth], gate))
            if tuple(a) != tuple(b)
        ) if len(gate) == gate_depth else min(len(gate), gate_depth)
        raise SystemExit(
            "driver-side trainer diverged from the distributed chain at "
            f"merge {diverge}:\n"
            f"  python : {merges[diverge:diverge + 2]}\n"
            f"  spark  : {gate[diverge:diverge + 2]}"
        )

    lines = [
        '"""Shipped BPE merge table — generated by tools/train_bpe.py;',
        "do not edit by hand. Trained on %s (%d merges%s," % (
            TRAIN_SF_DIR,
            len(merges),
            "" if args.n_merges else " = pair exhaustion",
        ),
        'deterministic count-desc / pair-asc tie-break)."""',
        "",
        "from __future__ import annotations",
        "",
        "# (rank, left, right, training pair_count)",
        "MERGES: list[tuple[int, str, str, int]] = [",
    ]
    for r, a, b, c in merges:
        lines.append(f"    ({r}, {a!r}, {b!r}, {c}),")
    lines.append("]")
    lines.append("")
    with open(OUT, "w") as f:
        f.write("\n".join(lines))
    print(
        f"wrote {OUT} with {len(merges)} merges "
        "(ALL cross-checked against the distributed chain)"
    )


if __name__ == "__main__":
    main()
