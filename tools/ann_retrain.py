"""Coarse-quantizer lifecycle decision: is a retrain due, and what to run.

A grown index needs the growth rule AND the retrain/re-certify
recipe as a tool. The rule lives in operators/ann_layout.py
(`coarse_cells`, `coarse_retrain_due`); this tool applies it to a
corpus + its currently-shipped quantizer and prints the decision as one
JSON line — the maintenance-window check a scheduler runs before
serving a grown index.

Decision logic (the FAISS main+delta lifecycle, expressed with this
repo's machinery):

- NOT DUE: keep appending epochs (`append_cell_epoch` /
  `streaming/ann_index_stream.py`); compact when the files-per-cell
  rule fires (`index_store.compaction_due(path, "cell")` →
  `index_store.compact_epochs(spark, path, "cell")`).
- DUE (corpus growth doubled the rule's k): the old probe set is
  meaningless under new centroids, so the swap must be atomic —
  1. retrain centroids + PQ books on a fresh sample of the GROWN
     corpus (tools/train_codebooks.py's deterministic-Lloyd pipeline);
  2. rebuild the layout BESIDE the live one (ensure_cell_layout keys
     the path on the model hash via its marker, so a retrained model
     never silently reuses the old directories);
  3. re-certify recall at the new k (tools/ann_recall_realistic.py —
     its default k IS this rule) and record the artifact;
  4. repoint serving at the new layout; retire the old one.

Usage::

    python tools/ann_retrain.py [--sf-dir DIR] [--current-k K]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument(
        "--current-k",
        type=int,
        default=None,
        help="cells in the currently-shipped coarse quantizer (default: "
        "the registry's KMEANS_CENTROIDS length)",
    )
    ap.add_argument(
        "--train-frac",
        type=float,
        default=0.1,
        help="sampling fraction assumed for quantizer training (caps k "
        "via the 39-points-per-centroid floor)",
    )
    args = ap.parse_args()

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        coarse_cells,
        coarse_retrain_due,
    )

    if args.current_k is None:
        # the corpus's RESOLVED serving model (repoint-aware): after
        # tools/ann_retrain_exec.py has executed the recipe, the decision
        # reflects the retrained quantizer, not the shipped one
        from streaming_data_pipeline_capstone_spark.queries.serving_models import (
            serving_model,
        )

        args.current_k = serving_model(args.sf_dir).k

    import duckdb

    src = os.path.join(args.sf_dir, "embeddings.parquet")
    glob = src + "/*.parquet" if os.path.isdir(src) else src
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{glob}')"
    ).fetchone()[0]

    n_train = int(n * args.train_frac)
    rule_k = coarse_cells(n, n_train)
    due = coarse_retrain_due(args.current_k, n, n_train)
    print(
        json.dumps(
            {
                "metric": "ann_retrain_decision",
                "sf_dir": args.sf_dir,
                "n_vectors": int(n),
                "current_k": args.current_k,
                "rule_k": rule_k,
                "retrain_due": due,
                "recipe": (
                    [
                        "python tools/ann_retrain_exec.py --sf-dir "
                        + args.sf_dir
                        + "  # the whole loop, one command: retrain -> rebuild beside -> re-certify -> repoint -> retire",
                        "# or step-by-step:",
                        "python tools/train_codebooks.py  # retrain on a grown-corpus sample",
                        "python tools/layout_embeddings.py --sf-dir "
                        + args.sf_dir
                        + "  # rebuild BESIDE (model-hash-keyed marker)",
                        "python tools/ann_recall_realistic.py --eval-dir "
                        + args.sf_dir
                        + "  # re-certify at the rule's k; record artifact",
                        "repoint serving; retire the old layout",
                    ]
                    if due
                    else [
                        "keep appending epochs (append_cell_epoch / streaming ingest)",
                        "compact when index_store.compaction_due(path, 'cell') fires "
                        "(index_store.compact_epochs(spark, path, 'cell'))",
                    ]
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
