"""Train the shipped PQ / IVF codebooks and emit queries/codebooks.py.

The registry's PQ and kmeans-IVF queries retrain per
invocation — the right shape for proving the training pipeline is
oracle-correct, but not the shape a 100 TB deployment runs. At scale the
codebook is a MODEL ARTIFACT: trained once (on a sample), shipped as
constants, applied everywhere. This tool materializes that artifact.

Training corpus is the driver's /root/testdata/sf0.01 embeddings (2k
vectors at most — k-means codebooks are always trained on a sample; the
sf0.01 slice plays the sample role for every SF). Training is the same
deterministic Lloyd's the per-invocation queries use (lowest-id init,
first-min tie-break, 6 dp mean rounding), so re-running this tool is
byte-stable and the generated module records exactly how to reproduce it.

Usage::

    python tools/train_codebooks.py   # rewrites queries/codebooks.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRAIN_SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(
    REPO, "streaming_data_pipeline_capstone_spark", "queries", "codebooks.py"
)


def main() -> None:
    from pyspark.sql import functions as F

    from streaming_data_pipeline_capstone_spark.operators.similarity import (
        lloyd_kmeans_centroids,
        pq_train,
    )
    # ann_config, NOT queries.extras: extras builds its fixed-codebook
    # oracles at import time from the CURRENT codebooks.py, which this
    # tool is about to replace — importing it mid-retrain would read (or
    # crash on) the stale artifact.
    from streaming_data_pipeline_capstone_spark.queries.ann_config import (
        EMB_DIM as _EMB_DIM,
        KMEANS_ITERS as _KMEANS_ITERS,
        KMEANS_K as _KMEANS_K,
        PQ_ITERS as _PQ_ITERS,
        PQ_K as _PQ_K,
        PQ_SUB_DIM as _PQ_SUB_DIM,
        PQ_SUBS as _PQ_SUBS,
    )
    from streaming_data_pipeline_capstone_spark.session import get_spark
    from streaming_data_pipeline_capstone_spark.sources.readers import read_table

    spark = get_spark(app_name="train-codebooks")
    spark.sparkContext.setLogLevel("ERROR")
    emb = read_table(spark, TRAIN_SF_DIR, "embeddings")
    vecs = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    books = pq_train(vecs, _PQ_SUBS, _PQ_SUB_DIM, _PQ_K, _PQ_ITERS)
    cents = lloyd_kmeans_centroids(vecs, _KMEANS_K, _KMEANS_ITERS)
    spark.stop()

    def fmt_mat(mat: list[list[float]], indent: str) -> str:
        rows = [f"{indent}    [{', '.join(repr(float(x)) for x in row)}]," for row in mat]
        return "[\n" + "\n".join(rows) + f"\n{indent}]"

    with open(OUT, "w") as fh:
        fh.write('"""Shipped PQ / IVF model artifacts (generated file).\n\n')
        fh.write("Generated by tools/train_codebooks.py — do not hand-edit; re-run\n")
        fh.write("the tool to retrain. Values are the deterministic-Lloyd output over\n")
        fh.write(f"{TRAIN_SF_DIR}/embeddings.parquet with the registry constants\n")
        fh.write(
            f"(PQ: subs={_PQ_SUBS}, sub_dim={_PQ_SUB_DIM}, k={_PQ_K}, "
            f"iters={_PQ_ITERS}; kmeans: k={_KMEANS_K}, iters={_KMEANS_ITERS},\n"
        )
        fh.write(f"dim={_EMB_DIM}), so the artifact is byte-reproducible. Every value\n")
        fh.write("is 6-dp-rounded by training, so the repr round-trips exactly into\n")
        fh.write("both Spark literals and DuckDB SQL text.\n")
        fh.write('"""\n\n')
        fh.write("# PQ_BOOKS[sub][code] -> centroid (len sub_dim)\n")
        fh.write("PQ_BOOKS = [\n")
        for book in books:
            fh.write("    " + fmt_mat(book, "    ") + ",\n")
        fh.write("]\n\n")
        fh.write("# KMEANS_CENTROIDS[cell] -> centroid (len dim)\n")
        fh.write(f"KMEANS_CENTROIDS = {fmt_mat(cents, '')}\n")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
