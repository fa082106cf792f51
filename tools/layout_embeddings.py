"""Materialize the cell-partitioned ANN serving layout for a corpus.

The fixed-codebook IVF probes pruned compute but not
storage — README.md already named partition-by-cell as the 100 TB layout;
this tool (beside tools/train_codebooks.py, the other half of the
train-once story) actually writes it. One run per corpus: embeddings +
PQ codes, hive-partitioned by the coarse k-means cell from the shipped
centroids. The registry's ``sim_topk_ivf_pruned`` / ``sim_topk_ivfpq_pruned``
build the layout lazily on first use; running this tool ahead of time
just moves the one-time cost out of the first query.

Usage::

    python tools/layout_embeddings.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
        cell_layout_path,
        ensure_cell_layout,
    )
    from streaming_data_pipeline_capstone_spark.queries.codebooks import (
        KMEANS_CENTROIDS,
        PQ_BOOKS,
    )
    from streaming_data_pipeline_capstone_spark.queries.extras import _PQ_SUB_DIM
    from streaming_data_pipeline_capstone_spark.session import get_spark

    spark = get_spark(app_name="layout-embeddings")
    spark.sparkContext.setLogLevel("ERROR")
    out = ensure_cell_layout(spark, args.sf_dir, KMEANS_CENTROIDS, PQ_BOOKS, _PQ_SUB_DIM)
    cells = sorted(
        d for d in os.listdir(out) if d.startswith("cell=")
    )
    print(f"layout: {out}")
    print(f"cells: {len(cells)} -> {cells}")
    assert out == cell_layout_path(args.sf_dir)
    spark.stop()


if __name__ == "__main__":
    main()
