"""Streaming ANN index ingestion — vector-index freshness as a
Structured Streaming job.

Batch maintenance (operators/ann_layout.append_cell_epoch) absorbs new
vectors in Θ(new) without a rebuild; a serving platform gets those
vectors from an INGEST STREAM (embedding workers publishing vectors as
they are computed). This module closes that loop: a foreachBatch job
that encodes each micro-batch against the shipped model artifacts and
lands it under the index's ``cell=<c>/epoch=<e>`` layout.

Properties inherited from the building blocks, pinned by tests and the
registered gate query (queries/extras.stream_ann_index_ingest):

- per micro-batch work is Θ(batch): assign + PQ-encode the new vectors
  and ONE write — the existing index is never read, never rewritten;
- idempotent under foreachBatch's at-least-once delivery: a replayed
  epoch dynamic-overwrites exactly its own (cell, epoch) partitions;
- probes are the UNCHANGED pruned serving plan — they prune on the
  leading cell level and see every epoch of the probed cells, so a
  vector is searchable as soon as its micro-batch commits;
- compaction/rebucketing is the same maintenance story as the dedup
  state indexes (collapse epochs into a sentinel; run with the stream
  stopped and the checkpoint committed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_capstone_spark.operators.ann_layout import (
    append_cell_epoch,
)
from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch


def streaming_index_ingest(
    stream_vecs: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    pq_books: list[list[list[float]]],
    pq_sub_dim: int,
) -> StreamingQuery:
    """Start the index-ingest job over a (vec_id, embedding, meta...)
    vector stream, draining what is available now. Each micro-batch
    lands as one epoch level under the cell-partitioned index at
    ``index_path``."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        append_cell_epoch(
            batch, index_path, centroids, pq_books, pq_sub_dim, int(epoch_id)
        )

    return for_each_batch(stream_vecs, handle, checkpoint_dir, available_now=True)
