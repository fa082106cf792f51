"""Incremental (streaming) similarity indexing over embeddings.

The vector twin of streaming/dedup_stream.py: each micro-batch of new
embeddings is signed with the deterministic hyperplane LSH
(operators/similarity.hyperplane_signature), matched against a persistent
signature index on the bucket key, cosine-verified, and appended to the
index. A new vector is flagged against near-neighbors from ANY earlier
batch at bucket-join cost, not corpus-scan cost.

The index IS partitioned by signature (the ``bkt=`` level above the epoch
partitions), and each micro-batch lists/reads only the signature buckets
its own vectors hash to — per-batch I/O Θ(batch), not Θ(accumulated
index). State is storage-backed, never driver-resident.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from streaming_data_pipeline_capstone_spark.index_store import (
    read_index_or_none,
    write_epoch_idempotent,
)
from streaming_data_pipeline_capstone_spark.operators.similarity import (
    _as_double,
    cosine,
    hyperplane_signature,
    materialize_planes,
)
from streaming_data_pipeline_capstone_spark.streaming.sinks import for_each_batch


def _merge_batch(
    batch: DataFrame,
    epoch_id: int,
    index_dir: str,
    pairs_dir: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    num_planes: int,
    dim: int,
) -> None:
    spark = batch.sparkSession
    # Engine-evaluated once, process-cached — signatures from float
    # literals, so per-micro-batch plan construction stays cheap.
    planes = materialize_planes(spark, list(range(num_planes)), dim)
    tagged_new = batch.select(
        F.col(id_col).alias("vid"),
        _as_double(vec_col).alias("v"),
        hyperplane_signature(vec_col, num_planes, dim, planes=planes).alias("sig"),
    ).persist()

    # exclude the current epoch: a replayed batch's own partial write
    # must not count as "old" index data (see write_epoch_idempotent).
    # The index is bucketed by the signature (the join key; 2^planes
    # values — at 100 TB bucket on a fixed-length sig prefix), so the
    # read lists/reads ONLY the buckets this batch's signatures hit:
    # per-batch I/O Θ(batch), not Θ(index). The sig collect is a real
    # job and stays outside the missing-index guard — a transient
    # failure must fail the batch, not masquerade as "no index".
    sig_bkts = [r[0] for r in tagged_new.select("sig").distinct().collect()]
    index = read_index_or_none(
        spark, index_dir, exclude_epoch=epoch_id, buckets=sig_bkts
    )
    have_index = index is not None

    # new-vs-new within the batch (bucket-grouped, id1 < id2)
    a, b = tagged_new.alias("a"), tagged_new.alias("b")
    cands = a.join(
        b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.vid") < F.col("b.vid"))
    ).select(
        F.col("a.vid").alias("id1"),
        F.col("b.vid").alias("id2"),
        F.round(cosine(F.col("a.v"), F.col("b.v")), 6).alias("cosine_sim"),
    )
    if have_index:
        n, o = tagged_new.alias("n"), index.alias("o")
        cross = n.join(o, (F.col("n.sig") == F.col("o.sig"))).filter(
            F.col("n.vid") != F.col("o.vid")
        ).select(
            F.least(F.col("n.vid"), F.col("o.vid")).alias("id1"),
            F.greatest(F.col("n.vid"), F.col("o.vid")).alias("id2"),
            F.round(cosine(F.col("n.v"), F.col("o.v")), 6).alias("cosine_sim"),
        )
        cands = cands.unionByName(cross)

    verified = cands.filter(F.col("cosine_sim") >= threshold).dropDuplicates(["id1", "id2"])
    write_epoch_idempotent(verified, pairs_dir, epoch_id)
    write_epoch_idempotent(
        tagged_new.withColumn("bkt", F.col("sig")), index_dir, epoch_id, "bkt"
    )
    tagged_new.unpersist()


def streaming_similarity_index(
    stream_vecs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.4,
    num_planes: int = 6,
    dim: int = 64,
) -> StreamingQuery:
    """Start the incremental similarity-indexing job over a
    ``(vec_id, embedding)`` stream, draining what is available now.

    Emits verified (id1, id2, cosine_sim, epoch) near-neighbor pairs —
    including cross-batch pairs — and maintains the signature index."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        _merge_batch(
            batch, epoch_id, index_dir, pairs_dir,
            "vec_id", "embedding", threshold, num_planes, dim,
        )

    return for_each_batch(stream_vecs, merge, checkpoint_dir, available_now=True)
