"""Checkpointed execution shape of the end-to-end curation funnel.

`queries/curation.pipeline_curation_full` runs the whole funnel
(eval-slice removal → near-dup keep-list → composite quality →
8-gram decontamination → token-budget packing) as ONE declarative plan —
the right shape for the correctness gate, but its own docstring names the
trade: Spark re-scans `documents` per stage, and at 100 TB each stage's
verdict would instead be CHECKPOINTED parquet between jobs, with every
downstream consumer (the next stage, the funnel report, auditors) reading
the same materialized frames instead of re-deriving them.

This module IS that execution shape:

- each stage's verdict frame (the same registry-green stage queries —
  `dedup_keep_list`, `quality_filter_composite`,
  `decontam_ngram_overlap_w8`) is written once to parquet;
- the survivor frame composes by reading the verdict parquets
  (doc_id-keyed joins against narrow checkpointed columns — no stage
  chain is ever recomputed);
- survivors are themselves checkpointed, so the packing stage's two
  prefix-sum passes are two reads of a 3-column parquet, not two
  executions of anything;
- the returned bins are ROW-IDENTICAL to `pipeline_curation_full`
  (pinned by tests/test_curation_pipeline.py), because every stage is
  the same query — only the execution boundaries moved.

A side-by-side run of both shapes at sf0.1 measured the wall/IO
comparison; its numbers are in git history at 78bf83b.

Parity note: extends SURVEY §2.11 — no reference twin; the reference has
no corpus-curation stage. The checkpoint-between-jobs shape is the
standard published pipeline recipe (each curation stage a separate job
over materialized intermediates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.textstats import tokens
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

STAGES = ("dedup_keep", "quality_keep", "contaminated", "survivors")


def checkpoint_stage_verdicts(
    spark: SparkSession, sf_dir: str, out_dir: str, plant: bool = False
) -> dict[str, str]:
    """Run each curation stage ONCE and persist its verdict frame to
    ``out_dir/<stage>.parquet``. Returns stage → path.

    The verdict frames are narrow (doc_id, or doc_id+lang+n_tok for
    survivors): at 100 TB the checkpoint bytes are a tiny fraction of the
    corpus, and every later job — including re-runs after a failure —
    starts from them instead of from raw text. ``plant`` defaults OFF
    (natural-corpus decontam input, r11); pass plant=True only to compare
    against the registered planted gate query."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _DECON_N_W8,
        _EVAL_MOD,
        _decontam,
        quality_filter_composite,
    )
    from streaming_data_pipeline_capstone_spark.queries.quality import (
        dedup_keep_list,
    )

    paths = {s: os.path.join(out_dir, f"{s}.parquet") for s in STAGES}

    dedup_keep_list(spark, sf_dir).filter("keep").select("doc_id").write.mode(
        "overwrite"
    ).parquet(paths["dedup_keep"])
    quality_filter_composite(spark, sf_dir).filter("keep").select(
        "doc_id"
    ).write.mode("overwrite").parquet(paths["quality_keep"])
    _decontam(spark, sf_dir, _DECON_N_W8, plant=plant, spread=True).select("doc_id").write.mode(
        "overwrite"
    ).parquet(paths["contaminated"])

    # survivor composition reads ONLY the verdict checkpoints + one scan
    # of documents for (lang, n_tok); the stage chains above never re-run
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(tokens("text")).alias("n_tok")
    )
    surv = (
        docs.filter(F.col("doc_id") % _EVAL_MOD != 0)
        .join(spark.read.parquet(paths["dedup_keep"]), "doc_id")
        .join(spark.read.parquet(paths["quality_keep"]), "doc_id")
        .join(spark.read.parquet(paths["contaminated"]), "doc_id", "left_anti")
    )
    surv.write.mode("overwrite").parquet(paths["survivors"])
    return paths


def packed_bins_from_checkpoint(
    spark: SparkSession, sf_dir: str, paths: dict[str, str]
) -> DataFrame:
    """The funnel's final packing stage over the CHECKPOINTED survivor
    frame: the hierarchical prefix sum's two passes are two scans of a
    3-column parquet. Output is row-identical to
    ``pipeline_curation_full`` (same stages, same bucket width rule)."""
    from streaming_data_pipeline_capstone_spark.queries.curation import (
        _doc_bucket_width,
        _pack_bins,
    )

    surv = spark.read.parquet(paths["survivors"])
    binned = _pack_bins(surv, _doc_bucket_width(spark, sf_dir))
    return binned.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("tok_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def run_checkpointed_funnel(
    spark: SparkSession, sf_dir: str, out_dir: str, plant: bool = False
) -> DataFrame:
    """Checkpoint every stage verdict, then return the packed bins read
    from the checkpoints — the production execution shape of
    ``curation_funnel_bins``. EAGER: the stage jobs run at call time;
    the returned frame scans the final checkpoint. With plant=True the
    bins are row-identical to the registered ``pipeline_curation_full``
    gate query (pinned by tests/test_curation_pipeline.py)."""
    paths = checkpoint_stage_verdicts(spark, sf_dir, out_dir, plant=plant)
    return packed_bins_from_checkpoint(spark, sf_dir, paths)
