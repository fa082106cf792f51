"""Skew mitigation for shuffle joins and aggregations (SURVEY §4, §7).

AQE's skew-join splitting (on by default in session.py) handles most skew
at runtime by splitting oversized sort-merge partitions. These helpers
cover the cases AQE cannot:

- ``salted_join``: explicit key salting for a skewed equi-join where the
  build side is too big to broadcast but small enough to replicate
  ``salt``× — e.g. joining 100 TB of events against a 10 GB dimension when
  5% of events share one hot key. The hot key's rows scatter across
  ``salt`` partitions instead of melting one executor.
- ``two_phase_agg``: pre-aggregate on (key, salt) before the final
  groupBy(key). Spark's map-side partial aggregation already does this for
  algebraic aggregates; the explicit form is for holistic aggregates
  (collect_list/set and friends) whose partials don't combine map-side and
  whose hot keys would otherwise funnel into one reducer.

Both preserve exact results — salting changes the physical distribution,
never the logical answer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = DEFAULT_SALT,
) -> DataFrame:
    """Equi-join a skew-keyed big side against a replicable small side.

    big gets a random salt in [0, salt); small is replicated once per salt
    value (explode of a literal range — a ``salt``× blow-up of the SMALL
    side only). The join key becomes (key, salt), so one hot key spreads
    over ``salt`` shuffle partitions.

    Only join types whose output is driven by the BIG side are valid:
    right/full outer would emit each unmatched small row once per salt
    replica.
    """
    if how in ("right", "rightouter", "right_outer", "full", "outer", "fullouter", "full_outer"):
        raise ValueError(
            f"salted_join cannot preserve {how!r} semantics: unmatched rows of "
            "the replicated side would appear once per salt value. Salt the "
            "other side or use AQE skew-join handling instead."
        )
    big_salted = big.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    small_salted = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = big_salted.join(small_salted, [on, "__salt"], how)
    return out.drop("__salt")


def two_phase_agg(
    df: DataFrame,
    key: str,
    partial_aggs: Sequence[Column],
    final_aggs: Sequence[Column],
    salt: int = DEFAULT_SALT,
) -> DataFrame:
    """groupBy(key, salt) → partial aggs → groupBy(key) → final aggs.

    Caller supplies both phases because they differ per aggregate
    (count → sum of counts, collect_list → flatten of lists, ...).
    """
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    partial = salted.groupBy(key, "__salt").agg(*partial_aggs)
    return partial.groupBy(key).agg(*final_aggs)


def skewed_collect_list(
    df: DataFrame, key: str, col: str, salt: int = DEFAULT_SALT
) -> DataFrame:
    """collect_list per key, salt-spread: the canonical holistic aggregate
    whose single-reducer hot key salting actually fixes. Order within the
    list is not guaranteed (same as plain collect_list)."""
    return two_phase_agg(
        df,
        key,
        partial_aggs=[F.collect_list(col).alias("__part")],
        final_aggs=[F.flatten(F.collect_list("__part")).alias(f"{col}_list")],
        salt=salt,
    )


# -- input skew: small unsplittable files (guide §2.5 "input skew") -----------
# The gate corpora are single-row-group parquet files: Spark's byte-range
# splitting (spark.sql.files.minPartitionNum) produces N splits but every
# row lands in the one split holding the row group's midpoint, so a
# CPU-heavy chain rooted at such a scan (tokenize/shingle/JSON-codec) runs
# on ONE core while the cluster idles. The fix the optimization guide
# prescribes for unsplittable inputs is a repartition immediately after
# the read — but ONLY when the input is genuinely small: the detection
# below is bounded and scale-safe (at production file counts it returns
# the frame untouched without a single FS call beyond the listing Spark
# already did).
#
# Detection (cheap, deterministic):
#   1. if the frame's input files >= target partitions, the scan already
#      parallelizes — return unchanged (the 100 TB path; no RPCs);
#   2. otherwise sum the (few) files' sizes; if they exceed max_bytes the
#      files are big enough to carry real row-group parallelism — return
#      unchanged rather than shuffle real data;
#   3. only a provably tiny input (< max_bytes across < target files) is
#      round-robin repartitioned. Shuffling < 64 MB is trivial on any
#      deployment, and sortBeforeRepartition (Spark default) keeps the
#      assignment deterministic under task retries.
_SPREAD_MAX_BYTES = 64 * 1024 * 1024


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to defaultParallelism iff its input files are
    fewer than that AND total at most _SPREAD_MAX_BYTES — the
    single-row-group gate-corpus case where byte-range splits cannot
    parallelize the scan. Results are unchanged (round-robin
    redistribution only); at real scale the guard short-circuits on file
    count alone."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df  # non-file-backed plans (streams, local relations)
    if not files or len(files) >= target:
        return df
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(conf)
        total += fs.getFileStatus(p).getLen()
        if total > _SPREAD_MAX_BYTES:
            return df
    return df.repartition(target)
