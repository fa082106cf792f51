"""Join family (SURVEY §2.4).

The reference contains no explicit ``df.join`` — its join-shaped needs
(union-as-upsert ``predict_path.py:78``, stream-static enrichment
``predict_path.py:47-53``, per-key previous-row lookups README.md:48,50)
are covered by the window operators. The engine still exposes the full
join family because the driver's oracle checks a general inventory, and
because 100 TB pipelines live and die by join strategy:

- equi joins: Catalyst picks broadcast / shuffled-hash / sort-merge;
  ``broadcast_join`` forces the small-dim plan explicitly
- range / theta joins: non-equi condition, BNLJ when one side broadcasts
- as-of join: Spark has no native operator; the scalable pattern is
  union + tagged forward-fill — ONE shuffle on (key, time), no range
  explosion, no per-row lookup. This is the same trick the reference's
  state update needed (rank over a union, predict_path.py:59-66).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def broadcast_join(
    left: DataFrame, small_right: DataFrame, on: str | list[str] | Column
) -> DataFrame:
    """Map-side inner join: replicate the small side to every executor — no
    shuffle of the big side. The right plan for dimension tables (region,
    nation, part at 100 TB fact scale)."""
    return left.join(F.broadcast(small_right), on=on)


def range_join(left: DataFrame, right: DataFrame, condition: Column) -> DataFrame:
    """Theta/range inner join with an arbitrary non-equi condition.

    At scale: if either side is small, Catalyst broadcasts it and the join
    is a vectorized BNLJ; if both are huge, pre-bucket the range dimension
    (see asof_join for the shuffle-friendly alternative)."""
    return left.join(right, on=condition)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str | list[str],
    left_ts: str,
    right_ts: str,
    right_payload: list[str] | None = None,
    strict: bool = False,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_ts <= left_ts`` (``direction="backward"``, default) or the
    earliest right row with ``right_ts >= left_ts`` (``"forward"``);
    ``strict`` excludes the equal-timestamp row in either direction.

    Implemented as union + tagged forward-fill: tag rows by side, sort
    within key by (ts, tag) — ascending for backward, descending for
    forward — and carry the last-seen right payload through the
    traversal. Exactly one hash exchange on the key — no range-condition
    blowup, no broadcast requirement, works at any key cardinality. The
    streaming twin of this is the keyed state operator
    (streaming/state.py). For nearest-neighbor semantics run both
    directions and pick the smaller timestamp gap per left row (see
    queries join_asof_nearest_click).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    keys = [key] if isinstance(key, str) else list(key)
    payload_cols = right_payload or [c for c in right.columns if c not in {*keys, right_ts}]

    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.struct(F.col(right_ts).alias(right_ts), *payload_cols).alias("__payload"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}") for c in left.columns],
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("__ts"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        F.lit(1).alias("__side"),
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    # strict: left probes sort BEFORE right rows at the same instant,
    # so an equal-ts right row is not yet visible.
    # __payload is the final tiebreak: when several right rows share the
    # same (key, ts), struct ordering (field by field) makes the winning
    # payload deterministic across runs/partitionings — the payload that
    # sorts LAST in traversal order wins the forward-fill (max payload
    # for backward, min for forward). Left rows all carry NULL payloads,
    # so their relative order is immaterial.
    if direction == "backward":
        side_order = [
            F.col("__ts").asc(),
            F.col("__side").asc() if not strict else F.col("__side").desc(),
            F.col("__payload").asc_nulls_first(),
        ]
    else:  # forward: traverse from the latest timestamp down
        side_order = [
            F.col("__ts").desc(),
            F.col("__side").asc() if not strict else F.col("__side").desc(),
            F.col("__payload").desc_nulls_first(),
        ]
    w = Window.partitionBy(*keys).orderBy(*side_order).rowsBetween(Window.unboundedPreceding, 0)
    filled = r.unionByName(l).withColumn("__ff", F.last("__payload", ignorenulls=True).over(w))
    out = filled.filter(F.col("__side") == 1).select(
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[F.col("__ff").getField(right_ts).alias(f"{right_ts}_right")],
        *[F.col("__ff").getField(c).alias(c) for c in payload_cols],
    )
    return out
