"""Scoped persist bookkeeping.

Several queries persist an intermediate frame that the RETURNED lazy
DataFrame still depends on (the LM bucket bins, the DSIR funnel's
survivor/selected frames, the dedup shingle sets). The function cannot
unpersist before returning — the caller has not materialized the result
yet — so a long-lived session that runs the registry repeatedly would
accumulate cached blocks (executor storage) with nothing ever releasing
them.

This module makes those persists SCOPED instead of leaked:

- query code calls :func:`scoped_persist` instead of ``.persist()``;
- the registry wraps every query so that BUILDING a new query first
  releases every frame scoped by earlier queries (by then the earlier
  result has been materialized by any sequential caller — the driver,
  the bench, and check_oracle all consume each frame before building the
  next);
- :func:`release_scoped` is also called by tools/check_oracle.py after
  each comparison and is available to any embedding application.

If a caller interleaves (builds query B before collecting query A's
frame), correctness is unaffected for persisted frames — A's plan simply
recomputes the released intermediate on materialization. The one sharper
edge is :func:`scope_checkpoints` (connected_components' final
localCheckpoint blocks): those CANNOT be recomputed after release — a
caller that re-materializes a cluster frame after building a later
registry query gets a loud "checkpoint block not found", never a silent
wrong answer. Sequential callers (the driver, bench, check_oracle) are
unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []
_LIVE_CKPT_RDDS: list = []  # py4j JavaRDD handles from localCheckpoint


def scoped_persist(df: DataFrame, eager: bool = False) -> DataFrame:
    """Persist ``df`` and record it for the next :func:`release_scoped`.

    ``eager=True`` materializes the cache immediately (one count job) —
    the DSIR-funnel convention for frames whose consumers would otherwise
    race to populate the same InMemoryRelation.
    """
    df = df.persist()
    if eager:
        df.count()
    _LIVE.append(df)
    return df


def scope_checkpoints(jrdds) -> None:
    """Record localCheckpoint JavaRDD handles whose blocks back a frame
    being RETURNED to the caller (so the creating function cannot free
    them itself). Released — block storage actually freed — on the next
    :func:`release_scoped`."""
    _LIVE_CKPT_RDDS.extend(jrdds)


def release_scoped() -> None:
    """Unpersist every frame/checkpoint recorded since the last release."""
    while _LIVE:
        try:
            _LIVE.pop().unpersist()
        except Exception:
            pass  # session already stopped — nothing to free
    while _LIVE_CKPT_RDDS:
        try:
            _LIVE_CKPT_RDDS.pop().unpersist(False)
        except Exception:
            pass
