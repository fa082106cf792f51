"""Join-family unit tests + physical-plan hygiene checks (SURVEY §4)."""

from __future__ import annotations

import datetime as dt

from streaming_data_pipeline_capstone_spark.operators.joins import asof_join


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward(spark):
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T10:00:00"), 1.0),
            ("A", _ts("2024-01-01T10:05:00"), 2.0),
            ("B", _ts("2024-01-01T10:01:00"), 9.0),
        ],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T10:03:00")),  # after q1, before q2 → 1.0
            ("A", _ts("2024-01-01T10:05:00")),  # equal ts → 2.0 (inclusive)
            ("A", _ts("2024-01-01T09:59:00")),  # before any quote → null
            ("B", _ts("2024-01-01T11:00:00")),  # → 9.0
            ("C", _ts("2024-01-01T10:00:00")),  # key never quoted → null
        ],
        "sym string, tts timestamp",
    )
    out = asof_join(trades, quotes, key="sym", left_ts="tts", right_ts="qts")
    got = {(r.sym, r.tts.isoformat()): r.px for r in out.collect()}
    assert got[("A", "2024-01-01T10:03:00")] == 1.0
    assert got[("A", "2024-01-01T10:05:00")] == 2.0
    assert got[("A", "2024-01-01T09:59:00")] is None
    assert got[("B", "2024-01-01T11:00:00")] == 9.0
    assert got[("C", "2024-01-01T10:00:00")] is None
    assert out.count() == trades.count()  # left-preserving


def test_asof_join_strict(spark):
    quotes = spark.createDataFrame(
        [("A", _ts("2024-01-01T10:05:00"), 2.0)], "sym string, qts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [("A", _ts("2024-01-01T10:05:00"))], "sym string, tts timestamp"
    )
    out = asof_join(trades, quotes, key="sym", left_ts="tts", right_ts="qts", strict=True)
    assert out.collect()[0].px is None  # equal ts excluded under strict


def test_asof_join_tied_right_ts_deterministic(spark):
    """Several right rows on the same (key, ts): the winner must be the
    max payload struct (deterministic tiebreak), stable across repeated
    runs and repartitionings."""
    quotes = spark.createDataFrame(
        [("A", _ts("2024-01-01T10:00:00"), px) for px in (3.0, 1.0, 2.0)],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("A", _ts("2024-01-01T10:01:00"))], "sym string, tts timestamp"
    )
    seen = set()
    for n_part in (1, 3, 7):
        out = asof_join(
            trades.repartition(n_part), quotes.repartition(n_part),
            key="sym", left_ts="tts", right_ts="qts",
        )
        seen.add(out.collect()[0].px)
    assert seen == {3.0}


def test_asof_join_forward(spark):
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T10:00:00"), 1.0),
            ("A", _ts("2024-01-01T10:05:00"), 2.0),
            ("B", _ts("2024-01-01T10:01:00"), 9.0),
        ],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T10:03:00")),  # next quote at 10:05 → 2.0
            ("A", _ts("2024-01-01T10:00:00")),  # equal ts → 1.0 (inclusive)
            ("A", _ts("2024-01-01T10:06:00")),  # after the last quote → null
            ("B", _ts("2024-01-01T09:00:00")),  # → 9.0
        ],
        "sym string, tts timestamp",
    )
    out = asof_join(
        trades, quotes, key="sym", left_ts="tts", right_ts="qts", direction="forward"
    )
    got = {(r.sym, r.tts.isoformat()): r.px for r in out.collect()}
    assert got[("A", "2024-01-01T10:03:00")] == 2.0
    assert got[("A", "2024-01-01T10:00:00")] == 1.0
    assert got[("A", "2024-01-01T10:06:00")] is None
    assert got[("B", "2024-01-01T09:00:00")] == 9.0
    assert out.count() == trades.count()


def test_asof_join_forward_strict_and_ties(spark):
    quotes = spark.createDataFrame(
        [("A", _ts("2024-01-01T10:05:00"), px) for px in (3.0, 1.0, 2.0)],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("A", _ts("2024-01-01T10:05:00"))], "sym string, tts timestamp"
    )
    # equal ts excluded under strict
    strict = asof_join(
        trades, quotes, key="sym", left_ts="tts", right_ts="qts",
        strict=True, direction="forward",
    )
    assert strict.collect()[0].px is None
    # tied right rows: forward picks the MIN payload, stable across layouts
    seen = set()
    for n_part in (1, 3, 7):
        out = asof_join(
            trades.repartition(n_part), quotes.repartition(n_part),
            key="sym", left_ts="tts", right_ts="qts", direction="forward",
        )
        seen.add(out.collect()[0].px)
    assert seen == {1.0}


def test_broadcast_join_in_plan(spark, sf_smoke):
    from streaming_data_pipeline_capstone_spark.queries.relational import (
        join_regional_revenue,
    )

    plan = join_regional_revenue(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_in_scan(spark, sf_smoke):
    from streaming_data_pipeline_capstone_spark.queries.relational import (
        agg_pricing_summary,
    )

    plan = agg_pricing_summary(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    # the shipdate predicate must reach the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_in_scan(spark, sf_smoke):
    from streaming_data_pipeline_capstone_spark.queries.relational import (
        sort_top20_orders,
    )

    plan = sort_top20_orders(spark, sf_smoke)._jdf.queryExecution().executedPlan().toString()
    # only 3 of 6 order columns should be read
    assert "o_orderdate" not in plan.split("ReadSchema")[1].split("\n")[0]
    # global sort+limit should compile to TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan
