"""Oracle-checked relational queries (SURVEY §2.4-§2.8).

TPC-H-flavored coverage of the engine's batch-relational surface: the
aggregation family, the full join family (incl. broadcast, range, as-of),
set operations, global sort/limit, cube/rollup/pivot, and analytic
windows.

Float discipline: money sums go through DECIMAL(18,2) / DECIMAL(28,10)
before SUM in BOTH engines (exact, associative — immune to partial-agg
ordering differences at any parallelism), then one final cast to DOUBLE;
plain-double avgs/stddevs are rounded in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from streaming_data_pipeline_capstone_spark.operators.joins import (
    asof_join,
    broadcast_join,
    range_join,
)
from streaming_data_pipeline_capstone_spark.registry import register
from streaming_data_pipeline_capstone_spark.sources.readers import read_table

# exact sum of a money expression: decimal accumulate, one cast out
_REVENUE_DEC = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,10))"


def _revenue_dec() -> F.Column:
    return (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,10)")


# -- A-family: grouped aggregation (TPC-H Q1 pattern) ------------------------
@register(
    "agg_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    qty_dec = F.col("l_quantity").cast("decimal(18,2)")
    sum_qty = F.sum(qty_dec).cast("double")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_qty.alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(_revenue_dec()).cast("double").alias("sum_disc_price"),
            (sum_qty / F.count("*")).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


# -- join + group + global top-k (TPC-H Q3 pattern) ---------------------------
@register(
    "join_topk_orders",
    f"""
    SELECT o.o_orderkey,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY SUM({_REVENUE_DEC}) DESC, o.o_orderkey
    LIMIT 10
    """,
)
def join_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    joined = li.join(
        orders.join(cust.select("c_custkey"), orders.o_custkey == F.col("c_custkey")),
        li.l_orderkey == orders.o_orderkey,
    )
    agg = joined.groupBy("o_orderkey", "o_orderdate").agg(
        F.sum(_revenue_dec()).alias("revenue_dec")
    )
    # order by the EXACT decimal so near-ties rank identically everywhere
    return (
        agg.orderBy(F.desc("revenue_dec"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.col("revenue_dec").cast("double").alias("revenue"), "o_orderdate")
    )


# -- multiway join with broadcast dims (TPC-H Q5 pattern) ---------------------
@register(
    "join_regional_revenue",
    f"""
    SELECT n.n_name,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def join_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    # dims broadcast: nation⋈region resolves executor-side, no fact shuffle
    nr = broadcast_join(nation, region, nation.n_regionkey == region.r_regionkey)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            broadcast_join(supp, nr, supp.s_nationkey == nr.n_nationkey),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))


# -- outer / semi / anti joins -------------------------------------------------
@register(
    "join_left_outer_counts",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left_outer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_semi_high_value",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
    """,
)
def join_semi_high_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    big = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti_no_urgent_order",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def join_anti_no_urgent_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti equi-join: customers who never placed an URGENT order.

    The priority predicate makes the sf0.01
    oracle gate NON-vacuous: the unrestricted form matched an empty frame
    (every gate customer has at least one order — a hash of nothing),
    while this one returns 203 real rows at sf0.01 / 18 at sf0.001. Same
    anti-join machinery; the filter pushes into the orders scan.

    Renamed from ``join_anti_never_ordered``:
    the old name described the pre-r10 unrestricted semantics."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_full_outer_nations",
    """
    WITH cn AS (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
                FROM supplier GROUP BY s_nationkey)
    SELECT coalesce(cn.nationkey, sn.nationkey) AS nationkey,
           coalesce(cn.n_customers, 0) AS n_customers,
           coalesce(sn.n_suppliers, 0) AS n_suppliers
    FROM cn FULL OUTER JOIN sn ON cn.nationkey = sn.nationkey
    """,
)
def join_full_outer_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_customers"))
    )
    sn = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_suppliers"))
    )
    joined = cn.join(sn, "nationkey", "full_outer")
    return joined.select(
        "nationkey",
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


# -- range (theta) join --------------------------------------------------------
@register(
    "join_range_price_bands",
    """
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 100000.0), ('medium', 100000.0, 250000.0),
             ('large', 250000.0, 450000.0), ('jumbo', 450000.0, 1e18)
    )
    SELECT b.band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def join_range_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    bands = orders.sparkSession.createDataFrame(
        [
            ("small", 0.0, 100000.0),
            ("medium", 100000.0, 250000.0),
            ("large", 250000.0, 450000.0),
            ("jumbo", 450000.0, 1e18),
        ],
        "band string, lo double, hi double",
    )
    joined = range_join(
        orders, F.broadcast(bands),
        (F.col("o_totalprice") >= F.col("lo")) & (F.col("o_totalprice") < F.col("hi")),
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


# -- as-of join (union + forward-fill; the streaming-state twin) ---------------
@register(
    "join_asof_last_click",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    tagged AS (
      SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      FROM e
    )
    SELECT event_id, user_id, ts, last_click_ts
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    # as-of: latest click at-or-before each purchase, per user.
    # clicks sort before the purchase probe at equal ts (strict=False);
    # equal-ts click/purchase pairs do occur only at ns precision, and both
    # engines see the same µs-truncated order with event_id tiebreaks.
    out = asof_join(
        purchases,
        clicks.withColumnRenamed("event_id", "click_event_id"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_payload=[],
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("ts_right").alias("last_click_ts")
    )


# -- as-of, forward direction: the EARLIEST click at-or-after each purchase --
# Oracle = the operator's traversal transcribed: window ordered ts DESC
# with clicks sorting before purchases inside an equal-timestamp group
# (exactly the operator's side tag), last_value IGNORE NULLS carrying the
# next click down the descending traversal.
@register(
    "join_asof_next_click",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    tagged AS (
      SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
             OVER (PARTITION BY user_id
                   ORDER BY ts DESC,
                            CASE WHEN event_type = 'click' THEN 0 ELSE 1 END ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS next_click_ts
      FROM e
    )
    SELECT event_id, user_id, ts, next_click_ts
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def join_asof_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=[], direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts", F.col("ts_right").alias("next_click_ts")
    )


# -- as-of, nearest direction: whichever click is closer in time -------------
# backward + forward passes joined on the purchase id; ties go backward.
# Interval comparison in the oracle ≡ unix-micros arithmetic in Spark
# (both exact integer µs).
@register(
    "join_asof_nearest_click",
    """
    WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
               FROM events),
    tagged AS (
      SELECT *,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts,
                              CASE WHEN event_type = 'click' THEN 0 ELSE 1 END ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bts,
             last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts DESC,
                              CASE WHEN event_type = 'click' THEN 0 ELSE 1 END ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fts
      FROM e
    )
    SELECT event_id, user_id, ts,
           CASE WHEN bts IS NULL THEN fts
                WHEN fts IS NULL THEN bts
                WHEN (ts - bts) <= (fts - ts) THEN bts
                ELSE fts END AS nearest_click_ts
    FROM tagged WHERE event_type = 'purchase'
    """,
)
def join_asof_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    b = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=[],
    ).select("event_id", "user_id", "ts", F.col("ts_right").alias("bts"))
    f = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=[], direction="forward",
    ).select("event_id", F.col("ts_right").alias("fts"))
    j = b.join(f, "event_id")
    gap_b = F.unix_micros("ts") - F.unix_micros("bts")
    gap_f = F.unix_micros("fts") - F.unix_micros("ts")
    nearest = (
        F.when(F.col("bts").isNull(), F.col("fts"))
        .when(F.col("fts").isNull(), F.col("bts"))
        .when(gap_b <= gap_f, F.col("bts"))
        .otherwise(F.col("fts"))
    )
    return j.select("event_id", "user_id", "ts", nearest.alias("nearest_click_ts"))


# -- set operations -------------------------------------------------------------
@register(
    "setop_union_nations",
    """
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION
      SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def setop_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "setop_intersect_nations",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = read_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except_customers",
    """
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def setop_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers who placed orders, minus the BUILDING segment — SQL EXCEPT
    is set-distinct semantics, i.e. Spark ``subtract`` (not ``exceptAll``,
    which is bag semantics and also exposed by the engine)."""
    o = read_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    b = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )
    return o.subtract(b)


# -- global sort / limit (TakeOrderedAndProject) ---------------------------------
@register(
    "sort_top20_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def sort_top20_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# -- distinct aggregation ---------------------------------------------------------
@register(
    "agg_count_distinct",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


# approximate distinct: the raw sketch estimate is algorithm-specific
# (Spark HLL++ vs DuckDB HLL), so the estimate itself can't be value-
# compared — but the CONTRACT can: each engine checks its own estimate
# against its own exact count and emits a within-5% boolean, which is
# hashable and must agree. exact_parts anchors the value compare.
@register(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
               - COUNT(DISTINCT l_partkey))
             / CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) <= 0.05
             AS approx_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts").cast("double") - F.col("exact_parts"))
            / F.col("exact_parts").cast("double")
            <= 0.05
        ).alias("approx_within_5pct"),
    )


# -- cube / rollup / pivot ---------------------------------------------------------
@register(
    "agg_rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("n"))


@register(
    "agg_cube_flags",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty")
    )


@register(
    "agg_pivot_status",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
    )
    return pivoted.select(
        "l_returnflag",
        F.col("O").cast("double").alias("O"),
        F.col("F").cast("double").alias("F"),
    )


# -- analytic windows ----------------------------------------------------------------
@register(
    "window_running_sum",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_qty
    FROM lineitem
    WHERE l_suppkey <= 10
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("double").alias("running_qty"),
    )


@register(
    "window_rank_parts",
    """
    SELECT * FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             CAST(dense_rank() OVER (
               PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
             ) AS INTEGER) AS rk
      FROM part
    ) WHERE rk <= 3
    """,
)
def window_rank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return (
        part.withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rk")
    )


@register(
    "window_lead_lag_orders",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderdate) OVER w AS prev_order_date,
           lead(o_orderdate) OVER w AS next_order_date,
           CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS INTEGER)
             AS days_since_prev
    FROM orders
    WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_lead_lag_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderdate").over(w).alias("prev_order_date"),
        F.lead("o_orderdate").over(w).alias("next_order_date"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("days_since_prev"),
    )
