"""Relational surface: the join/agg/window/set-op vocabulary the
reference *implies* but never codes (SURVEY.md §2.7: "no join, union,
intersect, or except appears in any of the four scripts"; §2.5's
aggregate vocabulary is count/sum/avg/share/top-k). Exercised over the
driver's TPC-H-ish star schema so every operator class has an
oracle-checked entry.

Numeric determinism: double measures are summed through DECIMAL(18,4)
(exact, order-independent), cast back to double for output — see
queries/reference.py for the policy rationale.

Scale posture (100 TB):
  - Dimension joins (region/nation/supplier/customer at thousands of
    rows while lineitem is billions) are explicitly broadcast — no
    shuffle of the fact table for a dim lookup.
  - Fact-fact joins (orders x lineitem) are equi-joins on the natural
    key; Catalyst plans sort-merge with both sides hash-partitioned on
    the key, and AQE handles skew splits.
  - Top-k uses orderBy+limit (TakeOrderedAndProject: per-partition
    heap, no global sort); per-group top-k uses a window partitioned on
    the group key (shuffle on group key, never a global order).
  - Global ntile (lineitem_quartiles) runs the range-partition +
    broadcast-prefix-offset construction (operators/ranking.py) — no
    single-partition window anywhere in the registry (plan-linted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.operators.ranking import range_partition_ntile
from google_cloud_ecommerce_spark.pins import pin


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dsum(col) -> F.Column:
    """Exact, order-independent sum of a double expression."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


def _revenue_dec() -> F.Column:
    """extendedprice * (1 - discount) as an EXACT decimal product.

    The measures are 2-decimal-quantized doubles; multiplying them as
    doubles then rounding lands on .00005 halfway points constantly,
    where engines disagree on the tie-break. Casting each factor to
    decimal first makes the product exact and engine-independent.
    """
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    return price * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))


def _charge_dec() -> F.Column:
    """revenue * (1 + tax), exact decimal (see _revenue_dec)."""
    return _revenue_dec() * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))


_REV_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))"
_CHARGE_SQL = f"({_REV_SQL}) * (1 + CAST(l_tax AS DECIMAL(4,2)))"


# ---------------------------------------------------------------------------
# tpch_q1_pricing_summary — the canonical scan+filter+hash-aggregate:
# 2 group keys, 8 aggregates, predicate pushed to the parquet scan.
# ---------------------------------------------------------------------------


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    sum_dec = F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            sum_dec.cast("double").alias("sum_base_price"),
            F.sum(_revenue_dec()).cast("double").alias("sum_disc_price"),
            F.sum(_charge_dec()).cast("double").alias("sum_charge"),
            F.round(_dsum(F.col("l_quantity")) / F.count("*"), 4).alias("avg_qty"),
            F.round(sum_dec.cast("double") / F.count("*"), 4).alias("avg_price"),
            F.round(_dsum(F.col("l_discount")) / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# shipping_priority (TPC-H Q3 shape) — dim-filtered 3-way join + top-10
# revenue. customer is broadcast (1.5k rows vs 60k/15k facts; at 100 TB
# the same hint keeps the fact tables unshuffled for the dim filter).
# ---------------------------------------------------------------------------


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1996-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# nation_revenue (TPC-H Q5 shape) — the full 6-table star join, dims
# broadcast, grouped by nation.
# ---------------------------------------------------------------------------


def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1999-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_revenue_dec()).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# top_customers_per_segment — per-group top-k via ranking window
# (SURVEY.md §2.8: we expose row_number/rank even though the reference
# only used share-of-total). Ties broken by custkey for determinism.
# ---------------------------------------------------------------------------


def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "c_custkey", "c_name")
        .agg(_dsum(F.col("o_totalprice")).alias("total_spent"), F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("total_spent"), F.asc("c_custkey"))
    return (
        per_cust.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# order_priority_rollup — ROLLUP (priority, status): subtotal + grand
# total rows, the grouping-sets surface.
# ---------------------------------------------------------------------------


def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# order_status_pivot — groupBy+pivot (SURVEY.md Q3's pivot form). The
# pivoted value list is declared, which keeps the plan a single pass
# (no distinct-values pre-query) — the scalable form.
# ---------------------------------------------------------------------------


def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
            F.coalesce(F.col("F"), F.lit(0)).alias("n_finished"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
        )
    )


# ---------------------------------------------------------------------------
# Set ops + semi/anti joins (SURVEY.md §2.7): the README.md:35-37 funnel
# complement ("viewed but never purchased") expressed relationally.
# ---------------------------------------------------------------------------


def large_parts_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: large parts that actually appear in lineitem."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 40).select("p_partkey")
    ordered = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return part.intersect(ordered).withColumnRenamed("p_partkey", "partkey")


def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: parts with no lineitem at all."""
    part = _t(spark, sf_dir, "part").select("p_partkey")
    ordered = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey"))
    return part.exceptAll(ordered.distinct()).withColumnRenamed("p_partkey", "partkey")


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join — NOT EXISTS without a subquery materialization."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return cust.join(orders, "c_custkey", "left_anti").select("c_custkey", "c_name")


def high_value_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join — customers with at least one order above 400k."""
    cust = _t(spark, sf_dir, "customer")
    big = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400_000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(big, "c_custkey", "left_semi").select("c_custkey", "c_name", "c_mktsegment")


# ---------------------------------------------------------------------------
# first_shipment_per_order — the as-of-join shape (earliest event at or
# after an anchor time, per key). Composition: equi-join on the key +
# lexicographic struct-min aggregation. The struct-min form beats the
# row_number-window form at every scale: it gets map-side partial
# aggregation (partials shrink the shuffle to one row per key) and
# needs no sort, where the window needs a full shuffle + per-partition
# sort just to discard all but row 1.
# ---------------------------------------------------------------------------


def first_shipment_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate")
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate")
    )
    first = F.min(F.struct("l_shipdate", "l_linenumber")).alias("first")
    return (
        joined.groupBy("o_orderkey")
        .agg(first)
        .select(
            "o_orderkey",
            F.col("first.l_shipdate").alias("first_shipdate"),
            F.col("first.l_linenumber").cast("long").alias("first_linenumber"),
        )
    )


# ---------------------------------------------------------------------------
# lineitem_quartiles — exact ntile over a total order (price, tie-broken
# by the unique line key). Round 4 retired the `ntile(4) OVER (ORDER BY
# ...)` single-partition window this used to carry (the one global-sort
# plan in the suite, VERDICT r3 #3): it now delegates to the
# range-partition + collected-prefix-offset construction below, which
# the shared oracle (the window-ntile SQL) proves value-identical. The
# plan lint in tests/test_plans.py now rejects any registry entry with
# an unpartitioned WindowExec over a data-sized input.
# ---------------------------------------------------------------------------


def lineitem_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lineitem_quartiles_distributed(spark, sf_dir)


# ---------------------------------------------------------------------------
# monthly_revenue_running — time-bucketed agg + cumulative total (the
# "trend" chart shape of Q1, over the relational data). The running sum
# over the months-sized rollup uses the triangular broadcast join
# (house rule since round 4: ZERO unpartitioned WindowExec anywhere in
# the registry, lint-enforced — even a bounded one; the month table is
# tiny so the broadcast is free). Cumulation runs over exact decimals
# before the final cast, so the running totals are order-stable.
# ---------------------------------------------------------------------------


def monthly_revenue_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.trunc("o_orderdate", "month").alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"),
        F.count("*").alias("n_orders"),
    )
    earlier = monthly.select(
        F.col("month").alias("e_month"), F.col("rev_dec").alias("e_rev")
    )
    return (
        monthly.join(F.broadcast(earlier), F.col("e_month") <= F.col("month"))
        .groupBy("month", "rev_dec", "n_orders")
        .agg(F.sum("e_rev").alias("cum_dec"))
        .select(
            "month",
            F.col("rev_dec").cast("double").alias("monthly_revenue"),
            "n_orders",
            F.col("cum_dec").cast("double").alias("cumulative_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# segment_daily_moving_avg — sliding ROWS frame: 7-row moving average of
# daily revenue within each market segment. The window is partitioned
# on the segment key (parallel at scale, unlike a global trend window);
# the frame sum runs over exact decimals so the average is
# order-independent, divided by the frame COUNT (unrounded IEEE).
# ---------------------------------------------------------------------------


def segment_daily_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    daily = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"),
            F.count("*").alias("n_orders"),
        )
    )
    w = (
        Window.partitionBy("c_mktsegment")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "c_mktsegment",
        "day",
        F.col("rev_dec").cast("double").alias("daily_revenue"),
        "n_orders",
        (F.sum("rev_dec").over(w).cast("double") / F.count("*").over(w)).alias(
            "moving_avg_7d"
        ),
    )


# ---------------------------------------------------------------------------
# customer_order_progression — LEAD + PERCENT_RANK per customer: days
# until the next order (forward-looking lag) and the price's rank share
# within the customer's history. percent_rank = (rank-1)/(n-1) is an
# integer-over-integer IEEE division — bit-identical across engines.
# ---------------------------------------------------------------------------


def customer_order_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w_time = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_price = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w_time)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.to_date(nxt), F.to_date("o_orderdate")).alias("next_gap_days"),
        F.percent_rank().over(w_price).alias("price_pct_rank"),
    )


# ---------------------------------------------------------------------------
# order_cube — full CUBE (all 4 grouping sets) over priority x status.
# ---------------------------------------------------------------------------


def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# parties_union — UNION ALL with a discriminator column (the set-op the
# reference's two pipelines implied: one logical entity stream from two
# physically distinct sources).
# ---------------------------------------------------------------------------


def parties_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("party_key"),
        F.col("c_name").alias("party_name"),
        F.lit("customer").alias("party_type"),
        F.col("c_acctbal").alias("acctbal"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("party_key"),
        F.col("s_name").alias("party_name"),
        F.lit("supplier").alias("party_type"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return cust.unionByName(supp)


# ---------------------------------------------------------------------------
# revenue_grouping_sets — explicit GROUPING SETS ((priority), (status),
# ()): the two one-dimensional rollups + grand total in one shuffle,
# completing the rollup/cube/grouping-sets triple.
# ---------------------------------------------------------------------------


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.count("*").alias("n_orders"),
        _dsum(F.col("o_totalprice")).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# lineitem_measures_unpivot — wide->long melt of the three lineitem
# measures (map-side stack, no shuffle until the final tiny agg).
# ---------------------------------------------------------------------------


def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "measure_value",
    )
    return long.groupBy("measure").agg(
        F.count("*").alias("n_values"),
        _dsum(F.col("measure_value")).alias("total"),
    )


# ---------------------------------------------------------------------------
# sql_revenue_report — the same engine through the spark.sql() entry
# point (SURVEY.md §3.4: "(c) spark.sql() over registered temp views").
# Catalyst compiles this to the same physical plan as the DataFrame
# build; the entry proves the SQL surface end to end, oracle included.
# ---------------------------------------------------------------------------


def sql_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("lineitem", "orders", "customer", "nation"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        f"""
        SELECT n.n_name AS nation, year(o.o_orderdate) AS order_year,
               count(DISTINCT o.o_orderkey) AS n_orders,
               CAST(SUM(CAST({_REV_SQL} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# customers_above_nation_avg — the correlated-subquery classic
# ("customers with balance above their nation's average"), decorrelated
# the way Catalyst would: per-nation aggregate (25 rows) broadcast back
# onto the customer scan. The average is DECIMAL-exact / count, shipped
# unrounded (identical IEEE double both engines).
# ---------------------------------------------------------------------------


def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation_avg = cust.groupBy("c_nationkey").agg(
        (_dsum(F.col("c_acctbal")) / F.count("*")).alias("nation_avg_bal")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .filter(F.col("c_acctbal") > F.col("nation_avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal", "nation_avg_bal")
    )


# ---------------------------------------------------------------------------
# orders_per_customer_histogram — distribution shape: orders per customer
# (zero-order customers included via left join), then a histogram over
# those counts. Two cheap shuffles on shrinking keys.
# ---------------------------------------------------------------------------


def orders_per_customer_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


QUERIES = {
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "shipping_priority": shipping_priority,
    "nation_revenue": nation_revenue,
    "top_customers_per_segment": top_customers_per_segment,
    "order_priority_rollup": order_priority_rollup,
    "order_status_pivot": order_status_pivot,
    "large_parts_ordered": large_parts_ordered,
    "parts_never_ordered": parts_never_ordered,
    "customers_without_orders": customers_without_orders,
    "high_value_customers": high_value_customers,
    "first_shipment_per_order": first_shipment_per_order,
    "lineitem_quartiles": lineitem_quartiles,
    "monthly_revenue_running": monthly_revenue_running,
    "order_cube": order_cube,
    "parties_union": parties_union,
    "revenue_grouping_sets": revenue_grouping_sets,
    "lineitem_measures_unpivot": lineitem_measures_unpivot,
    "sql_revenue_report": sql_revenue_report,
    "customers_above_nation_avg": customers_above_nation_avg,
    "orders_per_customer_histogram": orders_per_customer_histogram,
    "segment_daily_moving_avg": segment_daily_moving_avg,
    "customer_order_progression": customer_order_progression,
}

_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE)"


def _dsum_sql(expr: str) -> str:
    return _DSUM.format(expr=expr)


ORACLE = {
    "tpch_q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum_sql('l_quantity')} AS sum_qty,
               {_dsum_sql('l_extendedprice')} AS sum_base_price,
               CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
               CAST(SUM({_CHARGE_SQL}) AS DOUBLE) AS sum_charge,
               ROUND({_dsum_sql('l_quantity')} / count(*), 4) AS avg_qty,
               ROUND({_dsum_sql('l_extendedprice')} / count(*), 4) AS avg_price,
               ROUND({_dsum_sql('l_discount')} / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY 1, 2
    """,
    "shipping_priority": f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
    "nation_revenue": f"""
        SELECT n_name AS nation,
               CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        GROUP BY 1
    """,
    "top_customers_per_segment": f"""
        WITH per_cust AS (
            SELECT c_mktsegment, c_custkey, c_name,
                   {_dsum_sql('o_totalprice')} AS total_spent,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2, 3
        )
        SELECT c_mktsegment, c_custkey, c_name, total_spent, n_orders,
               CAST(row_number() OVER (PARTITION BY c_mktsegment
                                       ORDER BY total_spent DESC, c_custkey ASC)
                    AS BIGINT) AS rank
        FROM per_cust QUALIFY rank <= 3
    """,
    "order_priority_rollup": f"""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
               {_dsum_sql('o_totalprice')} AS total_price
        FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "order_cube": f"""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
               {_dsum_sql('o_totalprice')} AS total_price
        FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
    "parties_union": """
        SELECT c_custkey AS party_key, c_name AS party_name,
               'customer' AS party_type, c_acctbal AS acctbal
        FROM customer
        UNION ALL
        SELECT s_suppkey, s_name, 'supplier', s_acctbal FROM supplier
    """,
    "revenue_grouping_sets": f"""
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
               {_dsum_sql('o_totalprice')} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
    "customers_above_nation_avg": f"""
        WITH na AS (
            SELECT c_nationkey,
                   {_dsum_sql('c_acctbal')} / count(*) AS nation_avg_bal
            FROM customer GROUP BY 1
        )
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, na.nation_avg_bal
        FROM customer c JOIN na USING (c_nationkey)
        WHERE c.c_acctbal > na.nation_avg_bal
    """,
    "orders_per_customer_histogram": """
        WITH per_cust AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY 1
        )
        SELECT n_orders, count(*) AS n_customers FROM per_cust GROUP BY 1
    """,
    "segment_daily_moving_avg": """
        WITH daily AS (
            SELECT c_mktsegment, CAST(o_orderdate AS DATE) AS day,
                   SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1, 2
        )
        SELECT c_mktsegment, day,
               CAST(rev_dec AS DOUBLE) AS daily_revenue, n_orders,
               CAST(SUM(rev_dec) OVER w AS DOUBLE) / COUNT(*) OVER w AS moving_avg_7d
        FROM daily
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "customer_order_progression": """
        SELECT o_orderkey, o_custkey,
               date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(lead(o_orderdate) OVER
                              (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) AS DATE))
                   AS next_gap_days,
               percent_rank() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice, o_orderkey)
                   AS price_pct_rank
        FROM orders
    """,
    "sql_revenue_report": f"""
        SELECT n.n_name AS nation, year(o.o_orderdate) AS order_year,
               count(DISTINCT o.o_orderkey) AS n_orders,
               CAST(SUM(CAST({_REV_SQL} AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
    """,
    "lineitem_measures_unpivot": f"""
        WITH long AS (
            SELECT l_orderkey, 'l_quantity' AS measure, l_quantity AS measure_value
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
        )
        SELECT measure, count(*) AS n_values,
               {_dsum_sql('measure_value')} AS total
        FROM long GROUP BY 1
    """,
    "order_status_pivot": """
        SELECT o_orderpriority,
               -- outer CAST: DuckDB SUM over INT widens to HUGEINT, which the
               -- driver hasher canonicalizes differently from Spark BIGINT
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0)
                    AS BIGINT) AS n_open,
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0)
                    AS BIGINT) AS n_finished,
               CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0)
                    AS BIGINT) AS n_partial
        FROM orders GROUP BY 1
    """,
    "large_parts_ordered": """
        SELECT p_partkey AS partkey FROM part WHERE p_size >= 40
        INTERSECT
        SELECT l_partkey AS partkey FROM lineitem
    """,
    "parts_never_ordered": """
        SELECT p_partkey AS partkey FROM part
        EXCEPT ALL
        SELECT DISTINCT l_partkey AS partkey FROM lineitem
    """,
    "customers_without_orders": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "high_value_customers": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    """,
    "first_shipment_per_order": """
        SELECT o_orderkey, l_shipdate AS first_shipdate,
               CAST(l_linenumber AS BIGINT) AS first_linenumber
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate
        QUALIFY row_number() OVER (PARTITION BY o_orderkey
                                   ORDER BY l_shipdate, l_linenumber) = 1
    """,
    "lineitem_quartiles": f"""
        WITH ranked AS (
            SELECT l_extendedprice,
                   CAST(ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                        AS BIGINT) AS quartile
            FROM lineitem
        )
        SELECT quartile, count(*) AS n,
               {_dsum_sql('l_extendedprice')} AS sum_price,
               min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price
        FROM ranked GROUP BY 1
    """,
    "monthly_revenue_running": """
        WITH monthly AS (
            SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                   SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec,
                   count(*) AS n_orders
            FROM orders GROUP BY 1
        )
        SELECT month, CAST(rev_dec AS DOUBLE) AS monthly_revenue, n_orders,
               CAST(SUM(rev_dec) OVER (ORDER BY month ROWS UNBOUNDED PRECEDING)
                    AS DOUBLE) AS cumulative_revenue
        FROM monthly
    """,
}


# ---------------------------------------------------------------------------
# return_excess_orders — EXCEPT ALL (multiset difference), the bag form
# of the set ops elsewhere (user_cohort_setops is DISTINCT semantics).
# The R-flag lineitem order keys minus the A-flag ones WITH
# multiplicity: an order with 3 R lines and 1 A line survives twice.
# Spark plans exceptAll as a generate-over-counted-groups — no join
# explosion — and the final aggregate keeps the output tiny.
# ---------------------------------------------------------------------------


def return_excess_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    excess = r.exceptAll(a)
    return excess.groupBy("l_orderkey").agg(F.count("*").alias("excess_r_lines"))


RETURN_EXCESS_ORDERS_SQL = """
    SELECT l_orderkey, count(*) AS excess_r_lines
    FROM (
        SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
        EXCEPT ALL
        SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
    )
    GROUP BY 1
"""


QUERIES["return_excess_orders"] = return_excess_orders
ORACLE["return_excess_orders"] = RETURN_EXCESS_ORDERS_SQL


# ---------------------------------------------------------------------------
# lineitem_quartiles_distributed — the SAME statistic as
# lineitem_quartiles built scale-true: instead of the single-partition
# ntile window, global rank comes from the two-pass partition-offset
# construction (range partition + in-partition sort + per-partition
# counts -> collected prefix offsets, exactly record_id's machinery),
# and the quartile is computed from the rank with ntile's
# remainder-to-front arithmetic. The oracle IS the window-ntile SQL —
# proving the distributed construction is value-identical to the
# global-sort form it replaces at scale. The machinery lives in
# operators/ranking.py since round 4 (decile_lift_chart shares it).
# ---------------------------------------------------------------------------


def lineitem_quartiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    li = _t(spark, sf_dir, "lineitem").select(*keys)
    return (
        range_partition_ntile(li, keys, 4, out_col="quartile")
        .groupBy("quartile")
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("l_extendedprice")).alias("sum_price"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


QUERIES["lineitem_quartiles_distributed"] = lineitem_quartiles_distributed
ORACLE["lineitem_quartiles_distributed"] = ORACLE["lineitem_quartiles"]


# ---------------------------------------------------------------------------
# order_value_distribution — the last two ranking-window functions in
# the SQL vocabulary (percent_rank, cume_dist), per order priority.
# Both are exact integer ratios ((rank-1)/(n-1), peers/n) so the
# doubles are engine-identical unrounded. Top-5 per priority by price
# (ties to the lower key) keeps the output bounded; the window
# partitions per priority — parallel, never global.
# ---------------------------------------------------------------------------


def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .filter(F.col("rn") <= 5)
    )


ORDER_VALUE_DISTRIBUTION_SQL = """
    WITH r AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER w AS BIGINT) AS rn,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice DESC, o_orderkey)
    )
    SELECT * FROM r WHERE rn <= 5
"""

QUERIES["order_value_distribution"] = order_value_distribution
ORACLE["order_value_distribution"] = ORDER_VALUE_DISTRIBUTION_SQL


# ---------------------------------------------------------------------------
# grouping_id_report — the grouping() / grouping_id() bitmask surface:
# one result over three grouping sets where each row self-describes its
# aggregation level. Consumers (reporting layers, incremental rollup
# caches) dispatch on the bitmask instead of sniffing NULLs — the NULL
# "ALL" marker is ambiguous when the grouped column itself is nullable.
#
# Plan: NOT the Expand operator (which replays every input row once per
# grouping set — 3x the scan here, Nx at a deep cube). The fact scans
# ONCE into the finest-level partials; the coarser sets REAGGREGATE
# those few rows (counts and decimal sums are additive — same principle
# as events_cube_rollup). The bitmask literals match Spark's
# grouping_id() numbering, and the oracle runs the classic GROUPING
# SETS spelling, proving the scan-once rewrite value-identical.
# ---------------------------------------------------------------------------


def grouping_id_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # the 6-row partial table feeds all three grouping sets; without
    # the pin each set re-plans the full scan
    base = pin(
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("tp_dec"),
        )
    )
    finest = base.select(
        "l_returnflag", "l_linestatus", F.lit(0).cast("long").alias("gid"),
        "n_items", "tp_dec",
    )
    by_flag = base.groupBy("l_returnflag").agg(
        F.sum("n_items").alias("n_items"), F.sum("tp_dec").alias("tp_dec")
    ).select(
        "l_returnflag", F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(1).cast("long").alias("gid"), "n_items", "tp_dec",
    )
    grand = base.groupBy().agg(
        F.sum("n_items").alias("n_items"), F.sum("tp_dec").alias("tp_dec")
    ).select(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        F.lit(3).cast("long").alias("gid"), "n_items", "tp_dec",
    )
    return (
        finest.unionByName(by_flag)
        .unionByName(grand)
        .select(
            "l_returnflag",
            "l_linestatus",
            "gid",
            "n_items",
            F.col("tp_dec").cast("double").alias("total_price"),
        )
    )


GROUPING_ID_REPORT_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


QUERIES["grouping_id_report"] = grouping_id_report
ORACLE["grouping_id_report"] = GROUPING_ID_REPORT_SQL


# ---------------------------------------------------------------------------
# lateral_top_orders — the correlated LATERAL subquery surface (SQL:99
# LATERAL / CROSS APPLY): for each machinery-segment customer, the
# top-2 orders by price from an inner query that references the outer
# row. Catalyst plans the correlated limit as a per-key ranking rather
# than per-row re-execution — the decorrelation that makes LATERAL
# viable at scale — and DuckDB accepts the identical query text, so
# the SQL is shared verbatim between engines.
# ---------------------------------------------------------------------------

_LATERAL_TOP_ORDERS_SQL = """
    SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
    FROM customer c,
         LATERAL (
             SELECT o_orderkey, o_totalprice
             FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey
             LIMIT 2
         ) l
    WHERE c.c_mktsegment = 'MACHINERY'
"""


def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    for name in ("customer", "orders"):
        _t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_LATERAL_TOP_ORDERS_SQL)


QUERIES["lateral_top_orders"] = lateral_top_orders
ORACLE["lateral_top_orders"] = _LATERAL_TOP_ORDERS_SQL
