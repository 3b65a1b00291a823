"""Temporal join operators the reference's funnel analysis implies but
never codes (SURVEY.md §2.7: the reference has zero joins; its
view→purchase funnels semantically need point-in-time matching).

Three join shapes Spark has no dedicated operator for, each expressed
so Catalyst picks a scalable physical plan:

  asof_purchase_view    backward as-of join via union + ordered window
                        (ONE shuffle on user_id; no inequality join, no
                        per-key explosion — the pattern that replaces
                        `ASOF JOIN` at 100 TB)
  purchase_attribution  equi + range join (same-user views in the hour
                        before each purchase): sort-merge on the equi
                        key, range predicate evaluated as a join filter
  value_band_stats      non-equi join against a tiny literal band table
                        (BroadcastNestedLoopJoin — correct ONLY because
                        the build side is O(10) rows and the probe side
                        streams map-side)

Scale posture: the as-of union trick is the load-bearing one. A naive
`views v JOIN purchases p ON v.user = p.user AND v.ts <= p.ts` produces
|views per user| × |purchases per user| intermediate rows before the
max() prunes them; the union+last-ignore-nulls form is linear in input
and needs exactly one hash partition by user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.pins import pin

ATTRIBUTION_WINDOW_US = 3_600 * 1_000_000  # views within 1 hour before purchase

# (band_name, lo inclusive, hi exclusive) — hi=None is +inf.
VALUE_BANDS = (
    ("low", 0.0, 50.0),
    ("mid", 50.0, 200.0),
    ("high", 200.0, 500.0),
    ("premium", 500.0, None),
)


def _ev_us(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us"), "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# asof_purchase_view — for each purchase, the most recent view by the
# same user at or before the purchase instant (ties on the same
# microsecond: the view matches; among equal-time views the highest
# event_id wins — encoded by the (us, side, event_id) sort).
# ---------------------------------------------------------------------------


def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev_us(spark, sf_dir).filter(F.col("event_type").isin("view", "purchase"))
    tagged = ev.withColumn(
        "side", F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_val = F.when(F.col("side") == 0, F.struct("us", "event_id"))
    matched = tagged.withColumn("prior_view", F.last(view_val, ignorenulls=True).over(w))
    # gap_seconds stays UNROUNDED: int/1e6 is a correctly-rounded IEEE
    # division, bit-identical in every engine; rounding to N decimals
    # introduces half-way ties the engines break differently.
    return matched.filter(F.col("side") == 1).select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("prior_view.event_id").alias("view_event_id"),
        ((F.col("us") - F.col("prior_view.us")) / 1_000_000).alias("gap_seconds"),
    )


ASOF_PURCHASE_VIEW_SQL = """
    WITH ev AS (
        SELECT event_id, epoch_us(ts) AS us, user_id,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side
        FROM events WHERE event_type IN ('view', 'purchase')
    ), matched AS (
        SELECT *,
               last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w
                   AS view_event_id,
               last_value(CASE WHEN side = 0 THEN us END IGNORE NULLS) OVER w AS view_us
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_event_id, user_id, view_event_id,
           (us - view_us) / 1000000.0 AS gap_seconds
    FROM matched WHERE side = 1
"""


# ---------------------------------------------------------------------------
# purchase_attribution — equi + range join: count same-user views in the
# hour before each purchase (left join keeps zero-view purchases).
# ---------------------------------------------------------------------------


def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev_us(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"), "user_id", F.col("us").alias("p_us")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("us").alias("v_us")
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("v_us") >= F.col("p_us") - ATTRIBUTION_WINDOW_US)
        & (F.col("v_us") < F.col("p_us")),
        "left",
    )
    return joined.groupBy("purchase_event_id", "user_id").agg(
        F.count("v_us").alias("n_views_prior_hour")
    )


PURCHASE_ATTRIBUTION_SQL = f"""
    WITH ev AS (
        SELECT event_id, epoch_us(ts) AS us, user_id, event_type FROM events
    ), p AS (
        SELECT event_id AS purchase_event_id, user_id, us AS p_us
        FROM ev WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id AS v_user_id, us AS v_us FROM ev WHERE event_type = 'view'
    )
    SELECT purchase_event_id, user_id, count(v_us) AS n_views_prior_hour
    FROM p LEFT JOIN v
      ON user_id = v_user_id
     AND v_us >= p_us - {ATTRIBUTION_WINDOW_US}
     AND v_us < p_us
    GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# value_band_stats — non-equi broadcast join against a literal band
# table (the generic form of the reference's fixed category buckets).
# ---------------------------------------------------------------------------


def value_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(n, lo, hi) for n, lo, hi in VALUE_BANDS],
        "band string, lo double, hi double",
    )
    cond = (F.col("value") >= F.col("lo")) & (
        F.col("hi").isNull() | (F.col("value") < F.col("hi"))
    )
    return (
        ev.join(F.broadcast(bands), cond)
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
    )


def _bands_values_sql() -> str:
    rows = ", ".join(
        f"('{n}', {lo!r}, {'NULL' if hi is None else repr(hi)})" for n, lo, hi in VALUE_BANDS
    )
    return f"(VALUES {rows}) AS bands(band, lo, hi)"


VALUE_BAND_STATS_SQL = f"""
    SELECT band, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events JOIN {_bands_values_sql()}
      ON value >= lo AND (hi IS NULL OR value < hi)
    GROUP BY 1
"""


QUERIES = {
    "asof_purchase_view": asof_purchase_view,
    "purchase_attribution": purchase_attribution,
    "value_band_stats": value_band_stats,
}

ORACLE = {
    "asof_purchase_view": ASOF_PURCHASE_VIEW_SQL,
    "purchase_attribution": PURCHASE_ATTRIBUTION_SQL,
    "value_band_stats": VALUE_BAND_STATS_SQL,
}


_t = load_table  # local alias, matching relational.py's idiom


# ---------------------------------------------------------------------------
# Outer-join completion — the two join types nothing else in the suite
# exercises. Both sides pre-aggregate BEFORE the join (at 100 TB you
# outer-join the small aggregates, never the raw facts).
#
#   nation_party_balance_full_outer  per-nation customer vs supplier
#       balance, FULL OUTER on nationkey: structural modulo filters
#       (customers from nationkey % 3 != 0, suppliers from even
#       nations) guarantee each side misses nations AT ANY SCALE
#       FACTOR, so both null-extensions are exercised (asserted).
#   segment_orders_right_outer       URGENT orders RIGHT OUTER customer
#       — every customer represented; those with zero urgent orders
#       null-extend. (Right outer ≡ mirrored left outer; it exists so
#       the physical right-outer path is exercised too.)
# ---------------------------------------------------------------------------


def nation_party_balance_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") % 3 != 0)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).alias("cust_bal"),
        )
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") % 2 == 0)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)")).alias("supp_bal"),
        )
    )
    joined = cust.withColumnRenamed("nationkey", "c_nk").join(
        supp.withColumnRenamed("nationkey", "s_nk"),
        F.col("c_nk") == F.col("s_nk"),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("c_nk"), F.col("s_nk")).alias("nationkey"),
        F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
        F.coalesce(F.col("cust_bal"), F.lit(0)).cast("double").alias("cust_bal"),
        F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        F.coalesce(F.col("supp_bal"), F.lit(0)).cast("double").alias("supp_bal"),
        (F.col("c_nk").isNotNull() & F.col("s_nk").isNotNull())
        .cast("long")
        .alias("both_sides"),
    )


NATION_PARTY_BALANCE_FULL_OUTER_SQL = """
    WITH c AS (
        SELECT c_nationkey AS nationkey, count(*) AS n_customers,
               SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS cust_bal
        FROM customer WHERE c_nationkey % 3 <> 0 GROUP BY 1
    ), s AS (
        SELECT s_nationkey AS nationkey, count(*) AS n_suppliers,
               SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS supp_bal
        FROM supplier WHERE s_nationkey % 2 = 0 GROUP BY 1
    )
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(n_customers, 0) AS n_customers,
           CAST(COALESCE(cust_bal, 0) AS DOUBLE) AS cust_bal,
           COALESCE(n_suppliers, 0) AS n_suppliers,
           CAST(COALESCE(supp_bal, 0) AS DOUBLE) AS supp_bal,
           CAST(c.nationkey IS NOT NULL AND s.nationkey IS NOT NULL AS BIGINT)
               AS both_sides
    FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
"""


def segment_orders_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(cust, orders["o_custkey"] == cust["c_custkey"], "right_outer")
    return joined.groupBy("c_mktsegment").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.count_distinct("c_custkey").alias("n_customers"),
        F.sum(F.col("o_orderkey").isNull().cast("long")).alias("n_orderless_rows"),
    )


SEGMENT_ORDERS_RIGHT_OUTER_SQL = """
    SELECT c_mktsegment, count(o_orderkey) AS n_orders,
           COUNT(DISTINCT c_custkey) AS n_customers,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orderless_rows
    FROM (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') o
    RIGHT OUTER JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
"""


QUERIES["nation_party_balance_full_outer"] = nation_party_balance_full_outer
QUERIES["segment_orders_right_outer"] = segment_orders_right_outer
ORACLE["nation_party_balance_full_outer"] = NATION_PARTY_BALANCE_FULL_OUTER_SQL
ORACLE["segment_orders_right_outer"] = SEGMENT_ORDERS_RIGHT_OUTER_SQL


# ---------------------------------------------------------------------------
# conversion_latency_percentiles — the funnel's TIME dimension: for
# every purchase with a prior view (the as-of pairing above), the
# view->purchase latency distribution per category bucket — p50/p90 and
# the within-the-hour share. "How long do users deliberate, and does it
# differ by category" is the first follow-up to any funnel chart. Same
# single-shuffle as-of window as asof_purchase_view; percentile
# interpolation rounds (load-bearing, see value_percentiles), the
# within-hour share is an exact integer ratio.
# ---------------------------------------------------------------------------


def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id",
            F.unix_micros("ts").alias("us"),
            "user_id",
            "event_type",
            (F.get_json_object("props", "$.k").cast("long") % 10).alias("bucket"),
        )
    )
    tagged = ev.withColumn(
        "side", F.when(F.col("event_type") == "view", F.lit(0)).otherwise(F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    view_us = F.when(F.col("side") == 0, F.col("us"))
    lat = (
        tagged.withColumn("prior_view_us", F.last(view_us, ignorenulls=True).over(w))
        .filter(
            (F.col("side") == 1)
            & F.col("prior_view_us").isNotNull()
            & F.col("bucket").isNotNull()
        )
        .select("bucket", (F.col("us") - F.col("prior_view_us")).alias("lat_us"))
    )
    return lat.groupBy("bucket").agg(
        F.count("*").alias("n_conversions"),
        F.round(F.expr("percentile(lat_us, 0.5)"), 0).alias("p50_latency_us"),
        F.round(F.expr("percentile(lat_us, 0.9)"), 0).alias("p90_latency_us"),
        (
            F.sum((F.col("lat_us") <= 3600 * 1_000_000).cast("long"))
            / F.count("*")
        ).alias("within_hour_share"),
    )


CONVERSION_LATENCY_SQL = """
    WITH ev AS (
        SELECT event_id, epoch_us(ts) AS us, user_id,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS side,
               CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS bucket
        FROM events WHERE event_type IN ('view', 'purchase')
    ), matched AS (
        SELECT *,
               last_value(CASE WHEN side = 0 THEN us END IGNORE NULLS) OVER w
                   AS prior_view_us
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), lat AS (
        SELECT bucket, us - prior_view_us AS lat_us
        FROM matched
        WHERE side = 1 AND prior_view_us IS NOT NULL AND bucket IS NOT NULL
    )
    SELECT bucket,
           count(*) AS n_conversions,
           ROUND(quantile_cont(lat_us, 0.5), 0) AS p50_latency_us,
           ROUND(quantile_cont(lat_us, 0.9), 0) AS p90_latency_us,
           CAST(SUM(CASE WHEN lat_us <= 3600::BIGINT * 1000000 THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS within_hour_share
    FROM lat GROUP BY 1
"""


QUERIES["conversion_latency_percentiles"] = conversion_latency_percentiles
ORACLE["conversion_latency_percentiles"] = CONVERSION_LATENCY_SQL


# ---------------------------------------------------------------------------
# bucketed_join_revenue — the co-located (zero-shuffle) join: orders
# and customer are both stored bucketed+sorted on the customer key
# (io.ensure_bucketed_table), so the SortMergeJoin consumes the bucket
# layout directly — NO Exchange on either side, one task per bucket
# (plan-asserted in tests/test_plans.py). This is the ingest-time
# answer for fact-to-fact joins that are too big to broadcast: at
# 100 TB the shuffle is paid once when the table lands, not per query.
# The reference pays the equivalent cost per run by re-reading CSV
# into pandas chunks (write_session_batch.py:133-134).
#
# The merge hint pins SMJ so the demonstration is stable even when
# the small fixture side would broadcast; at scale neither side fits
# a broadcast and SMJ-over-buckets is the plan AQE would pick anyway.
# ---------------------------------------------------------------------------


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from google_cloud_ecommerce_spark.io import ensure_bucketed_table

    cust = ensure_bucketed_table(spark, sf_dir, "customer", "c_custkey")
    orders = ensure_bucketed_table(spark, sf_dir, "orders", "o_custkey")
    j = orders.hint("merge").join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    )
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_revenue"),
    )


QUERIES["bucketed_join_revenue"] = bucketed_join_revenue
ORACLE["bucketed_join_revenue"] = """
    SELECT c_mktsegment, count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# skew_join_demo — AQE skew-join handling demonstrated end-to-end
# (VERDICT r9 #7): the classic hot-key fact join — 40% of event
# traffic carries a logged-out default id (user_id % 10 < 4 collapses
# to uid 0), joined to a per-user profile DERIVED FROM THE FACT TABLE
# itself. The profile side is fact-proportional (one row per user —
# 100M+ rows at production scale), so it must never carry a broadcast
# hint (operators/guards.py discipline); the `merge` hint declares the
# production plan (sort-merge) explicitly so local statistics can't
# quietly broadcast away the skew problem the demo exists to show.
#
# With AQE's skew-join split (on in session.py), the oversized uid-0
# post-shuffle partition splits into parallel subpartitions at runtime
# — tests/test_plans.py::test_skew_join_demo_aqe_splits_hot_key runs
# this exact join under tightened skew thresholds (local data is MBs,
# production thresholds are 256 MB) and asserts `skew=true` in the
# final adaptive plan; operators/skew.salted_join remains the static
# fallback for a key too hot even for AQE (one key > one executor).
# ---------------------------------------------------------------------------

SKEW_HOT_MOD = 10
SKEW_HOT_LIMIT = 4  # user_id % 10 < 4 => logged-out traffic, uid 0


def _skewed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        F.when(
            F.col("user_id") % SKEW_HOT_MOD < SKEW_HOT_LIMIT, F.lit(0)
        )
        .otherwise(F.col("user_id"))
        .alias("skew_uid"),
        "event_type",
        "value",
    )


def _skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The demo's join subtree (pre-aggregation), shared with the AQE
    plan test so the asserted plan is the shipped plan."""
    ev = _skewed_events(spark, sf_dir)
    # pinned though it has one consumer: OptimizeSkewedJoin only splits a
    # Sort(Shuffle) join side, and an inline final aggregate is not one
    profile = pin(
        ev.groupBy("skew_uid")
        .agg(
            F.count("*").alias("n_user_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("user_value"),
        )
    )
    # merge hint: the profile is fact-derived — at scale it is far too
    # big to broadcast, and the guards forbid hinting it; SMJ is the
    # honest production plan and the one AQE's skew split targets
    return ev.hint("merge").join(profile, "skew_uid")


def skew_join_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _skew_join(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("n_user_events").alias("sum_profile_events"),
        F.sum(F.col("user_value").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_profile_value"),
    )


QUERIES["skew_join_demo"] = skew_join_demo
ORACLE["skew_join_demo"] = f"""
    WITH ev AS (
        SELECT CASE WHEN user_id % {SKEW_HOT_MOD} < {SKEW_HOT_LIMIT}
                    THEN 0 ELSE user_id END AS skew_uid,
               event_type, value
        FROM events
    ), prof AS (
        SELECT skew_uid, count(*) AS n_user_events,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS user_value
        FROM ev GROUP BY 1
    )
    SELECT e.event_type, count(*) AS n_events,
           CAST(SUM(p.n_user_events) AS BIGINT) AS sum_profile_events,
           CAST(SUM(CAST(p.user_value AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_profile_value
    FROM ev e JOIN prof p USING (skew_uid)
    GROUP BY 1
"""
