"""The reference's analytics suite (SURVEY.md §2.5 Q1-Q6) plus its
per-row transform chain (§2.3), re-expressed over the driver's
``events(event_id, ts, user_id, event_type, value, props)`` table.

Column mapping (FIXTURES.md §2): ``ts`` = event_time, ``value`` = price,
``props`` ('{"k": N}') = the category_code dict-string the reference
stringified at ``batch_pipeline/write_session_batch.py:18-20`` — here
parsed natively with ``get_json_object`` instead of stored as text.
``user_id`` + a 30-minute inactivity gap replaces ``user_session``
(the testdata has no session uuid column).

Numeric-determinism policy (applies to every oracle-checked query in
this repo): double sums go through DECIMAL(18,4) so the aggregate is
exact and order-independent — Spark sums partitions in nondeterministic
order, so a raw double sum would differ from any sequential oracle in
the last ulps. Averages and ratios are rounded to a fixed scale AFTER a
deterministic cast back to double. Counts/ids stay integral. Every
computed column is aliased identically in the DataFrame build and the
oracle SQL (the driver's comparator hashes by sorted column name).

Scale notes per query are inline; the global posture: all of these are
hash-aggregates on low-cardinality keys (day/hour/weekday/event_type),
so Catalyst plans partial (map-side) + final aggregation — shuffle
volume is per-group partials, not rows, and that holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.operators.ranking import range_partition_rank
from google_cloud_ecommerce_spark.pins import pin

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap, in microseconds


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _k(col: str = "props") -> Column:
    """The reference's category id, parsed from the props dict-string
    (write_session_batch.py:18-20 stringified it; we parse it natively)."""
    return F.get_json_object(F.col(col), "$.k").cast("long")


def _dsum(col: Column) -> Column:
    """Order-independent double sum: exact DECIMAL accumulation, then a
    deterministic cast back to double."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


# ---------------------------------------------------------------------------
# Q1 — daily_events: count per day x event_type
# (README.md:58-60; images/daily_events.png). Flagship query.
# ---------------------------------------------------------------------------


def daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Q2 — top_categories: filter one event type, top-10 categories by volume
# (README.md:62-64; images/most_visited_subcategories.png: filter
# event_type='view', keep 10 members by count). Ties broken by category id
# so the limit is deterministic.
# Scale: filter pushes to the parquet scan; TakeOrderedAndProject keeps
# only 10 rows per partition before the final merge — no global sort.
# ---------------------------------------------------------------------------


def top_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .groupBy(_k().alias("category"))
        .agg(F.count("*").alias("volume"))
        .orderBy(F.desc("volume"), F.asc("category"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q3 — hour_event_value: sum(price) + avg(price) per hour x event_type
# (README.md:66-68; images/hour_event_price.png: cell label = SUM, cell
# color = AVG).
# ---------------------------------------------------------------------------


def hour_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg rounded to 4 decimals via exact integer arithmetic: the sum is
    # decimal(18,4), so sum*10^4 is an exact integer and half-up rounding
    # of sum/n at scale 4 is (2*s + n) div (2*n) — engine-independent,
    # unlike round(double, 4) whose tie-breaks differ between Spark and
    # DuckDB on .xxxx5 halfway points (values are non-negative prices, so
    # trunc-division == floor-division in both engines).
    sum_dec = F.sum(F.col("value").cast("decimal(18,4)"))
    return (
        _events(spark, sf_dir)
        .groupBy(F.hour("ts").cast("long").alias("hour"), "event_type")
        .agg(
            sum_dec.cast("double").alias("sum_value"),
            (sum_dec * F.lit(10000)).cast("long").alias("_s4"),
            F.count("*").alias("n_events"),
        )
        .select(
            "hour",
            "event_type",
            "sum_value",
            (
                F.expr("(2 * _s4 + n_events) div (2 * n_events)").cast("double")
                / F.lit(10000.0)
            ).alias("avg_value"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Q4 — weekday_conversion_volume: count per weekday x event_type
# (README.md:70-72; images/purchase_conversion_volume.png).
# Weekday convention: Spark dayofweek (1=Sunday..7=Saturday); the oracle
# normalizes DuckDB's 0-based dow to match (SURVEY.md §7 risk note).
# ---------------------------------------------------------------------------


def weekday_conversion_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.dayofweek("ts").cast("long").alias("weekday"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Q5 — conversion_rate: share of each event_type within a category bucket
# (README.md:74-76; images/purchase_conversion_rate.png "Percents are
# based on each row of each pane" = count / sum(count) OVER (PARTITION BY
# pane)). Buckets = k % 10 (top-5-subcategory analog on synthetic data).
# The window input is integral counts, so the ratio is deterministic.
# ---------------------------------------------------------------------------


def conversion_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _events(spark, sf_dir)
        .groupBy((_k() % 10).alias("bucket"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    w = Window.partitionBy("bucket")
    return counts.select(
        "bucket",
        "event_type",
        "n_events",
        F.round(F.col("n_events") / F.sum("n_events").over(w), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# Q6 — purchase_funnel: sessionize by (user_id, 30-min gap), then count
# sessions reaching each funnel stage (README.md:35-37's two funnels:
# view->purchase, and the 3-stage click->view->purchase analog of
# view->cart->purchase; strict time ordering within the session).
# Gap arithmetic in integral microseconds (unix_micros) so session
# boundaries are bit-exact across engines.
# Scale: the lag/cumsum windows partition by user_id — shuffle on a
# high-cardinality key, no global ordering anywhere; the final rollup is
# a single-row aggregate of per-session booleans.
# ---------------------------------------------------------------------------


def purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    by_user = Window.partitionBy("user_id").orderBy("us", "event_id")
    sessions = ev.select(
        "*",
        F.when(
            F.coalesce(F.col("us") - F.lag("us").over(by_user), F.lit(SESSION_GAP_US + 1))
            > SESSION_GAP_US,
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    ).select(
        "*",
        F.sum("is_new").over(by_user.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )

    def first_us(event_type: str) -> Column:
        return F.min(F.when(F.col("event_type") == event_type, F.col("us")))

    per_session = sessions.groupBy("user_id", "session_id").agg(
        first_us("click").alias("t_click"),
        first_us("view").alias("t_view"),
        first_us("purchase").alias("t_purchase"),
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_with_view"),
        F.sum((F.col("t_view") <= F.col("t_purchase")).cast("long")).alias("n_view_then_purchase"),
        F.sum(
            ((F.col("t_click") <= F.col("t_view")) & (F.col("t_view") <= F.col("t_purchase"))).cast(
                "long"
            )
        ).alias("n_click_view_purchase"),
    )


# ---------------------------------------------------------------------------
# Transform-chain parity (§2.3 operators #12-#17, #21): the reference's
# RDD map + Beam DoFn enrichment as one codegen'd projection.
# ---------------------------------------------------------------------------


def event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).select(
        "event_id",
        F.to_date("ts").alias("day"),
        F.hour("ts").cast("long").alias("hour"),
        F.dayofweek("ts").cast("long").alias("weekday"),
        F.coalesce(_k(), F.lit(-1)).alias("category"),
        F.round(F.col("value"), 2).alias("price"),
        F.when(F.col("value") >= 100, "high").otherwise("low").alias("price_tier"),
    )


# ---------------------------------------------------------------------------
# csv_roundtrip (§2.3 #18/#19): serialize each event to the reference's
# wire format (comma-joined utf-8 line, second-precision timestamp —
# send_session_stream.py:30-33) and parse it back to typed columns
# (write_session_stream.py:51-57). Demonstrates the encode/decode pair
# without a Python worker in sight.
# ---------------------------------------------------------------------------


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    wire = _events(spark, sf_dir).select(
        F.encode(
            F.concat_ws(
                ",",
                F.col("event_id").cast("string"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                F.col("user_id").cast("string"),
                "event_type",
                F.col("value").cast("string"),
            ),
            "UTF-8",
        ).alias("payload")
    )
    parts = F.split(F.decode(F.col("payload"), "UTF-8"), ",")
    # ts_second stays a STRING in the output: date_format renders it
    # JVM-side under the pinned session TZ, so the collected value is
    # identical no matter what process timezone the comparator runs in.
    # (Raw TimestampType collect() localizes to the PROCESS tz.)
    return wire.select(
        parts.getItem(0).cast("long").alias("event_id"),
        F.date_format(
            F.to_timestamp(parts.getItem(1), "yyyy-MM-dd HH:mm:ss"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts_second"),
        parts.getItem(2).cast("long").alias("user_id"),
        parts.getItem(3).alias("event_type"),
        parts.getItem(4).cast("double").alias("value"),
    )


# ---------------------------------------------------------------------------
# record_id (§2.3 #21): dense row id over a total order — the correct
# version of the reference's per-chunk pandas index
# (write_session_batch.py:172-173), built scale-true. A global
# row_number window is a single-partition sort; instead this is the
# two-pass partition-offset construction of operators/ranking.py
# (range_partition_rank):
#
#   1. range-partition on the order key and sort within partitions —
#      partitions are globally ordered, each sorts in parallel;
#      monotonically_increasing_id() then encodes (partition, local
#      row) as (pid << 33) + local with local following the sort order.
#      One pin (pins.pin) holds the sampled range boundaries and the
#      assigned ids so both passes see identical partitions (the range
#      partitioner's boundary sampling is not re-run per consumer).
#   2. per-partition counts -> exclusive offsets. The count table has
#      one row per partition, so it is collected to the driver and the
#      offsets ride back into the plan as an array literal.
#
# record_id = offset[pid] + local. Dense, deterministic, no global
# sort; the only full shuffle is the range repartition the total order
# inherently requires. For uniqueness-only ids, skip pass 2 and use
# monotonically_increasing_id alone (no shuffle at all).
# ---------------------------------------------------------------------------


def record_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("ts", "event_id", "event_type")
    return range_partition_rank(ev, ["ts", "event_id"], out_col="record_id").select(
        "record_id", "event_id", "event_type"
    )


# ---------------------------------------------------------------------------
# user_event_gaps — explicit lag/lead surface (SURVEY.md §2.8): per-user
# inter-event gap statistics. Gap math in integral microseconds; the
# average divides two exact integers.
# ---------------------------------------------------------------------------


def user_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    by_user = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        "user_id", (F.col("us") - F.lag("us").over(by_user)).alias("gap_us")
    )
    return gaps.groupBy("user_id").agg(
        (F.count("*")).alias("n_events"),
        F.count("gap_us").alias("n_gaps"),
        F.round(F.sum("gap_us") / F.count("gap_us") / 1_000_000, 4).alias("avg_gap_seconds"),
        F.round(F.max("gap_us") / 1_000_000, 4).alias("max_gap_seconds"),
    )


# ---------------------------------------------------------------------------
# value_percentiles — exact interpolated percentiles per event_type
# (Spark `percentile`; at 100 TB the same query ships as
# percentile_approx with a declared error bound — exact kept here
# because it is oracle-checkable).
# ---------------------------------------------------------------------------


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# value_zscore_outliers — outlier counting per event_type without an
# engine-specific stddev: Spark's stddev/variance (and DuckDB's) use
# different accumulation algorithms, so their doubles differ in the
# last ulps. Instead mean and variance are DERIVED from decimal-exact
# sums (value is 2-decimal quantized, so value and value^2 cast to
# decimal losslessly): mean = S1/n, var = S2/n - mean^2 — identical
# IEEE arithmetic in both engines, and sqrt is correctly rounded per
# IEEE-754 everywhere. One partial+final hash aggregate for the
# moments (broadcast back as a tiny dim), one conditional re-aggregate
# for the outlier counts: two scans, zero shuffles of the fact beyond
# the 5-group partials.
# ---------------------------------------------------------------------------


def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    moments = ev.groupBy(F.col("event_type").alias("m_type")).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum(
            (F.col("value").cast("decimal(18,4)") * F.col("value").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    enriched = ev.join(
        F.broadcast(moments), F.col("event_type") == F.col("m_type")
    ).withColumn("z_cut", F.lit(2.0) * F.sqrt(var))
    is_outlier = F.abs(F.col("value") - mean) > F.col("z_cut")
    return (
        enriched.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.when(is_outlier, 1).otherwise(0)).alias("n_outliers"),
        )
    )


VALUE_ZSCORE_OUTLIERS_SQL = """
    WITH moments AS (
        SELECT event_type AS m_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4)))
                    AS DOUBLE) AS s2
        FROM events GROUP BY 1
    )
    SELECT event_type, count(*) AS n_events,
           CAST(SUM(CASE WHEN abs(value - s1 / n)
                              > 2.0 * sqrt(s2 / n - (s1 / n) * (s1 / n))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events JOIN moments ON event_type = m_type
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# value_percentiles_approx — the 100 TB form of value_percentiles:
# exact percentile() holds all group values; approx_percentile keeps a
# bounded KLL-style sketch per group. Sketch outputs are
# engine-specific, so this is a LIBRARY function (not a registry entry —
# every registry entry must be oracle-checkable): the exact twin above
# is the semantic anchor, `tests/test_relational.py` bounds the error,
# and `value_quantile_sketch` (queries/stats.py) is the deterministic
# mergeable-sketch form that IS registry-verified.
# ---------------------------------------------------------------------------


def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
            F.expr("approx_percentile(value, 0.9, 10000)").alias("p90_approx"),
            F.expr("approx_percentile(value, 0.99, 10000)").alias("p99_approx"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# funnel_transitions — the window-lag form of Q6 (SURVEY.md §7: "implement
# strict-ordered (window-lag) and set-membership variants"): consecutive
# event-type transitions within a session (gap <= 30 min), with counts
# and mean transition latency. Complements purchase_funnel's grouped-min
# form (same shuffle key: user_id).
# ---------------------------------------------------------------------------


def funnel_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    by_user = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(by_user).alias("prev_type"),
        "event_type",
        (F.col("us") - F.lag("us").over(by_user)).alias("gap_us"),
    ).filter(F.col("prev_type").isNotNull() & (F.col("gap_us") <= SESSION_GAP_US))
    return pairs.groupBy("prev_type", "event_type").agg(
        F.count("*").alias("n_transitions"),
        F.round(F.sum("gap_us") / F.count("*") / 1_000_000, 4).alias("avg_gap_seconds"),
    )


# ---------------------------------------------------------------------------
# user_cohort_setops — INTERSECT / EXCEPT over user sets (the funnel
# complement of README.md:35-37 as set algebra: carted-and-purchased vs
# viewed-never-purchased). Spark plans both as left-semi/anti joins on
# the deduped key sets — no full-row comparison shuffle.
# ---------------------------------------------------------------------------


# scan-audit: INTERSECT/EXCEPT demo: each set-op branch re-reads its cohort by
# design (the operators under test consume distinct scans)
def user_cohort_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)

    def users(t: str) -> DataFrame:
        return ev.filter(F.col("event_type") == t).select("user_id")

    cart_and_purchase = (
        users("cart").intersect(users("purchase"))
        .agg(F.count("*").alias("n_users"))
        .withColumn("cohort", F.lit("cart_and_purchase"))
    )
    view_never_purchase = (
        users("view").subtract(users("purchase"))  # EXCEPT (set semantics)
        .agg(F.count("*").alias("n_users"))
        .withColumn("cohort", F.lit("view_never_purchase"))
    )
    return cart_and_purchase.unionByName(view_never_purchase).select("cohort", "n_users")


# ---------------------------------------------------------------------------
# user_retention_cohorts — the retention matrix behind every "cohort
# analysis" dashboard: users grouped by the week of their FIRST event,
# counted as active in each subsequent week offset. The per-user first
# day is a window MIN over the user partition — ONE shuffle on
# user_id, reused by the row-level offset derivation; the final
# aggregate keys on (cohort_week, week_offset), a few dozen groups at
# any corpus size. COUNT(DISTINCT user_id) two-phase expands inside
# those small groups. All date math is integral (datediff / 7) and
# week truncation is Monday-based in both engines, so the matrix is
# bit-identical.
# ---------------------------------------------------------------------------


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    per_user = ev.withColumn(
        "first_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return (
        per_user.withColumn(
            "cohort_week",
            F.date_format(F.date_trunc("week", F.col("first_day")), "yyyy-MM-dd"),
        )
        .withColumn(
            "week_offset",
            F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7).cast("long"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


USER_RETENTION_COHORTS_SQL = """
    WITH per_user AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
        FROM events
    )
    SELECT strftime(date_trunc('week', first_day), '%Y-%m-%d') AS cohort_week,
           CAST(FLOOR(datediff('day', first_day, day) / 7) AS BIGINT) AS week_offset,
           COUNT(DISTINCT user_id) AS n_active_users
    FROM per_user GROUP BY 1, 2
"""


QUERIES = {
    "daily_events": daily_events,
    "top_categories": top_categories,
    "hour_event_value": hour_event_value,
    "weekday_conversion_volume": weekday_conversion_volume,
    "conversion_rate": conversion_rate,
    "purchase_funnel": purchase_funnel,
    "event_enrichment": event_enrichment,
    "csv_roundtrip": csv_roundtrip,
    "record_id": record_id,
    "user_event_gaps": user_event_gaps,
    "value_percentiles": value_percentiles,
    "user_cohort_setops": user_cohort_setops,
    "funnel_transitions": funnel_transitions,
    "user_retention_cohorts": user_retention_cohorts,
    "value_zscore_outliers": value_zscore_outliers,
}

_K_SQL = "CAST(json_extract_string(props, '$.k') AS BIGINT)"

ORACLE = {
    "daily_events": """
        SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    """,
    "top_categories": f"""
        SELECT {_K_SQL} AS category, count(*) AS volume
        FROM events WHERE event_type = 'view'
        GROUP BY 1 ORDER BY volume DESC, category ASC LIMIT 10
    """,
    "hour_event_value": """
        WITH g AS (
            SELECT CAST(hour(ts) AS BIGINT) AS hour, event_type,
                   SUM(CAST(value AS DECIMAL(18,4))) AS s,
                   count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT hour, event_type, CAST(s AS DOUBLE) AS sum_value,
               CAST((2 * CAST(s * 10000 AS BIGINT) + n_events)
                    // (2 * n_events) AS DOUBLE) / 10000 AS avg_value,
               n_events
        FROM g
    """,
    "weekday_conversion_volume": """
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday, event_type,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
    """,
    "conversion_rate": f"""
        WITH counts AS (
            SELECT {_K_SQL} % 10 AS bucket, event_type, count(*) AS n_events
            FROM events GROUP BY 1, 2
        )
        SELECT bucket, event_type, n_events,
               ROUND(n_events * 1.0 / SUM(n_events) OVER (PARTITION BY bucket), 6) AS share
        FROM counts
    """,
    "purchase_funnel": f"""
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events
        ), flagged AS (
            SELECT *, CASE WHEN COALESCE(us - lag(us) OVER w, {SESSION_GAP_US + 1})
                                > {SESSION_GAP_US} THEN 1 ELSE 0 END AS is_new
            FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ), sess AS (
            SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                        ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        ), per_session AS (
            SELECT user_id, session_id,
                   MIN(CASE WHEN event_type = 'click' THEN us END) AS t_click,
                   MIN(CASE WHEN event_type = 'view' THEN us END) AS t_view,
                   MIN(CASE WHEN event_type = 'purchase' THEN us END) AS t_purchase
            FROM sess GROUP BY 1, 2
        )
        SELECT count(*) AS n_sessions,
               -- outer CAST: DuckDB widens SUM(BIGINT) to HUGEINT, which the
               -- driver's hasher canonicalizes differently from Spark BIGINT
               CAST(SUM(CAST(t_view IS NOT NULL AS BIGINT)) AS BIGINT) AS n_with_view,
               CAST(SUM(CAST(t_view <= t_purchase AS BIGINT)) AS BIGINT)
                   AS n_view_then_purchase,
               CAST(SUM(CAST(t_click <= t_view AND t_view <= t_purchase AS BIGINT))
                    AS BIGINT) AS n_click_view_purchase
        FROM per_session
    """,
    "event_enrichment": f"""
        SELECT event_id, CAST(ts AS DATE) AS day, CAST(hour(ts) AS BIGINT) AS hour,
               CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday,
               COALESCE({_K_SQL}, -1) AS category,
               ROUND(value, 2) AS price,
               CASE WHEN value >= 100 THEN 'high' ELSE 'low' END AS price_tier
        FROM events
    """,
    "csv_roundtrip": """
        WITH wire AS (
            SELECT concat_ws(',', CAST(event_id AS VARCHAR),
                             strftime(ts, '%Y-%m-%d %H:%M:%S'),
                             CAST(user_id AS VARCHAR), event_type,
                             CAST(value AS VARCHAR)) AS line
            FROM events
        ), parts AS (SELECT string_split(line, ',') AS p FROM wire)
        SELECT CAST(p[1] AS BIGINT) AS event_id,
               strftime(strptime(p[2], '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_second,
               CAST(p[3] AS BIGINT) AS user_id,
               p[4] AS event_type,
               CAST(p[5] AS DOUBLE) AS value
        FROM parts
    """,
    "record_id": """
        SELECT CAST(row_number() OVER (ORDER BY ts, event_id) - 1 AS BIGINT) AS record_id,
               event_id, event_type
        FROM events
    """,
    "user_event_gaps": """
        WITH g AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
            FROM events
        )
        SELECT user_id, count(*) AS n_events, count(gap_us) AS n_gaps,
               ROUND(SUM(gap_us) * 1.0 / count(gap_us) / 1000000, 4) AS avg_gap_seconds,
               ROUND(MAX(gap_us) / 1000000.0, 4) AS max_gap_seconds
        FROM g GROUP BY 1
    """,
    "value_percentiles": """
        SELECT event_type,
               ROUND(quantile_cont(value, 0.5), 4) AS p50,
               ROUND(quantile_cont(value, 0.9), 4) AS p90,
               ROUND(quantile_cont(value, 0.99), 4) AS p99,
               count(*) AS n_events
        FROM events GROUP BY 1
    """,
    "user_cohort_setops": """
        SELECT 'cart_and_purchase' AS cohort, count(*) AS n_users FROM (
            SELECT user_id FROM events WHERE event_type = 'cart'
            INTERSECT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
        UNION ALL
        SELECT 'view_never_purchase', count(*) FROM (
            SELECT user_id FROM events WHERE event_type = 'view'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase'
        )
    """,
    "funnel_transitions": """
        WITH pairs AS (
            SELECT lag(event_type) OVER w AS prev_type, event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        )
        SELECT prev_type, event_type, count(*) AS n_transitions,
               ROUND(SUM(gap_us) * 1.0 / count(*) / 1000000, 4) AS avg_gap_seconds
        FROM pairs
        WHERE prev_type IS NOT NULL AND gap_us <= 1800000000
        GROUP BY 1, 2
    """,
    "user_retention_cohorts": USER_RETENTION_COHORTS_SQL,
    "value_zscore_outliers": VALUE_ZSCORE_OUTLIERS_SQL,
}


# ---------------------------------------------------------------------------
# rfm_segments — RFM (recency / frequency / monetary) customer
# segmentation, the canonical e-commerce marketing rollup the
# reference's warehouse queries stop short of. Per user: days since
# last event (int), event count (int), exact spend in CENTS (decimal
# sum, so an integer) — all three quartile-bucketed against corpus
# boundaries from one 1-row percentile aggregate (broadcast; the fact
# table never reshuffles for bucketing). Integer inputs make the
# interpolated quartile boundaries bit-exact across engines (p*(n-1)
# and the 1/4-step fractions are dyadic), so the bucket assignment —
# an integer comparison against those boundaries — is deterministic
# without any rounding. 4x4x4 segment grid out, with exact totals.
# ---------------------------------------------------------------------------


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    anchor = ev.agg(F.max(F.to_date("ts")).alias("anchor_day"))
    per_user = pin(
        ev.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").alias("f"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("m_dec"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff("anchor_day", "last_day").cast("long").alias("r"),
            "f",
            (F.col("m_dec") * 100).cast("long").alias("m_cents"),
        )
        # round-7 pin: per_user is NARROW (4 int64 cols, one row/user)
        # and feeds BOTH the quartile bounds and the segment pass —
        # unpinned, each consumer replanned the events scan + per-user
        # aggregate + anchor scan (4 events FileScans total)
    )
    bounds = per_user.agg(
        F.expr("percentile(r, array(0.25, 0.5, 0.75))").alias("rb"),
        F.expr("percentile(f, array(0.25, 0.5, 0.75))").alias("fb"),
        F.expr("percentile(m_cents, array(0.25, 0.5, 0.75))").alias("mb"),
    )

    def quartile(col: str, b: str):
        return (
            F.lit(1)
            + (F.col(col) > F.expr(f"{b}[0]")).cast("int")
            + (F.col(col) > F.expr(f"{b}[1]")).cast("int")
            + (F.col(col) > F.expr(f"{b}[2]")).cast("int")
        ).cast("long")

    seg = per_user.crossJoin(F.broadcast(bounds)).select(
        quartile("r", "rb").alias("r_q"),  # 1 = most recent
        quartile("f", "fb").alias("f_q"),  # 4 = most frequent
        quartile("m_cents", "mb").alias("m_q"),  # 4 = highest spend
        "m_cents",
    )
    return seg.groupBy("r_q", "f_q", "m_q").agg(
        F.count("*").alias("n_users"),
        (F.sum("m_cents").cast("double") / F.lit(100.0)).alias("total_monetary"),
    )


RFM_SEGMENTS_SQL = """
    WITH anchor AS (
        SELECT max(CAST(ts AS DATE)) AS anchor_day FROM events
    ), per_user AS (
        SELECT user_id,
               CAST(date_diff('day', max(CAST(ts AS DATE)),
                              (SELECT anchor_day FROM anchor)) AS BIGINT) AS r,
               count(*) AS f,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS m_cents
        FROM events GROUP BY 1
    ), bounds AS (
        SELECT quantile_cont(r, [0.25, 0.5, 0.75]) AS rb,
               quantile_cont(f, [0.25, 0.5, 0.75]) AS fb,
               quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mb
        FROM per_user
    ), seg AS (
        SELECT CAST(1 + (r > rb[1])::INT + (r > rb[2])::INT + (r > rb[3])::INT
                    AS BIGINT) AS r_q,
               CAST(1 + (f > fb[1])::INT + (f > fb[2])::INT + (f > fb[3])::INT
                    AS BIGINT) AS f_q,
               CAST(1 + (m_cents > mb[1])::INT + (m_cents > mb[2])::INT
                      + (m_cents > mb[3])::INT AS BIGINT) AS m_q,
               m_cents
        FROM per_user CROSS JOIN bounds
    )
    SELECT r_q, f_q, m_q, count(*) AS n_users,
           CAST(CAST(SUM(m_cents) AS BIGINT) AS DOUBLE) / 100.0 AS total_monetary
    FROM seg GROUP BY 1, 2, 3
"""

QUERIES["rfm_segments"] = rfm_segments
ORACLE["rfm_segments"] = RFM_SEGMENTS_SQL


# ---------------------------------------------------------------------------
# band_affinity — market-basket pair mining ("viewed together") over
# the props k-bands: for every pair of bands co-occurring in one
# user's history, support + lift against the independent-baskets
# baseline. The classic a-priori first step, shaped for scale: the
# self-join runs on the DISTINCT (user, band) set (orders of magnitude
# smaller than events; per-user pair fan-out is bounded by the band
# vocabulary, not event count), and the per-band basket counts
# broadcast onto the pair aggregate. Lift's float division happens
# once per OUTPUT pair from exact integers — deterministic everywhere.
# Pairs are kept ordered (band_a < band_b) so each appears once.
#
# Round-7 pin (VERDICT r6 #3): the distinct (user, band) table is
# NARROW (two int64 columns, vocabulary-bounded) and was replanned 4x
# (pair join both sides + both basket-count broadcasts) — 5 events
# FileScans with the from_json + distinct shuffle repeated each time.
# Pinned, it is evaluated once; only the corpus-wide n_users count
# still reads events. 4 passes saved for 1 barrier — the winning side
# of the round-6 pin rule.
# ---------------------------------------------------------------------------


def band_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.from_json(F.col("props"), "k INT").getField("k")
    user_bands = pin(
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .select("user_id", F.expr("CAST(floor(k / 25.0) AS BIGINT)").alias("band"))
        .distinct()
    )
    n_users = ev.agg(F.count_distinct("user_id").alias("n_users"))
    band_counts = user_bands.groupBy("band").agg(F.count("*").alias("n_band"))
    a = user_bands.select("user_id", F.col("band").alias("band_a"))
    b = user_bands.select("user_id", F.col("band").alias("band_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("band_a") < F.col("band_b"))
        .groupBy("band_a", "band_b")
        .agg(F.count("*").alias("n_both"))
    )
    ca = band_counts.select(F.col("band").alias("band_a"), F.col("n_band").alias("n_a"))
    cb = band_counts.select(F.col("band").alias("band_b"), F.col("n_band").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "band_a")
        .join(F.broadcast(cb), "band_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "band_a",
            "band_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both").cast("double") * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


BAND_AFFINITY_SQL = """
    WITH ub AS (
        SELECT DISTINCT user_id,
               CAST(floor(CAST(json_extract(props, '$.k') AS INTEGER) / 25.0)
                    AS BIGINT) AS band
        FROM events WHERE json_extract(props, '$.k') IS NOT NULL
    ), n AS (
        SELECT COUNT(DISTINCT user_id) AS n_users FROM events
    ), bc AS (
        SELECT band, count(*) AS n_band FROM ub GROUP BY 1
    ), pairs AS (
        SELECT a.band AS band_a, b.band AS band_b, count(*) AS n_both
        FROM ub a JOIN ub b ON a.user_id = b.user_id AND a.band < b.band
        GROUP BY 1, 2
    )
    SELECT band_a, band_b, n_both, ca.n_band AS n_a, cb.n_band AS n_b,
           CAST(n_both AS DOUBLE) * n_users
               / CAST(ca.n_band * cb.n_band AS DOUBLE) AS lift
    FROM pairs
    JOIN bc ca ON ca.band = band_a
    JOIN bc cb ON cb.band = band_b
    CROSS JOIN n
"""

QUERIES["band_affinity"] = band_affinity
ORACLE["band_affinity"] = BAND_AFFINITY_SQL
