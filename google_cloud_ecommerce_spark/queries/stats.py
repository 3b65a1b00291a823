"""Statistical operators with cross-engine bit-exact results.

Engine-native ``corr``/``covar`` (and window RANGE sums over doubles)
accumulate in different orders in different engines, so their doubles
drift in the last ulps. The policy here (same as value_zscore_outliers):
every SUM runs over exact decimals — value is 2-decimal quantized, so
value, value², and value×hour all cast losslessly — and the closed-form
formula is evaluated in IEEE doubles with the SAME expression shape in
both engines. One partial+final hash aggregate; no shuffle beyond the
tiny per-group partials.

  value_hour_correlation         Pearson r between event value and
                                 hour-of-day per event_type, from the
                                 five decimal-exact moments.
  priority_trailing_week_revenue trailing-7-day revenue per order
                                 priority via a RANGE window frame over
                                 an integer day number (a RANGE frame
                                 skips gap days — unlike a ROWS frame —
                                 which matters for sparse calendars).
                                 Decimal window sums, double at output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from google_cloud_ecommerce_spark.catalog import load_table
from google_cloud_ecommerce_spark.operators.ranking import range_partition_ntile
from google_cloud_ecommerce_spark.pins import pin


def value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("decimal(18,4)").alias("x"),
        F.hour("ts").cast("long").alias("h"),
    )
    m = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("h")).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("h") * F.col("h")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("h")).cast("double").alias("sxy"),
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "event_type",
        "n",
        (cov / (F.sqrt(vx) * F.sqrt(vy))).alias("corr_value_hour"),
    )


VALUE_HOUR_CORRELATION_SQL = """
    WITH m AS (
        SELECT event_type, count(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(h) AS DOUBLE) AS sy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(h * h) AS DOUBLE) AS syy,
               CAST(SUM(x * h) AS DOUBLE) AS sxy
        FROM (SELECT event_type, CAST(value AS DECIMAL(18,4)) AS x,
                     CAST(hour(ts) AS BIGINT) AS h FROM events)
        GROUP BY 1
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_value_hour
    FROM m
"""


def priority_trailing_week_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            "o_orderpriority",
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"))
        .withColumn("day_num", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_num")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("rev_dec").cast("double").alias("day_revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("trailing_7d_revenue"),
    )


PRIORITY_TRAILING_WEEK_REVENUE_SQL = """
    WITH daily AS (
        SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
        FROM orders GROUP BY 1, 2
    ), numbered AS (
        SELECT *, datediff('day', DATE '1970-01-01', day) AS day_num FROM daily
    )
    SELECT o_orderpriority, strftime(day, '%Y-%m-%d') AS day,
           CAST(rev_dec AS DOUBLE) AS day_revenue,
           CAST(SUM(rev_dec) OVER (
               PARTITION BY o_orderpriority ORDER BY day_num
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_7d_revenue
    FROM numbered
"""


QUERIES = {
    "value_hour_correlation": value_hour_correlation,
    "priority_trailing_week_revenue": priority_trailing_week_revenue,
}

ORACLE = {
    "value_hour_correlation": VALUE_HOUR_CORRELATION_SQL,
    "priority_trailing_week_revenue": PRIORITY_TRAILING_WEEK_REVENUE_SQL,
}


# ---------------------------------------------------------------------------
# daily_value_gapfill — time-series densify + LOCF (the resample step
# of any metric pipeline): per event type, the daily value series is
# completed over the full calendar span (generated per key with
# sequence(), no calendar table needed) and missing days carry the
# last observed value forward. The LOCF window partitions on the
# series key — parallel per key, never global. The daily aggregate is
# decimal-exact, so carried-forward doubles are bit-identical across
# engines. Gap days count themselves via is_filled.
# ---------------------------------------------------------------------------


def daily_value_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("v_dec"))
    span = daily.groupBy("event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    calendar = span.select(
        "event_type",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    joined = calendar.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        "day",
        F.last(F.col("v_dec").cast("double"), ignorenulls=True)
        .over(w)
        .alias("value_filled"),
        F.col("v_dec").isNull().cast("long").alias("is_filled"),
    )


DAILY_VALUE_GAPFILL_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS v_dec
        FROM events GROUP BY 1, 2
    ), span AS (
        SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
    ), calendar AS (
        SELECT event_type,
               unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM span
    ), joined AS (
        SELECT c.event_type, c.day, d.v_dec
        FROM calendar c LEFT JOIN daily d
          ON c.event_type = d.event_type AND c.day = d.day
    )
    SELECT event_type, day,
           last_value(CAST(v_dec AS DOUBLE) IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled,
           CAST(v_dec IS NULL AS BIGINT) AS is_filled
    FROM joined
"""

QUERIES["daily_value_gapfill"] = daily_value_gapfill
ORACLE["daily_value_gapfill"] = DAILY_VALUE_GAPFILL_SQL


# ---------------------------------------------------------------------------
# rolling_median_daily_value — exact rolling median (7-day ROWS window)
# of the daily revenue series per event_type. Exact percentile as a
# WINDOW aggregate is the vocabulary item the trailing-sum window can't
# cover (a median can't partially aggregate); inputs are the
# decimal-exact daily sums, and the interpolated midpoint rounds to 4dp
# (interpolation formulas differ in the last ulp across engines — the
# ROUND is load-bearing, same policy as value_percentiles).
# Scale: one shuffle onto event_type (5 partitions of ~day-count rows
# each); the window sorts day numbers within each tiny partition.
# ---------------------------------------------------------------------------


def rolling_median_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("rev"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("rev", 4).alias("day_revenue"),
        F.round(F.expr("percentile(rev, 0.5)").over(w), 4).alias("rolling_median_7d"),
    )


ROLLING_MEDIAN_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           ROUND(rev, 4) AS day_revenue,
           ROUND(median(rev) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
               AS rolling_median_7d
    FROM daily
"""


# ---------------------------------------------------------------------------
# time_weighted_value — per-user time-weighted average event value: each
# event's value is held until the next event, weighted by the integral
# microsecond gap (the irregular-time-series mean; an unweighted AVG
# over-counts burst periods). value is 2-decimal quantized, so
# value × gap_us accumulates exactly in DECIMAL(38,4); one double
# division at the end. The last event has no successor and carries zero
# weight — documented, identical in the oracle.
# Scale: one window pass + one aggregate, both partitioned on user_id —
# a single shuffle, same key the sessionizer uses.
# ---------------------------------------------------------------------------


def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.col("value").cast("decimal(18,4)").alias("v"),
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    gapped = ev.withColumn(
        "gap_us", F.lead("t_us").over(w) - F.col("t_us")
    ).filter(F.col("gap_us").isNotNull())
    return gapped.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        F.sum("gap_us").alias("span_us"),
        # the wide-decimal numerator's DECIMAL->DOUBLE conversion is
        # engine-dependent in the last ulp (DuckDB converts int128 then
        # scales; Spark scales in decimal) -> ROUND is load-bearing
        F.round(
            F.sum(F.col("v") * F.col("gap_us")).cast("double")
            / F.sum("gap_us").cast("double"),
            6,
        ).alias("tw_avg_value"),
    )


TIME_WEIGHTED_VALUE_SQL = """
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) AS t_us,
               CAST(value AS DECIMAL(18,4)) AS v,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts), event_id)
                   - epoch_us(ts) AS gap_us
        FROM events
    )
    SELECT user_id,
           count(*) AS n_intervals,
           CAST(SUM(gap_us) AS BIGINT) AS span_us,
           ROUND(CAST(SUM(v * gap_us) AS DOUBLE) / CAST(SUM(gap_us) AS DOUBLE), 6)
               AS tw_avg_value
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# weekday_eventtype_chisq — Pearson chi-square independence test between
# weekday and event_type, from the exact contingency table. Observed
# counts and marginals are integers; each cell's (o - e)^2 / e is the
# same IEEE expression in both engines, and the cell terms fold in a
# FIXED (weekday, event_type) order via a sorted collected array — never
# a partition-order SUM over doubles. Output: one row (chi2, dof, n).
# Scale: the contingency table is |weekdays| x |event types| rows no
# matter the input size — everything after the first hash aggregate is
# constant-sized.
# ---------------------------------------------------------------------------


def weekday_eventtype_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").cast("long").alias("wd"), "event_type"
    ).agg(F.count("*").alias("o"))
    wr = Window.partitionBy("wd")
    wc = Window.partitionBy("event_type")
    wall = Window.partitionBy()
    terms = cells.select(
        "wd",
        "event_type",
        "o",
        F.sum("o").over(wr).alias("row_tot"),
        F.sum("o").over(wc).alias("col_tot"),
        F.sum("o").over(wall).alias("n"),
    ).select(
        "wd",
        "event_type",
        "n",
        F.expr(
            "pow(o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)"
            " / (CAST(row_tot AS DOUBLE) * col_tot / n)"
        ).alias("term"),
    )
    return terms.groupBy("n").agg(
        F.round(
            F.expr(
                "aggregate(transform(array_sort(collect_list(struct(wd, event_type, term))),"
                " s -> s.term), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            ),
            6,
        ).alias("chi2"),
        (
            (F.count_distinct("wd") - F.lit(1))
            * (F.count_distinct("event_type") - F.lit(1))
        ).alias("dof"),
    ).select(F.col("n").alias("n_events"), "chi2", "dof")


WEEKDAY_CHISQ_SQL = """
    WITH cells AS (
        SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS wd, event_type,
               count(*) AS o
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT wd, event_type, o,
               SUM(o) OVER (PARTITION BY wd) AS row_tot,
               SUM(o) OVER (PARTITION BY event_type) AS col_tot,
               SUM(o) OVER () AS n
        FROM cells
    ), t AS (
        SELECT wd, event_type, CAST(n AS BIGINT) AS n,
               pow(o - CAST(row_tot AS DOUBLE) * col_tot / n, 2)
                   / (CAST(row_tot AS DOUBLE) * col_tot / n) AS term
        FROM m
    )
    SELECT n AS n_events,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list(term ORDER BY wd, event_type)), (acc, x) -> acc + x), 6)
               AS chi2,
           CAST((COUNT(DISTINCT wd) - 1) * (COUNT(DISTINCT event_type) - 1)
                AS BIGINT) AS dof
    FROM t GROUP BY 1
"""


QUERIES["rolling_median_daily_value"] = rolling_median_daily_value
ORACLE["rolling_median_daily_value"] = ROLLING_MEDIAN_SQL
QUERIES["time_weighted_value"] = time_weighted_value
ORACLE["time_weighted_value"] = TIME_WEIGHTED_VALUE_SQL
QUERIES["weekday_eventtype_chisq"] = weekday_eventtype_chisq
ORACLE["weekday_eventtype_chisq"] = WEEKDAY_CHISQ_SQL


# ---------------------------------------------------------------------------
# ewma_daily_value — exponential smoothing of the daily revenue series
# per event_type (alpha = 1/2): s_1 = x_1, s_t = (x_t + s_{t-1}) / 2.
# The level after the last day IS the one-step-ahead forecast — the
# simplest real time-series model a lakehouse serves. A sequential
# recurrence can't be a window aggregate, so the fold runs over the
# per-group day-ordered array; halving and addition are exact IEEE ops
# applied in the same order in both engines, so even this inherently
# sequential float state is bit-identical. Per-group series stay small
# (days, not events) after the daily pre-aggregate — the heavy
# reduction happened in the scalable hash aggregate before collect.
# ---------------------------------------------------------------------------


def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("rev")
    )
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, rev))), s -> s.rev)"
        ).alias("xs")
    )
    return series.select(
        "event_type",
        F.expr("CAST(size(xs) AS BIGINT)").alias("n_days"),
        F.round(
            F.expr(
                "aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), "
                "(acc, x) -> (acc + x) / 2)"
            ),
            4,
        ).alias("ewma_level"),
        F.round(F.expr("element_at(xs, size(xs))"), 4).alias("last_day_revenue"),
    )


EWMA_DAILY_VALUE_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM events GROUP BY 1, 2
    ), series AS (
        SELECT event_type, list(rev ORDER BY day) AS xs
        FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(len(xs) AS BIGINT) AS n_days,
           ROUND(list_reduce(xs, (acc, x) -> (acc + x) / 2), 4) AS ewma_level,
           ROUND(xs[len(xs)], 4) AS last_day_revenue
    FROM series
"""


QUERIES["ewma_daily_value"] = ewma_daily_value
ORACLE["ewma_daily_value"] = EWMA_DAILY_VALUE_SQL


# ---------------------------------------------------------------------------
# cusum_changepoints — CUSUM changepoint detection on the daily revenue
# series per event_type. The textbook form is the nonlinear recurrence
# C+_t = max(0, C+_{t-1} + (x_t - mu)), which no window function can
# express — but the classic identity
#     C+_t = S_t - min_{j<=t} S_j,   S_t = running sum of (x_t - mu)
# turns it into two PARTITIONED window aggregates (running sum, running
# min). Exactness: deviations are kept as n*x_t - total (decimal-exact
# scaled integers — no division by n inside the fold), so both running
# aggregates are order-independent decimals; the single division and
# the sigma threshold (from decimal moments, as value_zscore_outliers)
# happen once at the end in identical IEEE doubles.
# Scale: everything after the daily pre-aggregate is per-event_type
# windows over day-count rows.
# ---------------------------------------------------------------------------

CUSUM_SIGMA_MULT = 3.0


def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("rev")
    )
    wstat = Window.partitionBy("event_type")
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stats = daily.select(
        "event_type",
        "day",
        "rev",
        F.count("*").over(wstat).alias("n"),
        F.sum("rev").over(wstat).alias("s1"),
        F.sum(F.expr("CAST(rev * rev AS DECIMAL(38,8))")).over(wstat).alias("s2"),
    )
    # scaled deviation: n*x - total (exact decimal); running sum + min
    dev = stats.withColumn(
        "d", F.expr("CAST(n * rev - s1 AS DECIMAL(38,4))")
    ).withColumn("s", F.sum("d").over(wrun)).withColumn(
        "smin", F.min("s").over(wrun)
    )
    scored = dev.select(
        "event_type",
        "day",
        "n",
        # back to per-day units: divide the exact scaled CUSUM by n once
        (F.col("s").cast("double") - F.col("smin").cast("double")).alias("c_scaled"),
        (
            F.sqrt(
                F.col("s2").cast("double") / F.col("n")
                - (F.col("s1").cast("double") / F.col("n"))
                * (F.col("s1").cast("double") / F.col("n"))
            )
        ).alias("sigma"),
    ).withColumn("cusum", F.col("c_scaled") / F.col("n"))
    alarmed = scored.withColumn(
        "is_alarm",
        (F.col("cusum") > F.lit(CUSUM_SIGMA_MULT) * F.col("sigma")).cast("long"),
    )
    return alarmed.groupBy("event_type").agg(
        F.max("n").alias("n_days"),
        F.round(F.max("cusum"), 4).alias("max_cusum"),
        F.sum("is_alarm").alias("n_alarm_days"),
        F.min(
            F.when(F.col("is_alarm") == 1, F.date_format("day", "yyyy-MM-dd"))
        ).alias("first_alarm_day"),
    )


CUSUM_CHANGEPOINTS_SQL = f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS rev
        FROM events GROUP BY 1, 2
    ), stats AS (
        SELECT event_type, day, rev,
               count(*) OVER w AS n,
               SUM(rev) OVER w AS s1,
               SUM(CAST(rev * rev AS DECIMAL(38,8))) OVER w AS s2
        FROM daily WINDOW w AS (PARTITION BY event_type)
    ), run AS (
        SELECT event_type, day, n, s1, s2,
               SUM(CAST(n * rev - s1 AS DECIMAL(38,4))) OVER wr AS s
        FROM stats
        WINDOW wr AS (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING)
    ), dev AS (
        SELECT event_type, day, n, s1, s2, s,
               MIN(s) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS smin
        FROM run
    ), scored AS (
        SELECT event_type, day, n,
               (CAST(s AS DOUBLE) - CAST(smin AS DOUBLE)) / n AS cusum,
               sqrt(CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                   AS sigma
        FROM dev
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_days,
           ROUND(max(cusum), 4) AS max_cusum,
           CAST(SUM(CASE WHEN cusum > {CUSUM_SIGMA_MULT} * sigma
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_alarm_days,
           min(CASE WHEN cusum > {CUSUM_SIGMA_MULT} * sigma
                    THEN strftime(day, '%Y-%m-%d') END) AS first_alarm_day
    FROM scored GROUP BY 1
"""


QUERIES["cusum_changepoints"] = cusum_changepoints
ORACLE["cusum_changepoints"] = CUSUM_CHANGEPOINTS_SQL


# ---------------------------------------------------------------------------
# ab_test_report — two-proportion z-test over a deterministic hash
# split: users land in arm A/B by user_id parity (in production the
# bucketing hash), conversion = at least one purchase. Counts are exact
# integers; p1, p2, the pooled rate, and the z statistic are the same
# closed-form IEEE expression in both engines, so even the test
# statistic is oracle-checked. One distinct-aggregate over (user, arm,
# converted) then a 2-row reduction — nothing scales with events after
# the first aggregate.
# ---------------------------------------------------------------------------

AB_Z_CRITICAL = 1.959963984540054  # two-sided 95%


def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # "converted" = the user's FIRST event is a product view (struct-min
    # argmin, one aggregate). Every user in this corpus purchases
    # eventually, so an any-purchase definition is degenerate (p = 1 in
    # both arms -> zero-variance z); first-touch is non-degenerate at
    # every scale factor.
    per_user = ev.groupBy("user_id").agg(
        (
            F.min(F.struct("ts", "event_id", "event_type"))["event_type"]
            == "view"
        )
        .cast("long")
        .alias("converted")
    )
    arms = per_user.select(
        F.pmod("user_id", F.lit(2)).alias("arm"), "converted"
    ).groupBy("arm").agg(
        F.count("*").alias("n_users"), F.sum("converted").alias("n_converted")
    )
    wide = arms.groupBy().pivot("arm", [0, 1]).sum("n_users", "n_converted")
    n1 = F.col("0_sum(n_users)")
    c1 = F.col("0_sum(n_converted)")
    n2 = F.col("1_sum(n_users)")
    c2 = F.col("1_sum(n_converted)")
    p1 = c1 / n1
    p2 = c2 / n2
    pp = (c1 + c2) / (n1 + n2)
    denom = F.sqrt(pp * (1 - pp) * (1.0 / n1 + 1.0 / n2))
    z = (p1 - p2) / F.nullif(denom, F.lit(0.0))
    return wide.select(
        n1.alias("n_a"),
        c1.alias("conv_a"),
        n2.alias("n_b"),
        c2.alias("conv_b"),
        p1.alias("rate_a"),
        p2.alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > AB_Z_CRITICAL).cast("long").alias("significant_95"),
    )


AB_TEST_REPORT_SQL = f"""
    WITH ranked AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), per_user AS (
        SELECT user_id,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS converted
        FROM ranked WHERE rn = 1
    ), arms AS (
        SELECT user_id % 2 AS arm, count(*) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted
        FROM per_user GROUP BY 1
    ), wide AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n_users END) AS n_a,
            MAX(CASE WHEN arm = 0 THEN n_converted END) AS conv_a,
            MAX(CASE WHEN arm = 1 THEN n_users END) AS n_b,
            MAX(CASE WHEN arm = 1 THEN n_converted END) AS conv_b
        FROM arms
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(conv_a AS DOUBLE) / n_a AS rate_a,
           CAST(conv_b AS DOUBLE) / n_b AS rate_b,
           ROUND((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / NULLIF(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 0.0), 6) AS z_stat,
           CAST(abs((CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b)
                 / NULLIF(sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 0.0)) > {AB_Z_CRITICAL!r}
                AS BIGINT) AS significant_95
    FROM wide
"""


QUERIES["ab_test_report"] = ab_test_report
ORACLE["ab_test_report"] = AB_TEST_REPORT_SQL


# ---------------------------------------------------------------------------
# holt_daily_forecast — Holt linear-trend smoothing (level + trend,
# alpha = beta = 1/2) over the daily series, the step up from
# ewma_daily_value when the series drifts. Two-component sequential
# state folds over the day-ordered array: Spark carries [level, trend]
# as an array<double> accumulator; DuckDB's list_reduce requires the
# accumulator to share the ELEMENT type, so the oracle folds over
# [x, 0] pairs with the first pair as the seed — same arithmetic, same
# order, bit-identical state. forecast_next = level + trend.
# ---------------------------------------------------------------------------


def holt_daily_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("rev")
    )
    series = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, rev))), s -> s.rev)"
        ).alias("xs")
    )
    # s' = (x + s + b) / 2 ; b' = (s' - s) / 2 + b / 2
    fold = (
        "aggregate(slice(xs, 2, size(xs) - 1), "
        "array(element_at(xs, 1), CAST(0.0 AS DOUBLE)), "
        "(acc, x) -> array((x + acc[0] + acc[1]) / 2, "
        "((x + acc[0] + acc[1]) / 2 - acc[0]) / 2 + acc[1] / 2))"
    )
    return series.select(
        "event_type",
        F.expr("CAST(size(xs) AS BIGINT)").alias("n_days"),
        F.round(F.expr(f"{fold}[0]"), 4).alias("level"),
        F.round(F.expr(f"{fold}[1]"), 4).alias("trend"),
        F.round(F.expr(f"{fold}[0] + {fold}[1]"), 4).alias("forecast_next"),
    )


HOLT_DAILY_FORECAST_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS rev
        FROM events GROUP BY 1, 2
    ), series AS (
        SELECT event_type,
               list_transform(list(rev ORDER BY day), x -> [x, 0.0]) AS pairs
        FROM daily GROUP BY 1
    ), folded AS (
        SELECT event_type,
               len(pairs) AS n_days,
               list_reduce(pairs,
                   (acc, x) -> [(x[1] + acc[1] + acc[2]) / 2,
                                ((x[1] + acc[1] + acc[2]) / 2 - acc[1]) / 2
                                    + acc[2] / 2]) AS st
        FROM series
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND(st[1], 4) AS level,
           ROUND(st[2], 4) AS trend,
           ROUND(st[1] + st[2], 4) AS forecast_next
    FROM folded
"""


QUERIES["holt_daily_forecast"] = holt_daily_forecast
ORACLE["holt_daily_forecast"] = HOLT_DAILY_FORECAST_SQL


# ---------------------------------------------------------------------------
# series_similarity — pairwise similarity between the event types'
# daily revenue series (day-aligned inner join, et_a < et_b): Pearson r
# and RMSE per pair — the all-pairs similarity matrix a time-series
# search system builds over aligned streams (EDBT 2019's streaming
# series-similarity setting, batch form). Determinism follows the
# value_hour_correlation recipe: the five cross-moments and the
# squared-difference sum accumulate as exact decimals, the closed forms
# evaluate in identical IEEE doubles. The pair space is
# |event_types|^2 — constant-sized after the daily pre-aggregate.
# ---------------------------------------------------------------------------


def series_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("rev")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, "day").filter(F.col("a.event_type") < F.col("b.event_type"))
    m = pairs.groupBy(
        F.col("a.event_type").alias("series_a"),
        F.col("b.event_type").alias("series_b"),
    ).agg(
        F.count("*").alias("n_days"),
        F.sum(F.col("a.rev")).cast("double").alias("sx"),
        F.sum(F.col("b.rev")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(a.rev * a.rev AS DECIMAL(38,8))")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(b.rev * b.rev AS DECIMAL(38,8))")).cast("double").alias("syy"),
        F.sum(F.expr("CAST(a.rev * b.rev AS DECIMAL(38,8))")).cast("double").alias("sxy"),
        F.sum(
            F.expr("CAST((a.rev - b.rev) * (a.rev - b.rev) AS DECIMAL(38,8))")
        ).cast("double").alias("sdd"),
    )
    n = F.col("n_days").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "series_a",
        "series_b",
        "n_days",
        F.round(cov / F.sqrt(vx * vy), 6).alias("pearson_r"),
        F.round(F.sqrt(F.col("sdd") / n), 4).alias("rmse"),
    )


SERIES_SIMILARITY_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS rev
        FROM events GROUP BY 1, 2
    ), m AS (
        SELECT a.event_type AS series_a, b.event_type AS series_b,
               count(*) AS n_days,
               CAST(SUM(a.rev) AS DOUBLE) AS sx,
               CAST(SUM(b.rev) AS DOUBLE) AS sy,
               CAST(SUM(CAST(a.rev * a.rev AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(b.rev * b.rev AS DECIMAL(38,8))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(a.rev * b.rev AS DECIMAL(38,8))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST((a.rev - b.rev) * (a.rev - b.rev)
                             AS DECIMAL(38,8))) AS DOUBLE) AS sdd
        FROM daily a JOIN daily b USING (day)
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT series_a, series_b, n_days,
           ROUND((n_days * sxy - sx * sy)
                 / sqrt((n_days * sxx - sx * sx) * (n_days * syy - sy * sy)), 6)
               AS pearson_r,
           ROUND(sqrt(sdd / n_days), 4) AS rmse
    FROM m
"""


QUERIES["series_similarity"] = series_similarity
ORACLE["series_similarity"] = SERIES_SIMILARITY_SQL


# ---------------------------------------------------------------------------
# ab_test_cuped — CUPED variance reduction (Deng et al., WSDM 2013):
# adjust each user's experiment-period outcome y by their PRE-period
# covariate x (theta = cov(x,y)/var(x), pooled), shrinking outcome
# variance by the squared correlation — the standard way experiment
# platforms reach significance with fewer users. Pre-period = days
# 1-15 spend, outcome = day >= 16 spend, arms by user parity. Every
# moment (global and per-arm) accumulates as exact decimals in ONE
# aggregate pass; theta, the adjusted arm means
#     adj_arm = ybar_arm - theta * (xbar_arm - xbar)
# and the variance-reduction ratio 1 - var(adj)/var(y) are closed-form
# IEEE expressions over those moments — identical in both engines.
# ---------------------------------------------------------------------------


def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.dayofmonth("ts") <= 15, F.col("value").cast("decimal(18,4)"))
        ).alias("xd"),
        F.sum(
            F.when(F.dayofmonth("ts") >= 16, F.col("value").cast("decimal(18,4)"))
        ).alias("yd"),
    )
    pu = per_user.select(
        F.pmod("user_id", F.lit(2)).alias("arm"),
        F.coalesce(F.col("xd"), F.lit(0).cast("decimal(18,4)")).alias("x"),
        F.coalesce(F.col("yd"), F.lit(0).cast("decimal(18,4)")).alias("y"),
    )
    g = pu.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.expr("CAST(x * x AS DECIMAL(38,8))")).cast("double").alias("sxx"),
        F.sum(F.expr("CAST(y * y AS DECIMAL(38,8))")).cast("double").alias("syy"),
        F.sum(F.expr("CAST(x * y AS DECIMAL(38,8))")).cast("double").alias("sxy"),
    )
    a = (
        pu.groupBy("arm")
        .agg(
            F.count("*").alias("n_arm"),
            F.sum("x").cast("double").alias("sx_arm"),
            F.sum("y").cast("double").alias("sy_arm"),
        )
    )
    wide = a.groupBy().pivot("arm", [0, 1]).sum("n_arm", "sx_arm", "sy_arm")
    j = wide.crossJoin(F.broadcast(g))
    n = F.col("n").cast("double")
    xbar = F.col("sx") / n
    ybar = F.col("sy") / n
    var_x = F.col("sxx") / n - xbar * xbar
    var_y = F.col("syy") / n - ybar * ybar
    cov = F.col("sxy") / n - xbar * ybar
    theta = cov / F.nullif(var_x, F.lit(0.0))
    var_adj = var_y - F.lit(2.0) * theta * cov + theta * theta * var_x
    def arm(i, c):
        return F.col(f"{i}_sum({c})")
    adj0 = arm(0, "sy_arm") / arm(0, "n_arm") - theta * (
        arm(0, "sx_arm") / arm(0, "n_arm") - xbar
    )
    adj1 = arm(1, "sy_arm") / arm(1, "n_arm") - theta * (
        arm(1, "sx_arm") / arm(1, "n_arm") - xbar
    )
    return j.select(
        F.col("n").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(F.lit(1.0) - var_adj / F.nullif(var_y, F.lit(0.0)), 6).alias(
            "var_reduction"
        ),
        F.round(adj0, 4).alias("adj_mean_a"),
        F.round(adj1, 4).alias("adj_mean_b"),
        F.round(adj0 - adj1, 4).alias("adj_diff"),
    )


AB_TEST_CUPED_SQL = """
    WITH per_user AS (
        SELECT user_id,
               COALESCE(SUM(CASE WHEN dayofmonth(ts) <= 15
                            THEN CAST(value AS DECIMAL(18,4)) END),
                        0) AS x,
               COALESCE(SUM(CASE WHEN dayofmonth(ts) >= 16
                            THEN CAST(value AS DECIMAL(18,4)) END),
                        0) AS y
        FROM events GROUP BY 1
    ), pu AS (
        SELECT user_id % 2 AS arm, x, y FROM per_user
    ), g AS (
        SELECT count(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x * x AS DECIMAL(38,8))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y * y AS DECIMAL(38,8))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x * y AS DECIMAL(38,8))) AS DOUBLE) AS sxy
        FROM pu
    ), arms AS (
        SELECT
            MAX(CASE WHEN arm = 0 THEN n_arm END) AS n0,
            MAX(CASE WHEN arm = 0 THEN sxa END) AS sx0,
            MAX(CASE WHEN arm = 0 THEN sya END) AS sy0,
            MAX(CASE WHEN arm = 1 THEN n_arm END) AS n1,
            MAX(CASE WHEN arm = 1 THEN sxa END) AS sx1,
            MAX(CASE WHEN arm = 1 THEN sya END) AS sy1
        FROM (
            SELECT arm, count(*) AS n_arm,
                   CAST(SUM(x) AS DOUBLE) AS sxa,
                   CAST(SUM(y) AS DOUBLE) AS sya
            FROM pu GROUP BY 1
        )
    ), m AS (
        SELECT g.*, arms.*,
               g.sx / g.n AS xbar, g.sy / g.n AS ybar,
               g.sxx / g.n - (g.sx / g.n) * (g.sx / g.n) AS var_x,
               g.syy / g.n - (g.sy / g.n) * (g.sy / g.n) AS var_y,
               g.sxy / g.n - (g.sx / g.n) * (g.sy / g.n) AS cov
        FROM g CROSS JOIN arms
    )
    SELECT n AS n_users,
           ROUND(cov / NULLIF(var_x, 0.0), 6) AS theta,
           ROUND(1.0 - (var_y - 2.0 * (cov / NULLIF(var_x, 0.0)) * cov
                        + (cov / NULLIF(var_x, 0.0)) * (cov / NULLIF(var_x, 0.0))
                          * var_x) / NULLIF(var_y, 0.0), 6) AS var_reduction,
           ROUND(sy0 / n0 - (cov / NULLIF(var_x, 0.0)) * (sx0 / n0 - xbar), 4)
               AS adj_mean_a,
           ROUND(sy1 / n1 - (cov / NULLIF(var_x, 0.0)) * (sx1 / n1 - xbar), 4)
               AS adj_mean_b,
           ROUND((sy0 / n0 - (cov / NULLIF(var_x, 0.0)) * (sx0 / n0 - xbar))
                 - (sy1 / n1 - (cov / NULLIF(var_x, 0.0)) * (sx1 / n1 - xbar)), 4)
               AS adj_diff
    FROM m
"""


QUERIES["ab_test_cuped"] = ab_test_cuped
ORACLE["ab_test_cuped"] = AB_TEST_CUPED_SQL


# ---------------------------------------------------------------------------
# decile_lift_chart — the marketing gains table: users ranked into
# spend deciles (top spenders = decile 1), each decile's share and
# CUMULATIVE share of total purchase revenue. A concentrated curve
# (top decile holding most of the revenue) is what justifies targeting
# — the classic lift/gains analysis. Deciles come from the
# range-partition + collected-prefix-offset ntile (operators/
# ranking.py) over the PER-USER AGGREGATE — round 4 retired the global
# `ntile(10) OVER (ORDER BY ...)` window this carried (VERDICT r3 #3):
# even over the reduced user dimension, an unpartitioned window is one
# task sorting every user. The cumulative share over the 10-row decile
# table uses the triangular broadcast join (house rule: no
# unpartitioned running window on data-sized tables).
# ---------------------------------------------------------------------------


def decile_lift_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("spend")
    )
    deciles = range_partition_ntile(
        per_user, [F.desc("spend"), F.asc("user_id")], 10, out_col="decile"
    )
    agg = deciles.groupBy("decile").agg(
        F.count("*").alias("n_users"),
        F.sum("spend").alias("spend_dec"),
    )
    total = agg.agg(F.sum("spend_dec").alias("grand_dec"))
    earlier = agg.select(
        F.col("decile").alias("e_decile"), F.col("spend_dec").alias("e_spend")
    )
    cum = (
        agg.join(F.broadcast(earlier), F.col("e_decile") <= F.col("decile"))
        .groupBy("decile", "n_users", "spend_dec")
        .agg(F.sum("e_spend").alias("cum_dec"))
    )
    return cum.crossJoin(F.broadcast(total)).select(
        "decile",
        "n_users",
        F.col("spend_dec").cast("double").alias("decile_spend"),
        (F.col("spend_dec").cast("double") / F.col("grand_dec").cast("double")).alias(
            "share"
        ),
        (F.col("cum_dec").cast("double") / F.col("grand_dec").cast("double")).alias(
            "cum_share"
        ),
    )


DECILE_LIFT_CHART_SQL = """
    WITH per_user AS (
        SELECT user_id, SUM(CAST(value AS DECIMAL(18,4))) AS spend
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), deciles AS (
        SELECT spend,
               ntile(10) OVER (ORDER BY spend DESC, user_id ASC) AS decile
        FROM per_user
    ), agg AS (
        SELECT decile, count(*) AS n_users, SUM(spend) AS spend_dec
        FROM deciles GROUP BY 1
    ), t AS (SELECT SUM(spend_dec) AS grand_dec FROM agg),
    cum AS (
        SELECT a.decile, a.n_users, a.spend_dec, SUM(e.spend_dec) AS cum_dec
        FROM agg a JOIN agg e ON e.decile <= a.decile
        GROUP BY 1, 2, 3
    )
    SELECT decile, n_users,
           CAST(spend_dec AS DOUBLE) AS decile_spend,
           CAST(spend_dec AS DOUBLE) / CAST(grand_dec AS DOUBLE) AS share,
           CAST(cum_dec AS DOUBLE) / CAST(grand_dec AS DOUBLE) AS cum_share
    FROM cum CROSS JOIN t
"""


QUERIES["decile_lift_chart"] = decile_lift_chart
ORACLE["decile_lift_chart"] = DECILE_LIFT_CHART_SQL


# ---------------------------------------------------------------------------
# value_quantile_sketch — DETERMINISTIC approximate quantiles via a
# bottom-k-by-hash sample, the oracle-checkable counterpart of
# value_percentiles_approx (whose KLL sketch is engine-specific and
# therefore rows-only). Keeping the K rows with the smallest
# md5(event_id) per group is a min-wise uniform sample that is (a)
# order-independent, (b) MERGEABLE — the bottom-k of a union is the
# bottom-k of the concatenated bottom-k's, the same closure KMV uses —
# and (c) bit-identical in any engine that can md5. Quantile estimates
# are then exact order statistics of the sampled values at integer-
# rational positions ceil(q*n) computed as (num*n + den - 1) DIV den —
# no float position math anywhere.
#
# Scale posture: the rank<=K filter triggers Spark's WindowGroupLimit
# (plan-asserted): each map partition pre-prunes to its local bottom-K
# before the shuffle, so the exchange carries at most K rows per
# partition per group — a sketch-sized shuffle at any corpus size. The
# exact per-group count rides a separate map-side-combined aggregate
# joined back by broadcast.
# ---------------------------------------------------------------------------

SKETCH_K = 200
SKETCH_QUANTILES = (("p25", 1, 4), ("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))


def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("double").alias("v")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    sampled = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SKETCH_K)
        .groupBy("event_type")
        .agg(
            F.expr("array_sort(collect_list(v))").alias("sv"),
            F.count("*").cast("long").alias("n_sampled"),
        )
    )
    totals = ev.groupBy("event_type").agg(F.count("*").alias("n_events"))
    return sampled.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "n_events",
        "n_sampled",
        *[
            F.expr(
                f"element_at(sv, CAST(({num} * n_sampled + {den} - 1) DIV {den} AS INT))"
            ).alias(f"{name}_est")
            for name, num, den in SKETCH_QUANTILES
        ],
    )


VALUE_QUANTILE_SKETCH_SQL = f"""
    WITH ev AS (
        SELECT event_type, event_id, CAST(value AS DOUBLE) AS v FROM events
    ), ranked AS (
        SELECT event_type, v,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rk
        FROM ev
    ), sampled AS (
        SELECT event_type, list(v ORDER BY v) AS sv,
               CAST(count(*) AS BIGINT) AS n_sampled
        FROM ranked WHERE rk <= {SKETCH_K} GROUP BY 1
    ), totals AS (
        SELECT event_type, count(*) AS n_events FROM ev GROUP BY 1
    )
    SELECT s.event_type, t.n_events, s.n_sampled,
           {', '.join(
               f"sv[CAST(({num} * n_sampled + {den} - 1) // {den} AS INT)] AS {name}_est"
               for name, num, den in SKETCH_QUANTILES
           )}
    FROM sampled s JOIN totals t ON t.event_type = s.event_type
"""


QUERIES["value_quantile_sketch"] = value_quantile_sketch
ORACLE["value_quantile_sketch"] = VALUE_QUANTILE_SKETCH_SQL


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (support / confidence / lift) over order baskets
    at brand granularity — the classic "frequently bought together"
    mining the reference's catalog pipeline feeds into its dashboards
    (reference: write_session_batch.py:12 get_product_information plus
    the brand fillna at write_session_batch.py:31 ship brand-level
    attributes with every session row precisely so downstream BI can
    mine cross-brand affinity).

    Scale shape (100 TB): lineitem→part is a plain unhinted join — the
    part dimension grows with SF (20B rows at SF100k), so no static
    broadcast; AQE picks the strategy from runtime sizes. Baskets are
    built with ONE shuffle on l_orderkey (groupBy + collect_set); pair
    expansion is map-side and bounded (TPC-H baskets hold ≤7 items →
    ≤21 pairs + 7 singles + 1 marker per order). Everything downstream
    of the single basket aggregate is attribute-bounded: ≤B²/2+B+1 rows
    for B distinct brands (Heaps-free — brands are a catalog attribute,
    not corpus vocabulary), pinned once so the three rule inputs (pairs,
    marginals, total) never re-plan the corpus-sized subtree, then
    broadcast-joined.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # '' is this operator's pair/single/marker sentinel — an upstream
    # fillna('') brand would double-count the basket marker and leak
    # its singles into the total, so empty/null brands are excluded in
    # BOTH engines (they carry no affinity signal anyway)
    items = (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(F.col("p_brand") != "")
        .select("l_orderkey", "p_brand")
    )
    baskets = items.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("p_brand")).alias("brands")
    )
    # one pass over baskets emits pairs (a,b), singles (a,''), and a
    # ('','') basket marker; a single tiny aggregate counts them all.
    # Shape note: two plain explodes beat a nested struct-lambda
    # projection here — measured 0.9 s vs 1.3 s steady-state and 1.5 s
    # vs 4.5 s first-run at sf0.1 (the nested lambda blows up codegen
    # compile time), even though the second explode emits b >= a rows
    # before the a == b → single collapse. The '' sentinel appended to
    # the outer explode makes the marker ride the SAME explode, so
    # `baskets` is referenced once and nothing re-plans the corpus
    # subtree before the checkpoint below.
    e = baskets.select(
        F.explode(F.expr("concat(brands, array(''))")).alias("a"), "brands"
    )
    pairs = e.select(
        "a",
        F.explode(
            F.expr("IF(a = '', array(''), filter(brands, b -> b >= a))")
        ).alias("b"),
    )
    # <=B^2/2+B+1 rows; pinned so the three branches below reuse it
    # instead of re-planning the basket scan
    counts = pin(
        pairs.groupBy(
            F.col("a").alias("brand_a"),
            F.when(F.col("b") == F.col("a"), F.lit(""))
            .otherwise(F.col("b"))
            .alias("brand_b"),
        ).agg(F.count("*").alias("cnt"))
    )
    pair_cnt = counts.filter((F.col("brand_a") != "") & (F.col("brand_b") != ""))
    single = counts.filter((F.col("brand_a") != "") & (F.col("brand_b") == "")).select(
        F.col("brand_a").alias("b"), F.col("cnt").alias("b_orders")
    )
    total = counts.filter(F.col("brand_a") == "").select(
        F.col("cnt").alias("n_baskets")
    )
    sa = single.withColumnsRenamed({"b": "brand_a", "b_orders": "a_orders"})
    sb = single.withColumnsRenamed({"b": "brand_b", "b_orders": "bb_orders"})
    r = (
        pair_cnt.join(F.broadcast(sa), "brand_a")
        .join(F.broadcast(sb), "brand_b")
        .crossJoin(F.broadcast(total))
    )
    d = lambda c: F.col(c).cast("double")
    return r.select(
        "brand_a",
        "brand_b",
        F.col("cnt").alias("pair_orders"),
        F.col("a_orders"),
        F.col("bb_orders").alias("b_orders"),
        F.col("n_baskets"),
        (d("cnt") / d("n_baskets")).alias("support"),
        (d("cnt") / d("a_orders")).alias("confidence_ab"),
        (d("cnt") / d("bb_orders")).alias("confidence_ba"),
        (
            (d("cnt") * d("n_baskets")) / (d("a_orders") * d("bb_orders"))
        ).alias("lift"),
    )


MARKET_BASKET_RULES_SQL = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand != ''
    ), pair_cnt AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               CAST(count(*) AS BIGINT) AS pair_orders
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2
    ), single AS (
        SELECT p_brand AS b, CAST(count(*) AS BIGINT) AS b_orders
        FROM items GROUP BY 1
    ), total AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
        FROM items
    )
    SELECT p.brand_a, p.brand_b, p.pair_orders,
           sa.b_orders AS a_orders, sb.b_orders AS b_orders, t.n_baskets,
           CAST(p.pair_orders AS DOUBLE) / CAST(t.n_baskets AS DOUBLE)
               AS support,
           CAST(p.pair_orders AS DOUBLE) / CAST(sa.b_orders AS DOUBLE)
               AS confidence_ab,
           CAST(p.pair_orders AS DOUBLE) / CAST(sb.b_orders AS DOUBLE)
               AS confidence_ba,
           (CAST(p.pair_orders AS DOUBLE) * CAST(t.n_baskets AS DOUBLE))
               / (CAST(sa.b_orders AS DOUBLE) * CAST(sb.b_orders AS DOUBLE))
               AS lift
    FROM pair_cnt p
    JOIN single sa ON sa.b = p.brand_a
    JOIN single sb ON sb.b = p.brand_b
    CROSS JOIN total t
"""


QUERIES["market_basket_rules"] = market_basket_rules
ORACLE["market_basket_rules"] = MARKET_BASKET_RULES_SQL
