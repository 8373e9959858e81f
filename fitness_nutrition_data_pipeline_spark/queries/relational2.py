"""Advanced relational operators — pivot, rollup / grouping sets,
sessionization, per-group top-n, semi/anti joins, set ops, percentiles,
running windows. These extend SURVEY §2.4-2.5 beyond the reference's own
surface so the engine covers the full analytical toolkit at parity with
what its MySQL corpus could grow into.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "pivot_status_counts",
    """
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    sort=("o_orderpriority",),
    doc="groupBy().pivot() wide reshape — Catalyst rewrites to one pass of "
    "conditional aggregates (the oracle spells that rewrite out).",
)
def pivot_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_finished"),
        F.coalesce("P", F.lit(0)).alias("n_partial"),
    )


@register(
    "rollup_qty",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag, l_linestatus
    """,
    sort=("l_returnflag", "l_linestatus"),
    doc="ROLLUP hierarchy totals (flag → flag+status → grand total) in one "
    "shuffle via Expand — no per-level re-scan.",
)
def rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus, o_orderpriority
    """,
    sort=("o_orderstatus", "o_orderpriority"),
    doc="GROUPING SETS — two independent aggregation keys in one Expand "
    "pass instead of a UNION ALL of scans.",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


# The 30-minute-gap sessionizer, shared by every query that builds on
# sessions (sessionize_events, behavior_ops.concurrent_sessions_peak):
# ONE definition of the gap rule / tie-break on each engine side, so a
# change to session semantics edits exactly two strings.
SESSIONIZE_SQL_CTES = """gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    OR lag(epoch_us(ts)) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, ts_us,
             sum(is_start) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )"""


def sessionized(ev: DataFrame) -> DataFrame:
    """events → (user_id, event_id, ts_us, session_no): the Spark twin of
    SESSIONIZE_SQL_CTES (30-min gap, (ts, event_id) tie-break)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    gap = ts_us - F.lag(ts_us).over(w)
    starts = ev.select(
        "user_id",
        "event_id",
        ts_us.alias("ts_us"),
        F.when(gap > 1800000000, 1)
        .when(gap.isNull(), 1)
        .otherwise(0)
        .alias("is_start"),
    )
    w2 = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return starts.withColumn("session_no", F.sum("is_start").over(w2))


@register(
    "sessionize_events",
    f"""
    WITH {SESSIONIZE_SQL_CTES}
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           max(ts_us) - min(ts_us) AS duration_us
    FROM sess
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
    sort=("user_id", "session_no"),
    doc="Sessionization: 30-min-gap session breaks via lag + running sum of "
    "start flags, then per-session aggregates — the standard event-stream "
    "pattern; one shuffle on user_id, windows stay within partitions.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = sessionized(ev)
    return sess.groupBy("user_id", F.col("session_no").cast("long").alias("session_no")).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@register(
    "topn_per_group",
    """
    SELECT p_brand, p_partkey, p_retailprice
    FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) t WHERE rn <= 2
    ORDER BY p_brand, p_partkey
    """,
    sort=("p_brand", "p_partkey"),
    doc="Per-group top-n via ranked window — partitioned (no global sort); "
    "Catalyst pushes the rn<=2 filter into the window as a group limit.",
)
def topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), "p_partkey")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@register(
    "semi_join_active_customers",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
    sort=("c_custkey",),
    doc="LEFT SEMI join (EXISTS): customers with at least one order — "
    "returns each left row at most once, no fan-out, dim side streams.",
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@register(
    "set_ops_customers",
    """
    SELECT 'intersect' AS op, count(*) AS n FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'except', count(*) FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT o_custkey FROM orders
    )
    ORDER BY op
    """,
    sort=("op",),
    doc="INTERSECT / EXCEPT set semantics (dedup + membership) — planned as "
    "semi/anti joins after aggregate, not materialized sets.",
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rich = c.where(F.col("c_acctbal") > 5000).select(F.col("c_custkey").alias("k"))
    ordered = o.select(F.col("o_custkey").alias("k"))
    inter = rich.intersect(ordered).agg(
        F.lit("intersect").alias("op"), F.count(F.lit(1)).alias("n")
    )
    exc = rich.exceptAll(ordered).distinct().agg(
        F.lit("except").alias("op"), F.count(F.lit(1)).alias("n")
    )
    return inter.unionAll(exc)


@register(
    "percentile_stats",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    sort=("l_returnflag",),
    doc="Exact interpolated percentiles (median / p95) per group — "
    "percentile() in Spark ≡ quantile_cont in DuckDB (linear "
    "interpolation). The approx path at 100 TB is approx_percentile with "
    "the same plan shape.",
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )


@register(
    "running_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE), 2)
               AS running_revenue
    FROM orders
    WHERE o_custkey < 50
    ORDER BY o_custkey, o_orderkey
    """,
    sort=("o_custkey", "o_orderkey"),
    doc="Running (cumulative) aggregate per customer ordered by time — "
    "rows-frame window; partition-local, no global sort.",
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


@register(
    "monthly_customer_spend",
    """
    SELECT o_custkey, month, total_spend,
           CAST((cents * 2 + n) // (2 * n) AS DOUBLE) / 100 AS avg_order
    FROM (
      SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_spend,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                 AS cents,
             count(*) AS n
      FROM orders
      GROUP BY 1, 2
    )
    ORDER BY total_spend DESC, o_custkey, month
    LIMIT 10
    """,
    doc="Monthly per-user aggregates + top-k — the 'monthly AVG calories/"
    "protein per user LIMIT 10' smoke test (validation.sql:375-385) on the "
    "synthetic schema. avg_order uses exact integer half-up over cent "
    "sums: prices are exact 2-decimal, so small groups land averages "
    "exactly on half-cent boundaries (5 such groups exist at sf0.1), "
    "where Spark (shortest-repr HALF_UP) and DuckDB (binary value) round "
    "double averages in opposite directions. total_spend stays a plain "
    "rounded sum — a 2dp sum can never sit on a sub-cent boundary.",
)
def monthly_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100).cast("long")
    n = F.count(F.lit(1))
    return (
        o.groupBy(
            "o_custkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            cents.alias("_cents"),
            n.alias("_n"),
        )
        .select(
            "o_custkey",
            "month",
            "total_spend",
            (
                F.expr("CAST((_cents * 2 + _n) DIV (2 * _n) AS DOUBLE)") / 100
            ).alias("avg_order"),
        )
        .orderBy(F.desc("total_spend"), "o_custkey", "month")
        .limit(10)
    )


@register(
    "salted_event_counts",
    """
    SELECT event_type, count(*) AS n_events,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Skew-resistant two-stage (salted) aggregation: stage 1 groups by "
    "(key, salt) so one hot key spreads over 16 reducers, stage 2 merges "
    "partials. Result is identical to the direct groupBy — the oracle IS "
    "the direct groupBy — only the shuffle distribution differs. The "
    "manual form of what AQE skew handling does for joins.",
)
def salted_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_v")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n_events"),
        F.round(F.sum("_v"), 2).alias("total_value"),
    )


@register(
    "asof_join_last_view",
    """
    SELECT p.event_id, p.user_id,
           v.event_id AS asof_event_id,
           v.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.event_id
    """,
    sort=("event_id",),
    doc="As-of (point-in-time) join: each purchase matched to the user's "
    "latest at-or-before view. Spark has no native ASOF JOIN; implemented "
    "union + sort + last(ignorenulls) carry-forward (operators/asof.py) — "
    "one shuffle on the key, linear, vs. the quadratic naive range join. "
    "Oracle uses DuckDB's native ASOF LEFT JOIN.",
)
def asof_join_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    joined = as_of_join(
        purchases, views, "user_id", "ts", "ts",
        right_value_cols=["event_id", "value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").cast("long").alias("asof_event_id"),
        F.col("asof_value").cast("double").alias("asof_value"),
    )


@register(
    "funnel_view_purchase",
    """
    WITH firsts AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users_viewed,
           CAST(sum(CASE WHEN last_purchase > first_view THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           round(avg(CASE WHEN last_purchase > first_view THEN 1.0 ELSE 0.0 END), 4)
               AS conversion_rate
    FROM firsts WHERE first_view IS NOT NULL
    """,
    doc="Funnel conversion (view → later purchase) via conditional min/max "
    "per user — one shuffle on user_id, no self-join; the standard "
    "event-funnel plan at scale.",
)
def funnel_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("last_purchase"),
    )
    converted = F.when(F.col("last_purchase") > F.col("first_view"), 1).otherwise(0)
    return firsts.where(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_users_viewed"),
        F.sum(converted).alias("n_converted"),
        F.round(F.avg(converted.cast("double")), 4).alias("conversion_rate"),
    )


@register(
    "retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('month', min(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('month', ts) AS act_month FROM events
    )
    SELECT CAST(f.cohort AS DATE) AS cohort_month,
           CAST((year(a.act_month) - year(f.cohort)) * 12
                + (month(a.act_month) - month(f.cohort)) AS INT) AS month_offset,
           count(*) AS n_active_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY cohort_month, month_offset
    """,
    sort=("cohort_month", "month_offset"),
    doc="Cohort retention: first-seen month per user × active months → "
    "users retained per (cohort, offset). Two aggregations + one join on "
    "user_id; the cohort triangle every growth dashboard needs, computed "
    "without any per-cohort scan.",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.date_trunc("month", F.min("ts")).alias("cohort"))
    activity = ev.select(
        "user_id", F.date_trunc("month", "ts").alias("act_month")
    ).distinct()
    offset = (
        (F.year("act_month") - F.year("cohort")) * 12
        + (F.month("act_month") - F.month("cohort"))
    ).cast("int")
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            F.col("cohort").cast("date").alias("cohort_month"),
            offset.alias("month_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


@register(
    "violations_materialization",
    """
    SELECT 'negative_price' AS rule,
           CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS violation_count
    FROM orders
    UNION ALL
    SELECT 'quantity_out_of_range',
           CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > 60 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'discount_out_of_range',
           CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orphan_order_customer',
           (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)
    ORDER BY rule
    """,
    sort=("rule",),
    doc="Violations materialization — the reference's INSERT INTO "
    "validation_violations SELECT ... corpus (validation.sql:409-455) as "
    "one UNION ALL of rule/violation_count rows, ready for a sink write.",
)
def violations_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    neg_price = o.agg(
        F.lit("negative_price").alias("rule"),
        F.sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias("violation_count"),
    )
    qty = li.agg(
        F.lit("quantity_out_of_range").alias("rule"),
        F.sum(
            F.when((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 60), 1).otherwise(0)
        ).alias("violation_count"),
    )
    disc = li.agg(
        F.lit("discount_out_of_range").alias("rule"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.5), 1).otherwise(0)
        ).alias("violation_count"),
    )
    orphan = (
        o.join(c.select("c_custkey"), o.o_custkey == F.col("c_custkey"), "left_anti")
        .agg(
            F.lit("orphan_order_customer").alias("rule"),
            F.count(F.lit(1)).alias("violation_count"),
        )
    )
    return neg_price.unionAll(qty).unionAll(disc).unionAll(orphan)


@register(
    "range_frame_trailing_avg",
    """
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
           round(CAST(sum(o_totalprice) OVER w AS DOUBLE), 2) AS trailing_90d_spend,
           CAST(count(*) OVER w AS BIGINT) AS n_orders_90d
    FROM orders
    WHERE o_custkey < 30
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
                 RANGE BETWEEN 90 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderkey
    """,
    sort=("o_custkey", "o_orderkey"),
    doc="RANGE-frame window: trailing 90-day spend and order count per "
    "customer — the value-based frame (vs ROWS) over an epoch-day key; "
    "partition-local, no self-join for the sliding window.",
)
def range_frame_trailing_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 30)
    epoch_day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
    w = (
        W.partitionBy("o_custkey")
        .orderBy(epoch_day)
        .rangeBetween(-90, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").cast("string").alias("order_day"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_90d_spend"),
        F.count(F.lit(1)).over(w).alias("n_orders_90d"),
    )


@register(
    "order_gap_analysis",
    """
    SELECT o_custkey, o_orderkey,
           datediff('day', CAST(lag(o_orderdate) OVER w AS DATE),
                    CAST(o_orderdate AS DATE)) AS days_since_prev,
           datediff('day', CAST(o_orderdate AS DATE),
                    CAST(lead(o_orderdate) OVER w AS DATE)) AS days_until_next,
           CAST(first_value(o_orderdate) OVER w AS DATE) AS first_order_day
    FROM orders
    WHERE o_custkey < 30
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    sort=("o_custkey", "o_orderkey"),
    doc="lag/lead/first_value window family: per-customer order cadence "
    "(days since previous / until next order, cohort anchor) — one sort "
    "per partition serves all three functions.",
)
def order_gap_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 30)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    day = F.col("o_orderdate").cast("date")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(day, F.lag(F.col("o_orderdate").cast("date")).over(w)).alias(
            "days_since_prev"
        ),
        F.datediff(F.lead(F.col("o_orderdate").cast("date")).over(w), day).alias(
            "days_until_next"
        ),
        F.first(F.col("o_orderdate").cast("date")).over(w).alias("first_order_day"),
    )


@register(
    "correlated_subquery_big_spenders",
    """
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o
    WHERE o.o_totalprice > (
      SELECT avg(o2.o_totalprice) + 50000
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o_orderkey
    """,
    sort=("o_orderkey",),
    doc="Correlated scalar subquery: orders far above their customer's own "
    "average. Catalyst decorrelates to an aggregate + self-join (SURVEY §4 "
    "'subquery decorrelation') — no per-row subquery execution.",
)
def correlated_subquery_big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_corr")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey
        FROM orders_corr o
        WHERE o.o_totalprice > (
          SELECT avg(o2.o_totalprice) + 50000
          FROM orders_corr o2 WHERE o2.o_custkey = o.o_custkey
        )
        """
    )


@register(
    "stats_correlation",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS qty_price_corr,
           round(stddev_samp(l_quantity), 6) AS qty_stddev,
           round(var_samp(l_discount), 6) AS disc_variance
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    sort=("l_returnflag",),
    doc="Statistical aggregates (corr / stddev / variance) per group — "
    "single-pass co-moment accumulation, mergeable partials, no second "
    "scan for the means.",
)
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_quantity", "l_extendedprice"), 6) + 0.0).alias("qty_price_corr"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_variance"),
    )


@register(
    "user_value_trend",
    """
    SELECT user_id,
           round(regr_slope(value, epoch_us(ts) / 3600000000.0), 6) + 0.0 AS value_slope_per_hour,
           round(regr_intercept(value, epoch_us(ts) / 3600000000.0), 2) AS value_intercept,
           count(*) AS n_events
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    ORDER BY user_id
    """,
    sort=("user_id",),
    doc="Per-user linear trend via regression aggregates (regr_slope / "
    "regr_intercept over event-time hours) — the 'is this metric drifting' "
    "primitive computed in one grouped pass, no per-user model fitting "
    "loop.",
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    hours = F.unix_micros("ts") / 3600000000.0
    return ev.groupBy("user_id").agg(
        (F.round(F.regr_slope("value", hours), 6) + 0.0).alias("value_slope_per_hour"),
        F.round(F.regr_intercept("value", hours), 2).alias("value_intercept"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "sessionize_native_window",
    f"""
    WITH {SESSIONIZE_SQL_CTES}
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events,
           max(ts_us) - min(ts_us) AS duration_us
    FROM sess
    GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
    sort=("user_id", "session_no"),
    doc="Sessionization via Spark's NATIVE session_window aggregation — "
    "the same 30-minute-gap semantics as sessionize_events but computed "
    "by the engine's merging session windows instead of lag + running "
    "sum, then numbered per user by session start. The oracle SQL is "
    "BYTE-IDENTICAL to sessionize_events': two independent "
    "implementations checked against one truth (boundary safety: no "
    "inter-event gap in any testdata SF lands within 0.6 s of the "
    "30-minute cut, so the closed/open interval difference between the "
    "two formulations cannot bite). Same scale shape — one user-keyed "
    "shuffle, session state merged within partitions; this is also the "
    "exact aggregation Structured Streaming runs for streaming sessions.",
)
def sessionize_native_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_session = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("sw")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )
    w = W.partitionBy("user_id").orderBy(F.col("sw.start"))
    return per_session.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("session_no"),
        "n_events",
        "duration_us",
    )


@register(
    "k_anonymity_audit",
    """
    WITH groups AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS k
      FROM customer
      GROUP BY c_nationkey, c_mktsegment, CAST(floor(c_acctbal / 1000) AS BIGINT)
    )
    SELECT CAST(min(k) AS BIGINT) AS k_min,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_risky_groups,
           CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           round(100.0 * sum(CASE WHEN k < 5 THEN k ELSE 0 END) / sum(k), 4)
             AS pct_rows_at_risk
    FROM groups
    """,
    doc="k-anonymity audit before a data release: group the table by its "
    "quasi-identifier tuple (nation, market segment, account-balance "
    "band) and report the minimum group size, how many groups fall "
    "under k=5, and what share of rows they expose — the re-"
    "identification check that gates publishing 'anonymized' extracts "
    "(a group of size 1 IS an individual). One map-side-combined "
    "shuffle on the QI tuple, then a scalar rollup; at 100 TB the QI "
    "grain is the only thing that crosses the wire.",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("k"))
    risky = F.col("k") < 5
    return groups.agg(
        F.min("k").cast("long").alias("k_min"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(risky, 1).otherwise(0)).cast("long").alias("n_risky_groups"),
        F.sum(F.when(risky, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.round(
            100.0
            * F.sum(F.when(risky, F.col("k")).otherwise(0))
            / F.sum("k"),
            4,
        ).alias("pct_rows_at_risk"),
    )


@register(
    "l_diversity_audit",
    """
    WITH groups AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
             count(*) AS k,
             count(DISTINCT c_mktsegment) AS l
      FROM customer
      GROUP BY c_nationkey, CAST(floor(c_acctbal / 2000) AS BIGINT)
    )
    SELECT CAST(min(l) AS BIGINT) AS l_min,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_groups,
           CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT)
             AS n_rows_exposed,
           round(100.0 * sum(CASE WHEN l < 3 THEN k ELSE 0 END) / sum(k), 4)
             AS pct_rows_exposed
    FROM groups
    """,
    doc="l-diversity audit — the attack k-anonymity misses: a group can "
    "be large (k high) yet reveal everyone's sensitive attribute when "
    "all members SHARE it (homogeneity attack). Group by the quasi-"
    "identifier tuple (nation, balance band), count DISTINCT sensitive "
    "values (market segment) per group, and report groups below l=3 "
    "plus the rows they expose. Complements k_anonymity_audit before a "
    "data release. One shuffle on the QI tuple with a distinct-count; "
    "at 100 TB the partial aggregation carries (QI, sensitive) pairs — "
    "bounded by the attribute domain, not the data.",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    groups = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    homog = F.col("l") < 3
    return groups.agg(
        F.min("l").cast("long").alias("l_min"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(homog, 1).otherwise(0)).cast("long").alias(
            "n_homogeneous_groups"
        ),
        F.sum(F.when(homog, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_rows_exposed"),
        F.round(
            100.0 * F.sum(F.when(homog, F.col("k")).otherwise(0)) / F.sum("k"),
            4,
        ).alias("pct_rows_exposed"),
    )


@register(
    "deletion_propagation_audit",
    """
    WITH tombstones AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0
    ),
    o AS (
      SELECT count(*) AS total,
             sum(CASE WHEN t.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS del
      FROM orders LEFT JOIN tombstones t ON o_custkey = t.c_custkey
    ),
    li AS (
      SELECT count(*) AS total,
             sum(CASE WHEN del_orders.o_orderkey IS NOT NULL
                      THEN 1 ELSE 0 END) AS del
      FROM lineitem
      LEFT JOIN (SELECT o_orderkey FROM orders
                 JOIN tombstones t ON o_custkey = t.c_custkey) del_orders
        ON l_orderkey = del_orders.o_orderkey
    ),
    c AS (SELECT count(*) AS total,
                 (SELECT count(*) FROM tombstones) AS del
          FROM customer)
    SELECT 'customer' AS tbl, CAST(total AS BIGINT) AS n_rows,
           CAST(del AS BIGINT) AS n_to_delete,
           round(100.0 * del / total, 4) AS pct
    FROM c
    UNION ALL
    SELECT 'orders', CAST(total AS BIGINT), CAST(del AS BIGINT),
           round(100.0 * del / total, 4) FROM o
    UNION ALL
    SELECT 'lineitem', CAST(total AS BIGINT), CAST(del AS BIGINT),
           round(100.0 * del / total, 4) FROM li
    ORDER BY tbl
    """,
    sort=("tbl",),
    doc="Right-to-be-forgotten deletion-propagation audit: given a "
    "tombstone set of subjects (here: every 37th customer key, standing "
    "in for a GDPR erasure queue), count the rows each downstream table "
    "must drop when the deletion CASCADES through the FK graph "
    "(customer → orders → lineitem) — the impact report a data-"
    "governance pipeline produces before executing an erasure batch "
    "over a 100 TB lake. Plan: the tombstone set joins orders on the "
    "key (AQE decides the strategy — the queue scales with the user "
    "base), then the affected-order KEY SET joins lineitem; each hop "
    "ships only keys, and each table is scanned once.",
)
def deletion_propagation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    tomb = cust.where(F.col("c_custkey") % 37 == 0).select("c_custkey")

    c = cust.agg(
        F.lit("customer").alias("tbl"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("c_custkey") % 37 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_to_delete"),
    )
    # o_flag feeds TWO consumers (the orders rollup and the cascaded
    # lineitem key set); unpinned, each re-ran the orders scan + the
    # tombstone join — and with it a second customer scan (audited 3
    # customer / 2 orders scans, now 2 / 1). Narrow (key, bool) pin.
    o_flag = orders.join(
        tomb, orders.o_custkey == tomb.c_custkey, "left"
    ).select(
        "o_orderkey", F.col("c_custkey").isNotNull().alias("hit")
    ).localCheckpoint()
    o = o_flag.agg(
        F.lit("orders").alias("tbl"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0))
        .cast("long")
        .alias("n_to_delete"),
    )
    del_orders = o_flag.where(F.col("hit")).select("o_orderkey")
    l = (
        li.join(
            del_orders.withColumnRenamed("o_orderkey", "del_ok"),
            li.l_orderkey == F.col("del_ok"),
            "left",
        )
        .agg(
            F.lit("lineitem").alias("tbl"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(F.col("del_ok").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_to_delete"),
        )
    )
    out = c.unionByName(o).unionByName(l)
    return out.select(
        "tbl",
        "n_rows",
        "n_to_delete",
        F.round(100.0 * F.col("n_to_delete") / F.col("n_rows"), 4).alias("pct"),
    )
