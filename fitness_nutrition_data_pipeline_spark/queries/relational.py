"""Relational operator inventory (SURVEY.md §2.1-2.6) expressed over the
synthetic testdata, one registered query per operator family, each paired
with a DuckDB oracle. Beyond the reference's own surface it covers the
analytical toolkit its MySQL corpus could grow into: pivot, rollup /
grouping sets / CUBE, sessionization, per-group top-n, semi/anti joins,
set ops, percentiles, running and ranking windows, edit-distance pair
verify, date-spine gap fill and quality-ranked canonical selection.

Design rules applied throughout (100 TB posture):
- filters/projections first so Catalyst pushes them into the parquet scan;
- joins to small dimensions are explicit ``broadcast()`` — no shuffle of
  the fact side for them;
- double-typed aggregates are rounded (2-4 dp) so partial-aggregation
  order cannot flip the last ULP vs the oracle;
- every computed column is aliased identically in Spark and oracle SQL.

Reference citations in each docstring point at the behavior being
re-expressed (file:line into the reference repository).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.scratch import scratch_path
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


# ---------------------------------------------------------------------------
# Scans / projections / filters  (S1, P2-P6)
# ---------------------------------------------------------------------------


@register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(round(CAST(l_extendedprice AS DECIMAL(14,2)) *
                      (1 - CAST(l_discount AS DECIMAL(6,2))), 2) AS DOUBLE) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-06-01' AND l_quantity > 40
    ORDER BY l_orderkey, l_linenumber
    """,
    sort=("l_orderkey", "l_linenumber"),
    doc="Projection + predicate + derived column; pushdown-visible scan. "
    "Mirrors activity filter+derive (main_etl_pipeline.py:596-616).",
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where((F.col("l_shipdate") >= "2001-06-01") & (F.col("l_quantity") > 40))
        .select(
            "l_orderkey",
            "l_linenumber",
            # exact decimal math → round → double: per-row money products hit
            # .xx5 ties constantly; doing the rounding in DECIMAL (not binary
            # float) makes the result engine-independent (SURVEY F7 note).
            F.round(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(6,2)")),
                2,
            )
            .cast("double")
            .alias("net_price"),
        )
    )


@register(
    "range_validity_nullout",
    """
    SELECT event_id,
           CASE WHEN value > 5 AND value < 90 THEN value ELSE NULL END AS value_valid,
           coalesce(CASE WHEN value > 5 AND value < 90 THEN value END, 0.0) AS value_filled
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY event_id
    """,
    sort=("event_id",),
    doc="Range-validity conditional null-out + COALESCE default — the BMI "
    "(10,60) exclusive-bounds rule (main_etl_pipeline.py:202-208, 579-585; F10 :688-691).",
)
def range_validity_nullout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    valid = F.when((F.col("value") > 5) & (F.col("value") < 90), F.col("value"))
    return ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        valid.alias("value_valid"),
        F.coalesce(valid, F.lit(0.0)).alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# Aggregations  (A1-A9)
# ---------------------------------------------------------------------------


@register(
    "daily_rollup_sum",
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
           round(CAST(sum(value) AS DOUBLE), 2) AS total_value,
           count(*) AS n_events
    FROM events
    WHERE event_type = 'view'
    GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY user_id, day
    """,
    sort=("user_id", "day"),
    doc="Per-(user, day) SUM rollup — sleep minutes/day "
    "(main_etl_pipeline.py:543, A1).",
)
def daily_rollup_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.round(F.sum("value"), 2).alias("total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "daily_rollup_mean",
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
           round(avg(value), 4) AS avg_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY user_id, day
    """,
    sort=("user_id", "day"),
    doc="Per-(user, day) AVG rollup — daily heart-rate mean "
    "(main_etl_pipeline.py:560, A2).",
)
def daily_rollup_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
    )


@register(
    "pk_uniqueness_check",
    """
    SELECT count(*) AS total_rows,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS unique_keys,
           count(*) - CAST(count(DISTINCT o_orderkey) AS BIGINT) AS duplicate_keys
    FROM orders
    """,
    doc="Exact PK-uniqueness check (COUNT - COUNT DISTINCT), validation.sql:49-121 (A5). "
    "Exact (not approx_count_distinct): validation must be exact.",
)
def pk_uniqueness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("o_orderkey").alias("unique_keys"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("duplicate_keys"),
    )


@register(
    "composite_pk_check",
    """
    SELECT count(*) AS total_rows,
           CAST(count(DISTINCT l_orderkey || ':' || l_linenumber) AS BIGINT) AS unique_keys
    FROM lineitem
    """,
    doc="Composite-PK duplicate detection via CONCAT(UserKey,':',ConditionKey) "
    "(validation.sql:111-120, A5/F8).",
)
def composite_pk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct(F.concat_ws(":", "l_orderkey", "l_linenumber")).alias("unique_keys"),
    )


@register(
    "conditional_range_check",
    """
    SELECT count(*) AS total_rows,
           CAST(sum(CASE WHEN value < 0 OR value > 95 THEN 1 ELSE 0 END) AS BIGINT)
               AS out_of_range,
           CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_values
    FROM events
    """,
    doc="SUM(CASE WHEN out-of-range) range check + NOT-NULL check "
    "(validation.sql:259-291, 227-244; A6).",
)
def conditional_range_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.when((F.col("value") < 0) | (F.col("value") > 95), 1).otherwise(0)).alias(
            "out_of_range"
        ),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
    )


@register(
    "distribution_stats",
    """
    SELECT o_orderstatus,
           count(*) AS n,
           round(min(o_totalprice), 2) AS min_price,
           round(avg(o_totalprice), 2) AS avg_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    sort=("o_orderstatus",),
    doc="MIN/AVG/MAX/COUNT distribution stats (validation.sql:329-359, A7).",
)
def distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "domain_inventory_concat",
    """
    SELECT 'o_orderpriority' AS column_name,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS domain_values
    FROM orders
    """,
    doc="GROUP_CONCAT(DISTINCT ...) domain inventory (validation.sql:249-256, A9) "
    "as concat_ws over sort_array(collect_set()).",
)
def domain_inventory_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.lit("o_orderpriority").alias("column_name"),
        F.concat_ws(",", F.sort_array(F.collect_set("o_orderpriority"))).alias("domain_values"),
    )


@register(
    "table_counts_union",
    """
    SELECT 'customer' AS table_name, count(*) AS row_count FROM customer
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'part', count(*) FROM part
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'nation', count(*) FROM nation
    UNION ALL SELECT 'region', count(*) FROM region
    ORDER BY table_name
    """,
    sort=("table_name",),
    doc="Constant-table UNION ALL inventory + per-table COUNT(*) probes "
    "(validation.sql:16-46, 50-121; U1/A4).",
)
def table_counts_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = []
    for name in ("customer", "orders", "lineitem", "part", "supplier", "nation", "region"):
        parts.append(
            load_table(spark, sf_dir, name).agg(
                F.lit(name).alias("table_name"), F.count(F.lit(1)).alias("row_count")
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


# ---------------------------------------------------------------------------
# Joins  (J2-J7)
# ---------------------------------------------------------------------------


@register(
    "star_join_topk",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS revenue,
           count(*) AS n_orders
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 5
    """,
    doc="Star join + grouped agg + ORDER BY DESC + LIMIT (top-5 users by "
    "calories, validation.sql:365-372; J5/A8/O1/O2). Nation hint-"
    "broadcast (fixed 25 rows); customer scales with SF so its join "
    "strategy is AQE's runtime-size call — broadcast while small, "
    "shuffle at 100x (no pinned hint to OOM on).",
)
def star_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(5)
    )


@register(
    "recent_window_topk",
    """
    WITH mx AS (SELECT max(o_orderdate) AS max_d FROM orders)
    SELECT o_custkey,
           round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS revenue_30d
    FROM orders, mx
    WHERE o_orderdate >= mx.max_d - INTERVAL 30 DAY
    GROUP BY o_custkey
    ORDER BY revenue_30d DESC, o_custkey
    LIMIT 5
    """,
    doc="Date-window top-k — 'top 5 by calories over last 30 days' "
    "(validation.sql:365-372, F11) with the anchor pinned to max(o_orderdate) "
    "for determinism instead of CURRENT_DATE.",
)
def recent_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    max_d = o.agg(F.max("o_orderdate").alias("max_d"))
    return (
        o.join(F.broadcast(max_d))
        .where(F.col("o_orderdate") >= F.col("max_d") - F.expr("INTERVAL 30 DAY"))
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue_30d"))
        .orderBy(F.desc("revenue_30d"), "o_custkey")
        .limit(5)
    )


@register(
    "orphan_fk_check",
    """
    SELECT count(*) AS orphan_rows
    FROM lineitem l
    LEFT JOIN (SELECT p_partkey FROM part WHERE p_retailprice > 1500) p
      ON l.l_partkey = p.p_partkey
    WHERE p.p_partkey IS NULL
    """,
    doc="FK orphan check via anti-join (validation.sql:126-223, J7) — Spark "
    "plans LEFT JOIN ... IS NULL as an anti join. The filtered part key "
    "set scales with SF, so no broadcast hint: AQE broadcasts the anti "
    "side while small and shuffles when it is not.",
)
def orphan_fk_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_retailprice") > 1500).select("p_partkey")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_rows"))
    )


@register(
    "fk_coverage_pct",
    """
    SELECT round(avg(CASE WHEN p.p_partkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 4)
               AS coverage_pct,
           count(*) AS total_rows
    FROM lineitem l
    LEFT JOIN (SELECT p_partkey FROM part WHERE p_retailprice > 1500) p
      ON l.l_partkey = p.p_partkey
    """,
    doc="LEFT JOIN + AVG(CASE WHEN resolved) coverage percentage "
    "(validation.sql:295-325, J6).",
)
def fk_coverage_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_retailprice") > 1500).select("p_partkey")
    joined = li.join(p, li.l_partkey == p.p_partkey, "left")
    return joined.agg(
        F.round(
            F.avg(F.when(F.col("p_partkey").isNotNull(), 1.0).otherwise(0.0)), 4
        ).alias("coverage_pct"),
        F.count(F.lit(1)).alias("total_rows"),
    )


@register(
    "fact_dim_key_resolution",
    """
    SELECT s.s_suppkey, n.n_name AS nation_name, r.r_name AS region_name,
           round(s.s_acctbal, 2) AS acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY s_suppkey
    """,
    sort=("s_suppkey",),
    doc="Dim-key resolution joins — dict-lookup joins J2/J3/J4 "
    "(main_etl_pipeline.py:360-361, 464-471, 545-601) become broadcast "
    "snowflake joins; inner semantics = drop-on-miss.",
)
def fact_dim_key_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.round("s_acctbal", 2).alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions / surrogate keys / unpivot  (W1, weight-stack)
# ---------------------------------------------------------------------------


@register(
    "surrogate_key_assignment",
    """
    SELECT CAST(row_number() OVER (ORDER BY c_mktsegment) AS BIGINT) AS segment_key,
           c_mktsegment AS segment_name
    FROM (SELECT DISTINCT c_mktsegment FROM customer)
    ORDER BY segment_key
    """,
    sort=("segment_key",),
    doc="Deterministic surrogate-key assignment: distinct dim values + "
    "row_number over sorted order (main_etl_pipeline.py:373-381, W1). The "
    "global window is fine for small dims; the warehouse's key assignment "
    "at scale (operators/keys.py::assign_sequential_ids) range-partitions "
    "on the order columns and adds broadcast per-partition offsets to a "
    "per-partition row_number.",
)
def surrogate_key_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select("c_mktsegment")
        .distinct()
        .select(
            F.row_number().over(W.orderBy("c_mktsegment")).cast("long").alias("segment_key"),
            F.col("c_mktsegment").alias("segment_name"),
        )
    )


@register(
    "window_dedup_first_seen",
    """
    SELECT user_id, event_type, event_id AS first_event_id
    FROM (
      SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
      FROM events
    ) t
    WHERE rn = 1
    ORDER BY user_id, event_type
    """,
    sort=("user_id", "event_type"),
    doc="First-seen-wins dedup via row_number window — the entity-resolution "
    "tie-break idiom (main_etl_pipeline.py:189-232; J1 building block).",
)
def window_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"))
    )


@register(
    "metric_unpivot",
    """
    SELECT p_partkey, metric, round(value, 2) AS value
    FROM (
      SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
      UNION ALL
      SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
    ) t
    ORDER BY p_partkey, metric
    """,
    sort=("p_partkey", "metric"),
    doc="Wide→long EAV unpivot — weight row fans out to (weight, bmi) metric "
    "rows (main_etl_pipeline.py:572-593) as stack(2, ...).",
)
def metric_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'retailprice', p_retailprice, 'size', CAST(p_size AS DOUBLE))"
        ).alias("metric", "raw_value"),
    ).select("p_partkey", "metric", F.round("raw_value", 2).alias("value"))


# ---------------------------------------------------------------------------
# Scalar-function surface  (F2, F3, F5, F6)
# ---------------------------------------------------------------------------


@register(
    "regex_extract_cast",
    """
    SELECT event_id,
           CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k_value
    FROM events
    WHERE event_type = 'signup'
    ORDER BY event_id
    """,
    sort=("event_id",),
    doc="Regex extraction + numeric coercion — the unit-strip + "
    "pd.to_numeric(errors='coerce') idiom over nutrient columns "
    "(main_etl_pipeline.py:418-437, F2). Spark cast-fail→NULL ≡ coerce.",
)
def regex_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "signup").select(
        "event_id",
        F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("int").alias("k_value"),
    )


@register(
    "keyword_categorization",
    """
    SELECT CASE
             WHEN lower(p_type) LIKE '%promo%' OR lower(p_type) LIKE '%economy%'
               THEN 'discount'
             WHEN lower(p_type) LIKE '%large%' OR lower(p_type) LIKE '%medium%'
               THEN 'bulk'
             WHEN lower(p_type) LIKE '%small%' THEN 'compact'
             ELSE 'standard'
           END AS category,
           count(*) AS n_parts
    FROM part
    GROUP BY 1
    ORDER BY category
    """,
    sort=("category",),
    doc="First-match-wins keyword categorization — _standardize_fitness_goal "
    "(main_etl_pipeline.py:314-323, config.py:30-35, F3): chained "
    "when(lower().contains()) preserving dict order, default bucket last.",
)
def keyword_categorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    lowered = F.lower(F.col("p_type"))
    category = (
        F.when(lowered.contains("promo") | lowered.contains("economy"), "discount")
        .when(lowered.contains("large") | lowered.contains("medium"), "bulk")
        .when(lowered.contains("small"), "compact")
        .otherwise("standard")
    )
    return p.groupBy(category.alias("category")).agg(F.count(F.lit(1)).alias("n_parts"))


@register(
    "date_dimension",
    """
    SELECT CAST(strftime(d, '%Y%m%d') AS INT) AS date_key,
           CAST(d AS DATE) AS full_date,
           CAST(isodow(d) - 1 AS INT) AS day_of_week,
           dayname(d) AS day_name,
           CAST(month(d) AS INT) AS month,
           monthname(d) AS month_name,
           CAST(quarter(d) AS INT) AS quarter,
           CAST(year(d) AS INT) AS year
    FROM (SELECT unnest(generate_series(DATE '2016-01-01', DATE '2016-12-31',
                                        INTERVAL 1 DAY)) AS d)
    ORDER BY date_key
    """,
    sort=("date_key",),
    doc="Dim_Date generation: date sequence + smart-key + calendar attrs "
    "(main_etl_pipeline.py:345-361, F5/F6). day_of_week matches pandas "
    "Mon=0 — Spark dayofweek is Sun=1, hence the (dow+5)%7 offset. "
    "day_name/month_name come from literal English arrays, not "
    "date_format('EEEE'/'MMMM') which follows the JVM default locale "
    "while the oracle's dayname/monthname are always English.",
)
def date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_names = F.array(
        *[
            F.lit(n)
            for n in (
                "Monday", "Tuesday", "Wednesday", "Thursday",
                "Friday", "Saturday", "Sunday",
            )
        ]
    )
    month_names = F.array(
        *[
            F.lit(n)
            for n in (
                "January", "February", "March", "April", "May", "June",
                "July", "August", "September", "October", "November",
                "December",
            )
        ]
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(F.to_date(F.lit("2016-01-01")), F.to_date(F.lit("2016-12-31")))
        ).alias("d")
    )
    return days.select(
        F.date_format("d", "yyyyMMdd").cast("int").alias("date_key"),
        F.col("d").alias("full_date"),
        ((F.dayofweek("d") + 5) % 7).alias("day_of_week"),
        F.element_at(day_names, ((F.dayofweek("d") + 5) % 7) + 1).alias("day_name"),
        F.month("d").alias("month"),
        F.element_at(month_names, F.month("d")).alias("month_name"),
        F.quarter("d").alias("quarter"),
        F.year("d").alias("year"),
    )


@register(
    "entity_resolution_profiles",
    """
    WITH profiles AS (
      SELECT c_custkey,
             c_mktsegment || '_' || c_nationkey || '_' ||
               CAST(CAST(round(c_acctbal, -2) AS BIGINT) AS VARCHAR) AS profile_hash
      FROM customer
    ),
    canon AS (
      SELECT profile_hash, min(c_custkey) AS canonical_custkey,
             count(*) AS n_members
      FROM profiles GROUP BY profile_hash
    )
    SELECT CAST(row_number() OVER (ORDER BY canonical_custkey) AS BIGINT) AS user_key,
           profile_hash, canonical_custkey, n_members
    FROM canon
    ORDER BY user_key
    """,
    sort=("user_key",),
    doc="Entity resolution (user unification, J1): composite natural-key "
    "hash, first-seen-wins canonical pick, deterministic surrogate keys "
    "(main_etl_pipeline.py:161-312). Set-based: hash → groupBy min → "
    "sequential-id assignment, replacing the iterrows loop. Keys come from "
    "assign_sequential_ids (range-repartition + per-partition row_number + "
    "broadcast offsets) — same dense 1..N as a global-window row_number but "
    "with no single-task sort, so a billion-profile resolution still "
    "parallelizes.",
)
def entity_resolution_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.keys import assign_sequential_ids

    c = load_table(spark, sf_dir, "customer")
    profiles = c.select(
        "c_custkey",
        F.concat_ws(
            "_",
            "c_mktsegment",
            "c_nationkey",
            F.round("c_acctbal", -2).cast("long").cast("string"),
        ).alias("profile_hash"),
    )
    canon = profiles.groupBy("profile_hash").agg(
        F.min("c_custkey").alias("canonical_custkey"),
        F.count(F.lit(1)).alias("n_members"),
    )
    keyed = assign_sequential_ids(canon, ["canonical_custkey"], "user_key")
    return keyed.select("user_key", "profile_hash", "canonical_custkey", "n_members")


@register(
    "json_props_parse",
    r"""
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS total_k,
           CAST(count(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS n_parsed
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Semi-structured JSON column: from_json with an explicit schema "
    "(JVM-side Jackson parse, no Python) then plain aggregation — the "
    "properties-bag pattern every event pipeline carries.",
)
def json_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("_p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("_p.k")).alias("total_k"),
        F.count(F.col("_p.k")).alias("n_parsed"),
    )


# ---------------------------------------------------------------------------
# Pivot, rollup / grouping sets, sessionization, per-group top-n,
# semi/anti joins, set ops, percentiles, running windows
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# CUBE, window ranking, edit-distance pair verify, date-spine gap fill,
# quality-ranked canonical selection
#
# Scale notes: CUBE multiplies rows 4x in the Expand before the partial
# agg — still one shuffle. The window suite partitions by a low-cardinality
# key (per-partition sort, no global sort). Levenshtein is O(len²) per
# pair, so it only ever runs on *candidate* pairs (bounded count), never
# cross-corpus. The date spine is generated, not scanned — a few hundred
# rows broadcast against the fact aggregate.
# ---------------------------------------------------------------------------


@register(
    "cube_revenue",
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS gid,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag, l_linestatus
    """,
    sort=("gid", "l_returnflag", "l_linestatus"),
    doc="CUBE over two keys: all four grouping sets (detail, each "
    "marginal, grand total) in one Expand + single shuffle — vs four "
    "separate scans. GROUPING() bits disambiguate real NULLs from "
    "rollup NULLs.",
)
def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (
            F.grouping("l_returnflag") + 2 * F.grouping("l_linestatus")
        ).alias("gid"),
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    ).select("l_returnflag", "l_linestatus", "gid", "revenue", "n_items")


@register(
    "window_rank_suite",
    """
    SELECT c_custkey, c_mktsegment,
           ntile(4) OVER w AS balance_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist,
           rank() OVER w AS bal_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_custkey
    """,
    sort=("c_custkey",),
    doc="Window ranking suite (ntile / percent_rank / cume_dist / rank) "
    "partitioned by segment: one shuffle on the partition key, per-"
    "partition sort, all four functions evaluated in a single Window "
    "operator pass. Deterministic via the c_custkey tie-break.",
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
        F.rank().over(w).alias("bal_rank"),
    )


@register(
    "edit_distance_pairs",
    """
    WITH d AS (SELECT doc_id, substr(text, 1, 60) AS head FROM documents)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           levenshtein(a.head, b.head) AS edit_dist,
           round(1.0 - CAST(levenshtein(a.head, b.head) AS DOUBLE)
                 / greatest(length(a.head), length(b.head)), 4) AS similarity
    FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_id_a
    """,
    sort=("doc_id_a",),
    doc="Levenshtein verify on candidate pairs (adjacent ids here; LSH "
    "buckets at scale): edit distance is O(len²) per pair so it is "
    "bounded to a 60-char head and only ever run on candidates, never "
    "cross-corpus. JVM-side levenshtein — no Python in the loop.",
)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("head")
    )
    a = d.select(F.col("doc_id").alias("doc_id_a"), F.col("head").alias("head_a"))
    b = d.select(F.col("doc_id").alias("doc_id_b"), F.col("head").alias("head_b"))
    lev = F.levenshtein("head_a", "head_b")
    return (
        a.join(b, F.col("doc_id_b") == F.col("doc_id_a") + 1)
        .select(
            "doc_id_a",
            "doc_id_b",
            lev.alias("edit_dist"),
            F.round(
                1.0
                - lev.cast("double")
                / F.greatest(F.length("head_a"), F.length("head_b")),
                4,
            ).alias("similarity"),
        )
    )


@register(
    "date_spine_gap_fill",
    """
    WITH spine AS (
      SELECT unnest(generate_series(DATE '1997-01-01', DATE '1997-03-31',
                                    INTERVAL 1 DAY))::DATE AS day
    ),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
             round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS day_revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s.day, coalesce(d.n_orders, 0) AS n_orders,
           coalesce(d.day_revenue, 0.0) AS day_revenue
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    ORDER BY s.day
    """,
    sort=("day",),
    doc="Date-spine gap filling: a generated calendar (sequence + explode, "
    "never scanned from storage) LEFT-joined to the daily aggregate so "
    "zero-activity days appear explicitly — the prerequisite for any "
    "time-series model input. The spine is rows-not-bytes tiny and "
    "broadcasts.",
)
def date_spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spine = o.sparkSession.range(1).select(
        F.explode(
            F.sequence(
                F.to_date(F.lit("1997-01-01")),
                F.to_date(F.lit("1997-03-31")),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = (
        o.where(
            (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1997-04-01")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("day_revenue"),
        )
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            "day",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("day_revenue", F.lit(0.0)).alias("day_revenue"),
        )
    )


@register(
    "dedup_keep_best",
    r"""
    WITH fp AS (
      SELECT doc_id, lang, n_chars,
             md5(array_to_string(
               string_split_regex(lower(trim(text)), '\s+')[1:20], ' ')) AS fingerprint
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars, fingerprint,
             row_number() OVER (PARTITION BY fingerprint
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY fingerprint) AS n_members
      FROM fp
    )
    SELECT fingerprint, doc_id AS survivor_doc_id, lang, n_chars, n_members
    FROM ranked WHERE rn = 1 AND n_members >= 2
    ORDER BY fingerprint
    """,
    sort=("fingerprint",),
    doc="Quality-ranked canonical selection: cluster by prefix fingerprint "
    "(md5 of the first 20 tokens — the boilerplate/mirror-page dedup key), "
    "keep the highest-quality member (longest, then lowest id) via "
    "row_number over the fingerprint partition — the 'keep best, not "
    "first' dedup policy. One shuffle on the fingerprint; skew-safe "
    "because cluster sizes are bounded by true duplicate counts.",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(
            F.array_join(
                F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 20), " "
            )
        ).alias("fingerprint"),
    )
    w = W.partitionBy("fingerprint").orderBy(F.desc("n_chars"), "doc_id")
    ranked = fp.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("fingerprint")).alias("n_members"),
    )
    return ranked.where((F.col("rn") == 1) & (F.col("n_members") >= 2)).select(
        "fingerprint",
        F.col("doc_id").alias("survivor_doc_id"),
        "lang",
        "n_chars",
        "n_members",
    )


@register(
    "incremental_ingest_dedup",
    r"""
    WITH fp AS (
      SELECT doc_id, lang,
             md5(array_to_string(
               string_split_regex(lower(trim(text)), '\s+')[1:20], ' ')) AS fingerprint
      FROM documents
    ),
    hist AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 450),
    inc AS (SELECT * FROM fp WHERE doc_id >= 450)
    SELECT i.doc_id, i.lang,
           CASE WHEN h.fingerprint IS NULL THEN 1 ELSE 0 END AS is_novel
    FROM inc i LEFT JOIN hist h ON i.fingerprint = h.fingerprint
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Incremental ingest dedup: a new batch (doc_id >= 450 stands in "
    "for today's drop) is admitted only if its content fingerprint is "
    "absent from the historical corpus — a LEFT ANTI-shaped join against "
    "the fingerprint store. At 100 TB the store is a bucketed table "
    "keyed on fingerprint so each daily batch joins without reshuffling "
    "history; here the history side is computed inline.",
)
def incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        "lang",
        F.md5(
            F.array_join(
                F.slice(F.split(F.lower(F.trim("text")), r"\s+"), 1, 20), " "
            )
        ).alias("fingerprint"),
    )
    hist = fp.where(F.col("doc_id") < 450).select("fingerprint").distinct()
    inc = fp.where(F.col("doc_id") >= 450)
    return (
        # no broadcast hint on the history fingerprint set: it scales with
        # the corpus (at 100 TB the right plan is a shuffle join on the
        # fingerprint, or a bucketed store — load.py::write_bucketed);
        # AQE broadcasts it while its runtime size allows
        inc.join(
            hist.withColumnRenamed("fingerprint", "h_fp"),
            inc.fingerprint == F.col("h_fp"),
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.when(F.col("h_fp").isNull(), 1).otherwise(0).alias("is_novel"),
        )
    )


@register(
    "incremental_agg_merge",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_value,
           CAST((CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                 * 100 * 2 + count(*)) // (2 * count(*)) AS DOUBLE) / 10000
             AS avg_value
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    GROUP BY CAST(ts AS DATE), event_type
    ORDER BY day, event_type
    """,
    sort=("day", "event_type"),
    doc="Mergeable-state contract for incremental view maintenance: the "
    "builder aggregates a frozen snapshot (days before 2024-01-20) and a "
    "delta batch (the rest) SEPARATELY into partial states (count + "
    "DECIMAL sum — both associative/commutative), unions the partials, "
    "and re-aggregates; the oracle recomputes from scratch. Hash-equality "
    "proves the merge path is exact, which is what lets a 100 TB daily "
    "rollup absorb late partitions by merging yesterday's materialized "
    "state with today's delta instead of rescanning the fact history. "
    "Averages derive from merged sums, never averaged averages.",
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        # ts NOT NULL is explicit on both sides: a NULL day would fall
        # through both period filters here while the oracle keeps it as
        # its own group
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("s")
        )

    snapshot = partial(ev.where(F.col("day") < "2024-01-20"))
    delta = partial(ev.where(F.col("day") >= "2024-01-20"))
    merged = (
        snapshot.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(F.sum("cnt").alias("n_events"), F.sum("s").alias("total"))
    )
    # avg via exact integer half-up over 1e-4 units (the
    # monthly_customer_spend idiom): round(double_total / n, 4) lands
    # exactly on half boundaries for 2-decimal inputs (e.g. 307.03/8 =
    # 38.37875), where Spark and DuckDB round doubles in opposite
    # directions — caught by the sf0.001 sweep. FLOOR division, not
    # `div`: Spark `div` truncates toward zero while DuckDB `//` floors,
    # which diverges for negative sums (latent with the
    # all-positive testdata, real for any signed measure). pmod is
    # non-negative, so (_num - pmod) is an exact multiple and the div is
    # exact floor for the always-positive denominator.
    scaled = (F.col("total") * 100).cast("long") * 100
    avg4 = (
        F.expr(
            "CAST((_num - pmod(_num, 2 * n_events)) div (2 * n_events)"
            " AS DOUBLE)"
        )
        / 10000
    )
    return (
        merged.withColumn("_num", scaled * 2 + F.col("n_events"))
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            "n_events",
            F.round(F.col("total").cast("double"), 2).alias("total_value"),
            avg4.alias("avg_value"),
        )
    )


@register(
    "record_linkage_scores",
    """
    WITH blocked AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             lead(c_custkey) OVER w AS nxt_key,
             lead(c_mktsegment) OVER w AS nxt_seg,
             lead(CAST(floor(c_acctbal / 1000) AS BIGINT)) OVER w AS nxt_band
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
    ),
    pairs AS (
      SELECT c_custkey AS id_a, nxt_key AS id_b,
             CASE WHEN c_mktsegment = nxt_seg THEN 1 ELSE 0 END AS seg_agree,
             CASE WHEN bal_band = nxt_band THEN 1 ELSE 0 END AS band_agree
      FROM blocked WHERE nxt_key IS NOT NULL
    )
    SELECT id_a, id_b, seg_agree, band_agree,
           round(CASE WHEN seg_agree = 1 THEN ln(0.9 / 0.2)
                      ELSE ln(0.1 / 0.8) END
                 + CASE WHEN band_agree = 1 THEN ln(0.8 / 0.1)
                        ELSE ln(0.2 / 0.9) END, 4) AS match_weight,
           CASE WHEN (CASE WHEN seg_agree = 1 THEN ln(0.9 / 0.2)
                           ELSE ln(0.1 / 0.8) END
                      + CASE WHEN band_agree = 1 THEN ln(0.8 / 0.1)
                             ELSE ln(0.2 / 0.9) END) > 2.0
                THEN 1 ELSE 0 END AS is_match
    FROM pairs
    ORDER BY id_a
    """,
    sort=("id_a",),
    doc="Fellegi-Sunter probabilistic record linkage on blocked candidate "
    "pairs: block on nation (the blocking key bounds the comparison "
    "space — adjacent-by-key pairs within each block, linear, never "
    "cross-product), compare field vectors (market segment, account-"
    "balance band), and score each pair with the sum of log m/u "
    "likelihood ratios — agreement adds ln(m/u), disagreement adds "
    "ln((1-m)/(1-u)); pairs above the decision threshold classify as "
    "matches. The m/u priors are config constants here (EM-estimating "
    "them is the batch-iterative extension). Complements the "
    "deterministic entity_resolution_profiles (J1) with the scored-"
    "linkage formulation used when sources disagree. One shuffle on the "
    "blocking key; the window pairing is partition-local.",
)
def record_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_custkey")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    blocked = cust.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        band.alias("bal_band"),
        F.lead("c_custkey").over(w).alias("nxt_key"),
        F.lead("c_mktsegment").over(w).alias("nxt_seg"),
        F.lead(band).over(w).alias("nxt_band"),
    )
    pairs = blocked.where(F.col("nxt_key").isNotNull()).select(
        F.col("c_custkey").alias("id_a"),
        F.col("nxt_key").alias("id_b"),
        F.when(F.col("c_mktsegment") == F.col("nxt_seg"), 1)
        .otherwise(0)
        .alias("seg_agree"),
        F.when(F.col("bal_band") == F.col("nxt_band"), 1)
        .otherwise(0)
        .alias("band_agree"),
    )
    w_seg_a, w_seg_d = math.log(0.9 / 0.2), math.log(0.1 / 0.8)
    w_band_a, w_band_d = math.log(0.8 / 0.1), math.log(0.2 / 0.9)
    weight = F.when(F.col("seg_agree") == 1, w_seg_a).otherwise(
        w_seg_d
    ) + F.when(F.col("band_agree") == 1, w_band_a).otherwise(w_band_d)
    return pairs.select(
        "id_a",
        "id_b",
        "seg_agree",
        "band_agree",
        F.round(weight, 4).alias("match_weight"),
        F.when(weight > 2.0, 1).otherwise(0).alias("is_match"),
    )


@register(
    "linkage_em_step",
    """
    WITH blocked AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             c_mktsegment,
             lead(c_custkey) OVER w AS nxt_key,
             lead(c_mktsegment) OVER w AS nxt_seg,
             lead(CAST(floor(c_acctbal / 1000) AS BIGINT)) OVER w AS nxt_band
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
    ),
    pairs AS (
      SELECT CASE WHEN c_mktsegment = nxt_seg THEN 1.0 ELSE 0.0 END AS g1,
             CASE WHEN bal_band = nxt_band THEN 1.0 ELSE 0.0 END AS g2
      FROM blocked WHERE nxt_key IS NOT NULL
    ),
    e AS (
      SELECT g1, g2,
             0.1 * pow(0.8, g1) * pow(0.2, 1 - g1)
                 * pow(0.7, g2) * pow(0.3, 1 - g2) AS pm,
             0.9 * pow(0.3, g1) * pow(0.7, 1 - g1)
                 * pow(0.2, g2) * pow(0.8, 1 - g2) AS pu
      FROM pairs
    ),
    post AS (SELECT g1, g2, pm / (pm + pu) AS w FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(w), 6) AS p_match,
           round(sum(w * g1) / sum(w), 6) AS m_seg,
           round(sum(w * g2) / sum(w), 6) AS m_band,
           round(sum((1 - w) * g1) / sum(1 - w), 6) AS u_seg,
           round(sum((1 - w) * g2) / sum(1 - w), 6) AS u_band
    FROM post
    """,
    doc="One EM iteration calibrating the Fellegi-Sunter m/u parameters "
    "from the unlabeled blocked pairs (the standard unsupervised fit, "
    "Winkler's formulation): E-step — posterior match probability per "
    "pair from the current (p, m, u) under conditional independence of "
    "the field agreements; M-step — re-estimate p as the mean posterior "
    "and each field's m/u as posterior-weighted agreement rates. "
    "Registered as ONE step with fixed starting parameters (the "
    "kmeans_lloyd_update convention for iterative algorithms: the step "
    "is the operator; the driver loop re-invokes it). Pure "
    "multiply/divide arithmetic — no transcendentals — rounded at 6dp "
    "over the pair aggregate. Scale: the E-step is row-local on pairs; "
    "the M-step is one scalar aggregation with map-side partials.",
)
def linkage_em_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_custkey")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    blocked = cust.select(
        "c_custkey",
        "c_mktsegment",
        band.alias("bal_band"),
        F.lead("c_custkey").over(w).alias("nxt_key"),
        F.lead("c_mktsegment").over(w).alias("nxt_seg"),
        F.lead(band).over(w).alias("nxt_band"),
    )
    pairs = blocked.where(F.col("nxt_key").isNotNull()).select(
        F.when(F.col("c_mktsegment") == F.col("nxt_seg"), 1.0)
        .otherwise(0.0)
        .alias("g1"),
        F.when(F.col("bal_band") == F.col("nxt_band"), 1.0)
        .otherwise(0.0)
        .alias("g2"),
    )
    pm = (
        0.1
        * F.pow(0.8, F.col("g1")) * F.pow(0.2, 1 - F.col("g1"))
        * F.pow(0.7, F.col("g2")) * F.pow(0.3, 1 - F.col("g2"))
    )
    pu = (
        0.9
        * F.pow(0.3, F.col("g1")) * F.pow(0.7, 1 - F.col("g1"))
        * F.pow(0.2, F.col("g2")) * F.pow(0.8, 1 - F.col("g2"))
    )
    post = pairs.select("g1", "g2", (pm / (pm + pu)).alias("w"))
    return post.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("w"), 6).alias("p_match"),
        F.round(F.sum(F.col("w") * F.col("g1")) / F.sum("w"), 6).alias("m_seg"),
        F.round(F.sum(F.col("w") * F.col("g2")) / F.sum("w"), 6).alias("m_band"),
        F.round(
            F.sum((1 - F.col("w")) * F.col("g1")) / F.sum(1 - F.col("w")), 6
        ).alias("u_seg"),
        F.round(
            F.sum((1 - F.col("w")) * F.col("g2")) / F.sum(1 - F.col("w")), 6
        ).alias("u_band"),
    )


@register(
    "hierarchy_rollup",
    """
    WITH nodes AS (SELECT c_custkey AS node FROM customer)
    SELECT CAST(substr(CAST(node AS VARCHAR), 1, 1) AS BIGINT) AS root,
           CAST(len(CAST(node AS VARCHAR)) - 1 AS BIGINT) AS depth,
           count(*) AS n_nodes,
           CAST(min(node) AS BIGINT) AS min_node,
           CAST(max(node) AS BIGINT) AS max_node
    FROM nodes
    GROUP BY 1, 2
    ORDER BY root, depth
    """,
    sort=("root", "depth"),
    doc="Hierarchy flattening WITHOUT recursive CTEs (Spark has none): "
    "resolve every node's root ancestor and depth by iteratively "
    "joining a parent-EDGE RELATION — the org-chart/bill-of-materials "
    "pattern. The hierarchy is synthesized as parent(k) = k div 10 "
    "(roots = single digits), which the oracle verifies INDEPENDENTLY "
    "by digit arithmetic — so the unrolled join ladder is checked "
    "against closed-form truth, not against itself. Each unroll level "
    "is one key-partitioned join resolving one hop for every "
    "still-unresolved node (6 levels cover 10^6 keys; the unroll count "
    "is the only scaling knob, ~log of max depth). At 100 TB each hop "
    "shuffles (node, current-ancestor) pairs only — the same shape "
    "production BOM explosions run, with AQE free to broadcast the "
    "edge table while it fits.",
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    parent_of = F.when(F.col("node") < 10, F.col("node")).otherwise(
        F.floor(F.col("node") / 10).cast("long")
    )
    edges = cust.select(F.col("c_custkey").alias("node")).select(
        "node", parent_of.alias("parent")
    )
    cur = edges.select(
        "node",
        F.col("parent").alias("anc"),
        F.when(F.col("node") < 10, 0).otherwise(1).alias("depth"),
    )
    # the hop relation is joined once per unrolled level; unpinned, each
    # of the 6 joins re-plans (and re-scans) the customer-derived edge
    # table — 7 scans for one logical relation. Pin it
    # once: the iterative-state materialization pattern the k-core and
    # star-CC operators already use for exactly this join-ladder shape.
    hop = edges.select(
        F.col("node").alias("anc"), F.col("parent").alias("anc_next")
    ).localCheckpoint()
    for _ in range(6):
        cur = (
            cur.join(hop, "anc", "left")
            .select(
                "node",
                F.coalesce("anc_next", F.col("anc")).alias("anc"),
                (
                    F.col("depth")
                    + F.when(
                        F.col("anc") >= 10, 1  # another real hop was taken
                    ).otherwise(0)
                ).alias("depth"),
            )
        )
    return (
        cur.groupBy(F.col("anc").alias("root"), "depth")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
    )


@register(
    "sql_script_replay",
    """
    SELECT 'RANGE quantity' AS check_name,
           CAST((SELECT count(*) FROM lineitem
                 WHERE l_quantity <= 0 OR l_quantity > 60) AS BIGINT)
               AS violations
    UNION ALL
    SELECT 'PK CHECK orders',
           CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
                AS BIGINT)
    UNION ALL
    SELECT 'COUNT lineitem',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT)
    ORDER BY check_name
    """,
    sort=("check_name",),
    doc="The S7 lenient SQL-script runner (sql_script.py — the engine "
    "that executes the reference's validation.sql with SET-variable "
    "substitution, comment stripping, and per-statement failure "
    "tolerance) under the HARD oracle: a 5-statement script (a SET "
    "bound, one deliberately-broken statement that the lenient path "
    "must swallow, and three check SELECTs using the substituted "
    "variable) runs over temp views of the testdata, and the collected "
    "check rows are the query result. The oracle restates the three "
    "checks directly — proving the runner executed every valid "
    "statement, applied the @max_qty substitution, and dropped only "
    "the broken one. Collected rows are answer-sized (3) — the bounded-"
    "collect policy.",
)
def sql_script_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.sql_script import run_sql_script

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    script = """
    -- validation-corpus-style script with a SET bound and a broken stmt
    SET @max_qty = 60;
    SELECT 'RANGE quantity' AS check_name,
           CAST(sum(CASE WHEN l_quantity <= 0 OR l_quantity > @max_qty
                         THEN 1 ELSE 0 END) AS BIGINT) AS violations
    FROM v_lineitem;
    SELECT broken syntax that the lenient runner must swallow;
    SELECT 'PK CHECK orders' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
    FROM v_orders;
    SELECT 'COUNT lineitem' AS check_name,
           CAST(count(*) AS BIGINT) AS violations
    FROM v_lineitem;
    """
    rows: list[tuple[str, int]] = []
    run_sql_script(
        spark,
        script,
        process_row=lambda r: rows.append(
            (str(r["check_name"]), int(r["violations"]))
        ),
    )
    return spark.createDataFrame(
        rows, "check_name string, violations long"
    )


@register(
    "csv_roundtrip_scan",
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)
                     AS DECIMAL(18,2)) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    sort=("c_mktsegment",),
    doc="The CSV source path (SURVEY §2.1 S1/S2 — the reference ingests "
    "everything as CSV) under the HARD oracle: write the customer table "
    "to headered CSV, re-read it with a DECLARED schema (never "
    "inferSchema — inference double-reads and type-guesses; the "
    "declared-schema read is what sources/fitness.py does for the "
    "warehouse inputs), and aggregate the ROUND-TRIPPED rows; the "
    "oracle aggregates the original parquet. Equality proves the CSV "
    "writer/parser preserves longs, doubles (shortest-roundtrip "
    "formatting), and strings exactly. Money goes through DECIMAL (F7 "
    "parity rule); the scratch dir is per-SF under /tmp.",
)
def csv_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = scratch_path(spark, tag, "csv_customer")
    cust = load_table(spark, sf_dir, "customer")
    cust.write.mode("overwrite").option("header", "true").csv(path)
    back = (
        spark.read.schema(
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string"
        )
        .option("header", "true")
        .csv(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")), 2)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_balance"),
        )
    )


@register(
    "jsonl_roundtrip_scan",
    """
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(md5(text) >= 'a' AS INTEGER)) AS BIGINT)
             AS text_checksum
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    sort=("lang", "source"),
    doc="The JSONL connector (sources/formats.py — the interchange format "
    "external corpora arrive in) under the HARD oracle, the "
    "csv_roundtrip_scan twin: write documents to line-delimited JSON, "
    "re-read with a DECLARED schema (never inference), and aggregate "
    "the round-tripped rows; the oracle aggregates the original "
    "parquet. The md5-based text checksum proves JSON string escaping "
    "round-trips document text byte-exactly, not just row counts.",
)
def jsonl_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.sources.formats import (
        read_jsonl,
        write_jsonl,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = scratch_path(spark, tag, "jsonl_documents")
    docs = load_table(spark, sf_dir, "documents")
    write_jsonl(docs, path)
    back = read_jsonl(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum((F.md5("text") >= "a").cast("int")).cast("long").alias("text_checksum"),
    )


@register(
    "orc_roundtrip_scan",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                     AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    sort=("o_orderpriority",),
    doc="The ORC connector under the HARD oracle, completing the "
    "CSV/JSONL/ORC round-trip trio: write orders to ORC, re-read, and "
    "aggregate the round-tripped rows against the original parquet. "
    "Proves the columnar sink preserves longs, doubles, timestamps and "
    "strings bit-exactly (money through DECIMAL per the F7 parity "
    "rule). ORC keeps the same pushdown/pruning story as parquet — "
    "the choice is downstream-consumer compatibility, not capability.",
)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.sources.formats import read_orc, write_orc

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = scratch_path(spark, tag, "orc_orders")
    write_orc(load_table(spark, sf_dir, "orders"), path)
    back = read_orc(spark, path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("total_price"),
    )


@register(
    "variant_props_profile",
    r"""
    WITH p AS (
      SELECT event_type,
             CASE WHEN json_valid(props)
                  THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
    FROM p GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Schemaless properties-bag profiling via Spark 4's VARIANT type: "
    "parse_json encodes each props blob ONCE into the binary variant "
    "encoding, then try_variant_get extracts a typed path — the "
    "schema-on-read path for evolving event properties, versus "
    "json_props_parse's fixed from_json schema (which breaks when "
    "producers add fields). At 100 TB the parse-once encoding beats "
    "re-tokenizing the JSON string per extracted path, and malformed "
    "blobs degrade to NULL (try_parse_json + try_variant_get, lenient "
    "end-to-end) instead of failing the scan. The oracle states the "
    "same extraction with DuckDB's json_extract behind a json_valid "
    "guard (its json_extract is strict).",
)
def variant_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json, not parse_json: strict parse_json
    # throws on a malformed blob and fails the whole scan, while the
    # doc promises try_ semantics end-to-end. The oracle mirrors the
    # leniency with a json_valid guard (DuckDB's json_extract is
    # strict and would likewise fail the whole query).
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count("k").cast("long").alias("n_with_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").cast("long").alias("n_distinct_k"),
        )
    )


@register(
    "avro_roundtrip_scan",
    """
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(CAST(md5(text) >= 'a' AS INTEGER)) AS BIGINT)
             AS text_checksum
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
    sort=("lang", "source"),
    doc="The NATIVE Avro connector (sources/avro.py — container format "
    "implemented from the public Avro 1.11 spec, since this Spark "
    "ships avro-core jars but not the spark-avro SQL module) under the "
    "HARD oracle, completing the CSV/JSONL/ORC/Avro round-trip "
    "quartet: documents are encoded executor-side one container file "
    "per partition (zigzag varints over plain Row objects — nullable "
    "longs never pass through a float-coercing frame), re-read by "
    "sources/avro.py::read_avro (one byte-range split per small file, "
    "blocks decoded in an Arrow-batched mapInPandas) with a "
    "DECLARED schema, and aggregated; the oracle aggregates the "
    "original parquet. The md5 text checksum proves utf-8 string "
    "encoding round-trips byte-exactly through the binary format.",
)
def avro_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.sources.avro import (
        read_avro,
        write_avro,
    )

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = scratch_path(spark, tag, "avro_documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    write_avro(docs, path)
    back = read_avro(
        spark,
        path,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum((F.md5("text") >= "a").cast("int"))
        .cast("long")
        .alias("text_checksum"),
    )


@register(
    "avro_split_scan",
    """
    SELECT lang,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    sort=("lang",),
    doc="The BLOCK-SPLITTING Avro reader (sources/avro.py::"
    "read_avro) under the hard oracle: "
    "documents are encoded into ONE multi-block container file "
    "(256-row blocks), which the reader splits into 64 KiB byte-range "
    "tasks via the 16-byte sync marker — the Hadoop input-split "
    "ownership rule (a task owns blocks that START in its range), so "
    "one large file reads with many tasks where the default 32 MiB "
    "split would use one. The aggregate over the re-read rows "
    "hash-matches the original parquet, proving every block is decoded "
    "exactly once across split boundaries.",
)
def avro_split_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.sources.avro import (
        read_avro,
        write_avro,
    )

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = scratch_path(spark, tag, "avro_split_documents")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    ).coalesce(1)
    write_avro(docs, path, rows_per_block=256)
    back = read_avro(
        spark, path, "doc_id long, lang string, n_chars long",
        split_bytes=64 << 10,
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
