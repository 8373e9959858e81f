"""Relational operator inventory (SURVEY.md §2.1-2.6) expressed over the
synthetic testdata, one registered query per operator family, each paired
with a DuckDB oracle.

Design rules applied throughout (100 TB posture):
- filters/projections first so Catalyst pushes them into the parquet scan;
- joins to small dimensions are explicit ``broadcast()`` — no shuffle of
  the fact side for them;
- double-typed aggregates are rounded (2-4 dp) so partial-aggregation
  order cannot flip the last ULP vs the oracle;
- every computed column is aliased identically in Spark and oracle SQL.

Reference citations in each docstring point at the behavior being
re-expressed (file:line into /root/reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
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
