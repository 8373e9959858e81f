"""TPC-H wave 4 — the six remaining query SHAPES (Q2, Q9, Q11, Q12, Q20,
Q21), completing 22/22 TPC-H coverage.

The synthetic testdata has no ``partsupp`` table and no
shipmode/commitdate/receiptdate columns, so — like the earlier "Q4
shape" / "Q16 shape" adaptations — each query keeps the ORIGINAL's plan
shape (correlated min, nested aggregation thresholds, multi-way
existence tests) re-keyed onto the available columns:

- supply cost      → per-(part, supplier) average unit sale price from
                     lineitem (l_extendedprice / l_quantity)
- stock value      → shipped value sum(l_extendedprice * l_quantity)
- late shipment    → l_shipdate more than N days after o_orderdate
- EXISTS/NOT EXISTS self-joins (Q21) → per-order supplier/late counts,
  the aggregation formulation that scales (one shuffle instead of two
  fact self-joins)

Every comparison against a derived threshold is done on ROUNDED values
on both engines so no boundary row can flip on last-ulp float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             CAST((sp * 20000 + sq) // (2 * sq) AS DOUBLE) / 10000
                 AS unit_cost
      FROM (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) * 100
                    AS BIGINT) AS sp,
               CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) * 100
                    AS BIGINT) AS sq
        FROM lineitem GROUP BY l_partkey, l_suppkey
      )
    ),
    sup AS (
      SELECT s.s_suppkey, s.s_name, round(s.s_acctbal, 2) AS s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name IN ('EUROPE', 'ASIA')
    ),
    ranked AS (
      SELECT p.p_partkey, u.s_name, u.n_name, u.s_acctbal, c.unit_cost,
             row_number() OVER (PARTITION BY p.p_partkey
                                ORDER BY c.unit_cost, c.l_suppkey) AS rn
      FROM part p
      JOIN cost c ON c.l_partkey = p.p_partkey
      JOIN sup u ON u.s_suppkey = c.l_suppkey
      WHERE p.p_size <= 5 AND p.p_type = 'LARGE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, unit_cost
    FROM ranked WHERE rn = 1
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
    sort=(),  # builder ends in the Q2-spec ORDER BY itself
    doc="TPC-H Q2 shape (minimum-cost supplier): for each qualifying part, "
    "the region-restricted supplier offering the lowest average unit sale "
    "price. The original's correlated MIN(ps_supplycost) subquery becomes "
    "a per-part argmin window over the (part, supplier) cost aggregate — "
    "partitioned by part, never a global sort. Supplier/nation/region "
    "dims broadcast. Unit cost is volume-weighted (sum price / sum qty), "
    "and the 4dp rounding is EXACT INTEGER HALF-UP over cents-scaled "
    "DECIMAL sums: floor((sp*2e4 + sq) / (2*sq)) / 1e4. Neither plain "
    "double rounding (engines disagree when the quotient lands on a "
    "half boundary — Spark rounds the shortest decimal repr, DuckDB the "
    "binary value: 583.43/8 → 72.9288 vs 72.9287) nor DECIMAL division "
    "(DuckDB computes it in double) is portable; integer arithmetic is, "
    "and the argmin must see the identical cost to pick the identical "
    "winner.",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cost = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(14,2)")) * 100)
            .cast("long")
            .alias("sp"),
            (F.sum(F.col("l_quantity").cast("decimal(8,2)")) * 100)
            .cast("long")
            .alias("sq"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            (
                F.expr("CAST((sp * 20000 + sq) DIV (2 * sq) AS DOUBLE)") / 10000
            ).alias("unit_cost"),
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name").isin("EUROPE", "ASIA"))
    sup = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"), "n_name"
        )
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 5) & (F.col("p_type") == "LARGE")
    )
    w = W.partitionBy("p_partkey").orderBy("unit_cost", "l_suppkey")
    ranked = (
        cost.join(p.select("p_partkey"), cost.l_partkey == F.col("p_partkey"))
        .join(sup, cost.l_suppkey == sup.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        ranked.where(F.col("rn") == 1)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)
                          - 0.1 * p.p_retailprice * l.l_quantity) AS DOUBLE), 2)
               AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE 'red%'
    GROUP BY n.n_name, year(o.o_orderdate)
    ORDER BY nation, o_year DESC
    """,
    sort=(),  # builder ends in the Q9-spec ORDER BY itself
    doc="TPC-H Q9 shape (product-type profit by nation and year): revenue "
    "minus a cost proxy (10% of retail price per unit — the testdata has "
    "no partsupp.ps_supplycost). Part filter pushes to its scan; part / "
    "supplier / nation broadcast; the only fact-fact join is "
    "lineitem⋈orders on the order key, then one rollup shuffle on "
    "(nation, year) — the Q9 plan with the snowflake arms collapsed "
    "into broadcasts.",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(p.select("p_partkey", "p_retailprice"), li.l_partkey == p.p_partkey)
        .join(s.select("s_suppkey", "s_nationkey"), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name")), s.s_nationkey == n.n_nationkey)
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "tpch_q11_important_stock",
    """
    WITH v AS (
      SELECT l.l_partkey, sum(l.l_extendedprice * l.l_quantity) AS raw_value
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT sum(raw_value) AS total_value, count(*) AS n_parts FROM v)
    SELECT l_partkey, round(CAST(raw_value AS DOUBLE), 2) AS part_value
    FROM v, tot
    WHERE round(CAST(raw_value AS DOUBLE), 2)
          > round(CAST(3.0 * total_value / n_parts AS DOUBLE), 2)
    ORDER BY part_value DESC, l_partkey
    """,
    sort=(),  # builder ends in the Q11-spec ORDER BY itself
    doc="TPC-H Q11 shape (important stock identification): per-part "
    "shipped value for two nations' suppliers, keeping parts above 3× "
    "the MEAN part value. The original's scalar HAVING subquery is a "
    "1-row aggregate broadcast back onto the per-part values; the "
    "threshold is relative (original's fixed 0.0001 fraction empties at "
    "growing part counts — mean-relative stays selective-but-nonempty "
    "at any scale factor), and both compare sides are rounded to 2dp so "
    "no boundary part flips on float drift. One shuffle on l_partkey; "
    "nation broadcast, supplier left to AQE (it scales with SF).",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    v = (
        li.join(s.select("s_suppkey", "s_nationkey"), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.select("n_nationkey")), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("raw_value"))
    )
    tot = v.agg(
        F.sum("raw_value").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .where(
            F.round(F.col("raw_value"), 2)
            > F.round(3.0 * F.col("total_value") / F.col("n_parts"), 2)
        )
        .select("l_partkey", F.round("raw_value", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "tpch_q12_late_shipments",
    """
    SELECT o.o_orderpriority,
           CAST(sum(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                        CAST(l.l_shipdate AS DATE)) > 60
                    THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
           count(*) AS total_lines,
           round(avg(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                         CAST(l.l_shipdate AS DATE)) > 60
                     THEN 1.0 ELSE 0.0 END), 4) AS late_rate
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    sort=(),  # builder ends in the Q12-spec ORDER BY itself
    doc="TPC-H Q12 shape (shipping-mode / priority service levels): "
    "conditional counts of late line shipments (> 60 days after order "
    "date — the testdata has no shipmode or receiptdate) per order "
    "priority class. One fact-fact equi-join on the order key feeding "
    "conditional aggregates — the Q12 plan with the CASE moved from "
    "shipmode to lateness.",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = (
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 60
    )
    return (
        o.select("o_orderkey", "o_orderdate", "o_orderpriority")
        .join(li.select("l_orderkey", "l_shipdate"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("late_lines"),
            F.count(F.lit(1)).alias("total_lines"),
            F.round(F.avg(F.when(late, 1.0).otherwise(0.0)), 4).alias("late_rate"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q20_dominant_suppliers",
    """
    WITH per AS (
      SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small%'
      GROUP BY l.l_partkey, l.l_suppkey
    ),
    tot AS (
      SELECT l_partkey, sum(qty) AS part_qty, count(*) AS n_supps
      FROM per GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name, n.n_name,
           count(*) AS n_dominated_parts
    FROM per
    JOIN tot USING (l_partkey)
    JOIN supplier s ON s.s_suppkey = per.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE round(qty / part_qty, 6) > round(2.5 / n_supps, 6)
    GROUP BY s.s_suppkey, s.s_name, n.n_name
    ORDER BY s_suppkey
    """,
    sort=(),  # builder ends in the Q20-spec ORDER BY itself
    doc="TPC-H Q20 shape (suppliers with excess share): suppliers whose "
    "shipped volume of a filtered part exceeds 2.5× their fair share "
    "(2.5/n_suppliers of that part's total) — the original's "
    "ps_availqty > 0.5*sum(l_quantity) nested-subquery chain as a "
    "two-level aggregation (per (part,supplier) then per part) joined "
    "back. The threshold is RELATIVE so the query stays selective-but-"
    "nonempty at any scale factor; both compare sides are 6dp-rounded so "
    "no boundary pair flips on float drift. The part filter joins the "
    "fact under AQE's runtime-size call (part scales with SF); one "
    "shuffle on l_partkey.",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    per = (
        li.join(p.select("p_partkey"), li.l_partkey == p.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    tot = per.groupBy("l_partkey").agg(
        F.sum("qty").alias("part_qty"), F.count(F.lit(1)).alias("n_supps")
    )
    return (
        per.join(tot, "l_partkey")
        .where(
            F.round(F.col("qty") / F.col("part_qty"), 6)
            > F.round(2.5 / F.col("n_supps"), 6)
        )
        .join(s.select("s_suppkey", "s_name", "s_nationkey"),
              per.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.select("n_nationkey", "n_name")),
              s.s_nationkey == n.n_nationkey)
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q21_waiting_suppliers",
    """
    WITH l AS (
      SELECT l.l_orderkey, l.l_suppkey,
             max(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                     CAST(l.l_shipdate AS DATE)) > 90
                 THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    ),
    per_order AS (
      SELECT l_orderkey, count(*) AS n_supps, sum(is_late) AS n_late
      FROM l GROUP BY l_orderkey
    )
    SELECT s.s_name, count(*) AS numwait
    FROM l
    JOIN per_order USING (l_orderkey)
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.is_late = 1 AND per_order.n_supps > 1 AND per_order.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    sort=(),  # builder ends in the Q21-spec ORDER BY + LIMIT itself
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): count, per "
    "supplier, finished multi-supplier orders where THAT supplier was the "
    "only late one. The original's EXISTS / NOT EXISTS double lineitem "
    "self-join becomes per-(order, supplier) and per-order lateness "
    "counts — n_supps > 1 encodes EXISTS(other supplier), n_late = 1 "
    "encodes NOT EXISTS(other late supplier) — one aggregation pyramid "
    "on the order key instead of two fact-sized join probes, the "
    "formulation that survives 100 TB.",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    is_late = F.max(
        F.when(
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 90, 1
        ).otherwise(0)
    )
    per_pair = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(is_late.alias("is_late"))
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"), F.sum("is_late").alias("n_late")
    )
    return (
        per_pair.join(per_order, "l_orderkey")
        .where((F.col("is_late") == 1) & (F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(s.select("s_suppkey", "s_name"),
              per_pair.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )
