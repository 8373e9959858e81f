"""TPC-H-shaped queries, wave 2: the plan shapes wave 1 (Q1/Q3/Q5/Q6)
does not cover — EXISTS semi-join (Q4), outer-join count histogram
(Q13), promo revenue share (Q14), NOT-IN anti-join + distinct count
(Q16), correlated per-group average (Q17), group-HAVING subquery
join-back (Q18), scalar-subquery threshold + windowed anti-join (Q22).

Adaptations to the reduced synthetic schema (no partsupp, no
commit/receipt dates, no phone): each keeps the original query's join
topology and physical bottleneck, substituting columns that exist.
Every customer in the synthetic data has orders, so Q22's "never
ordered" becomes "no orders since 1999" — same anti-join plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "tpch_q4_priority_exists",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    sort=("o_orderpriority",),
    doc="TPC-H Q4 shape (order priority checking): EXISTS decorrelates to "
    "a LEFT SEMI join — lineitem is pre-filtered and deduplicated by the "
    "semi join itself, never widening the orders side.",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    returned = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q13_custdist",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY c_count
    """,
    sort=("c_count",),
    doc="TPC-H Q13 (customer order distribution): LEFT OUTER join with a "
    "join-side predicate, double aggregation. The outer join preserves "
    "zero-order customers (count(o_orderkey) ignores the NULLs the outer "
    "join manufactures); second agg is a tiny histogram.",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left",
        )
        .groupBy(c.c_custkey)
        .agg(F.count(o.o_orderkey).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "tpch_q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN l.l_extendedprice * (1 - l.l_discount)
                                  ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-04-01'
    """,
    doc="TPC-H Q14 (promotion effect): fact-dim join feeding a conditional "
    "aggregate ratio. Part scales with SF (200k x SF), so no forced "
    "broadcast — AQE broadcasts it while small and shuffles at scale. "
    "The date filter is pushed to the lineitem scan so only one quarter "
    "is read.",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q16_supplier_cnt",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#2'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY p_brand, p_type, p_size
    """,
    sort=("p_brand", "p_type", "p_size"),
    doc="TPC-H Q16 shape (supplier relationship count): NOT IN over a "
    "non-null key column is a LEFT ANTI join; then a distinct count per "
    "part group. lineitem stands in for partsupp, negative account "
    "balance for the complaints predicate. The blacklist and the "
    "filtered part table are SUBSETS of scaling tables, so neither is "
    "hint-broadcast — their runtime size is AQE's call.",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#2")
        & (F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25))
    )
    bad = load_table(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_qty_revenue",
    """
    SELECT round(CAST(sum(l.l_extendedprice) AS DOUBLE) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = l.l_partkey)
    """,
    doc="TPC-H Q17 (small-quantity-order revenue): correlated scalar "
    "average decorrelated into a per-part aggregate joined back to the "
    "fact — one shuffle on l_partkey feeds both the aggregate and the "
    "re-join; the brand filter broadcasts.",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    part_avg = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_threshold")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(part_avg.withColumnRenamed("l_partkey", "pa_partkey"),
              F.col("l_partkey") == F.col("pa_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "tpch_q18_large_volume",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_totalprice,
           round(CAST(sum(l.l_quantity) AS DOUBLE), 2) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 (large-volume customer): IN over a grouped-HAVING "
    "subquery becomes an aggregate → semi join back onto the same table. "
    "The lineitem aggregate and the re-join share the l_orderkey "
    "partitioning, so AQE reuses the exchange rather than shuffling twice.",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "big_orderkey"),
                li.l_orderkey == F.col("big_orderkey"), "left_semi")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@register(
    "tpch_q22_dormant_capital",
    """
    SELECT c.c_nationkey, count(*) AS numcust,
           round(CAST(sum(c.c_acctbal) AS DOUBLE), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c_nationkey
    """,
    sort=("c_nationkey",),
    doc="TPC-H Q22 shape (dormant high-balance capital): scalar-subquery "
    "threshold (a 1-row broadcast) + NOT EXISTS as LEFT ANTI join against "
    "recent orders, then a small nation-level aggregate. 'Never ordered' "
    "from the original becomes 'no orders since 1999' because every "
    "synthetic customer has at least one order.",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") >= "1999-01-01")
    threshold = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.join(F.broadcast(threshold))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )
