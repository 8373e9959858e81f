"""TPC-H wave 3: Q7, Q8, Q10, Q15, Q19 — completing every TPC-H query the
slimmed schema can express (no partsupp table → Q2/Q9/Q11/Q20 out of
scope; no l_shipmode/commitdate/receiptdate → Q12/Q21 out; Q19 keeps its
disjunctive-predicate shape on the columns that exist).

Money math and top-k ranking follow the engine's decimal-rounding
portability rule (rank on rounded values, id tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(extract(year FROM l.l_shipdate) AS INT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 (volume shipping): bidirectional nation-pair trade flow. "
    "Both nation dims broadcast pre-filtered to the two names, so the "
    "disjunctive pair predicate prunes at the joins; lineitem shuffles "
    "only for the final 3-key rollup.",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    nations = ("NATION_1", "NATION_2")
    n1 = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(*nations))
    n2 = n1.select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("n2_name")
    )
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.n_nationkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_nationkey"))
        .where(F.col("n_name") != F.col("n2_name"))
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.col("n2_name").alias("cust_nation"),
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
                 / sum(volume), 4) AS mkt_share
    FROM (
      SELECT CAST(extract(year FROM o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8 (national market share): the 8-table snowflake with a "
    "conditional-share aggregate. Every dim broadcast; the customer-side "
    "region filter and supplier-side nation attribution ride separate "
    "nation joins.",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2)
               AS revenue,
           round(CAST(c.c_acctbal AS DOUBLE), 2) AS c_acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned items): lost-revenue top-k per customer over "
    "one quarter of returns. Returnflag + date predicates push to the "
    "scans; nation broadcast (customer scales with SF — join strategy "
    "left to AQE); rank on rounded revenue with custkey tie-break for "
    "engine portability.",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round(F.col("c_acctbal").cast("double"), 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
                 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    doc="TPC-H Q15 (top supplier): quarterly revenue rollup, then the "
    "argmax via a broadcast single-row max join (the view + subquery of "
    "the original); the ~1-row argmax survivor set is then broadcast "
    "against supplier (broadcasting supplier itself would pin a scaling "
    "table — the r5 wrong-side finding). Comparing on the ROUNDED "
    "revenue keeps the argmax engine-portable.",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("_mx"))
    s = load_table(spark, sf_dir, "supplier")
    # the argmax survivor set (revenue ⋈ 1-row max) is ~1 row — THAT is
    # the broadcast side; supplier scales with SF and joins in place
    top = revenue.join(F.broadcast(mx), F.col("total_revenue") == F.col("_mx"))
    return (
        s.join(F.broadcast(top), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q19_discounted_revenue",
    """
    SELECT round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2)
               AS revenue,
           count(*) AS n_rows
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 (discounted revenue, adapted to the slimmed part "
    "schema: brand/size/quantity keep the disjunctive-predicate shape; "
    "no p_container/l_shipmode columns exist). Part scales with SF so "
    "its join strategy is AQE's runtime call; the OR-of-ANDs evaluates "
    "post-join inside codegen while each side's range predicates still "
    "prune its scan.",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
