"""TPC-H-shaped benchmark queries on the synthetic star schema (the
tables mirror TPC-H, minus a few columns): all 22 TPC-H query shapes,
included so the engine's plans can be judged against universally known
baselines.

Adaptations to the reduced schema (no ``partsupp`` table, no
shipmode/commitdate/receiptdate, no phone): predicates use the columns
that exist, and each query keeps the original's join topology, plan
shape and classic bottleneck (correlated min, nested aggregation
thresholds, multi-way existence tests) re-keyed onto available columns.
Money math follows the engine's decimal-rounding portability rule; top-k
ranks on rounded values with id tie-breaks, and every comparison against
a derived threshold is done on ROUNDED values on both engines so no
boundary row can flip on last-ulp float drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    sort=("l_returnflag", "l_linestatus"),
    doc="TPC-H Q1 (pricing summary): the scan-bound wide aggregate — one "
    "pass, map-side partials, tiny result. The whole-stage-codegen "
    "throughput benchmark.",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 (shipping priority): selective dim filter → fact joins → "
    "grouped top-k. No forced broadcast on customer — it scales with the "
    "data (150k x SF), so the join strategy is left to AQE, which "
    "broadcasts the filtered side when its runtime size is under the "
    "threshold and falls back to a shuffle join when it is not; a "
    "hard-pinned hint would force a GB-scale broadcast (and an OOM) at "
    "100x. Lineitem shuffles only for the final group.",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1998-03-15")
    # No hash repartition on the lineitem side: an interleaved A/B (same
    # session, 7 reps) read the plain scan faster (med 0.81 s vs 0.897 s).
    # At cluster scale the multi-file lineitem scan is parallel without it.
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_volume",
    """
    SELECT n.n_name,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
    doc="TPC-H Q5 (local supplier volume): the snowflake join chain with "
    "the same-nation theta condition folded into the supplier equi-join — "
    "the join-order/broadcast stress test. Broadcast hints only on "
    "nation/region (fixed 25/5 rows); customer and supplier scale with "
    "SF, so their join strategy is AQE's runtime-size call.",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"))
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecast revenue change): the pure pushdown benchmark — "
    "every predicate reaches the parquet scan, no shuffle at all before "
    "the single-row aggregate.",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Q4, Q13, Q14, Q16, Q17, Q18, Q22: EXISTS semi-join (Q4), outer-join
# count histogram (Q13), promo revenue share (Q14), NOT-IN anti-join +
# distinct count (Q16), correlated per-group average (Q17), group-HAVING
# subquery join-back (Q18), scalar-subquery threshold + windowed anti-join
# (Q22). Every synthetic customer has orders, so Q22's "never ordered"
# becomes "no orders since 1999" — same anti-join plan.
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# Q7, Q8, Q10, Q15, Q19 (Q19 keeps its disjunctive-predicate shape on the
# columns that exist)
# ---------------------------------------------------------------------------


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
    "table). Comparing on the ROUNDED "
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


# ---------------------------------------------------------------------------
# Q2, Q9, Q11, Q12, Q20, Q21, re-keyed onto the available columns:
# - supply cost      → per-(part, supplier) average unit sale price from
#                      lineitem (l_extendedprice / l_quantity)
# - stock value      → shipped value sum(l_extendedprice * l_quantity)
# - late shipment    → l_shipdate more than N days after o_orderdate
# - EXISTS/NOT EXISTS self-joins (Q21) → per-order supplier/late counts,
#   the aggregation formulation that scales (one shuffle instead of two
#   fact self-joins)
# ---------------------------------------------------------------------------


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
