"""Approximate-aggregation (sketch) queries with oracle-checkable
contracts.

A sketch's raw output is engine-specific (Spark HLL++ and DuckDB's HLL
give different estimates), so it can never hash-match an oracle. What
IS portable is the sketch's error contract: each engine compares its own
estimate against its own exact value and emits (exact, within-tolerance
flag). Both engines must produce the same exact values and all-true
flags — which verifies the sketch machinery end-to-end without demanding
bit-equal estimates.

At 100 TB the sketches are the queryable path (one pass, O(1) state per
group, mergeable across partitions); the exact side of the contract is
what validation continues to use (SURVEY A5: exact, never approx).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "approx_distinct_contract",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           CASE WHEN abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
                         - count(DISTINCT user_id))
                     <= 0.05 * count(DISTINCT user_id)
                THEN 1 ELSE 0 END AS approx_within_5pct
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="HyperLogLog++ distinct-count contract: per group, the sketch "
    "estimate must land within 5% of the exact count (rsd=0.02 → ~2.5σ). "
    "The estimate itself is engine-specific; the exact count and the "
    "contract flag are what hash-match. One pass, mergeable sketch state.",
)
def approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = F.count_distinct("user_id")
    approx = F.approx_count_distinct("user_id", 0.02)
    return ev.groupBy("event_type").agg(
        exact.alias("n_exact"),
        F.when(
            F.abs(approx.cast("double") - exact) <= 0.05 * exact, 1
        ).otherwise(0).alias("approx_within_5pct"),
    )


@register(
    "approx_quantile_contract",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_median,
           CASE WHEN abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
                     <= 0.05 * (quantile_cont(value, 0.99) - quantile_cont(value, 0.01))
                THEN 1 ELSE 0 END AS approx_within_tolerance
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Quantile-sketch contract: the one-pass approximate median must "
    "land within 5% of the (p99−p1) spread of the exact interpolated "
    "median. Exact median + flag hash-match; the sketch value is "
    "engine-specific by design.",
)
def approx_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact_med = F.expr("percentile(value, 0.5)")
    spread = F.expr("percentile(value, 0.99)") - F.expr("percentile(value, 0.01)")
    approx_med = F.percentile_approx("value", F.lit(0.5), F.lit(10000))
    return ev.groupBy("event_type").agg(
        F.round(exact_med, 4).alias("exact_median"),
        F.when(F.abs(approx_med - exact_med) <= 0.05 * spread, 1)
        .otherwise(0)
        .alias("approx_within_tolerance"),
    )


@register(
    "heavy_hitters_verified",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n_rows) AS total FROM per_key)
    SELECT p.user_id, p.n_rows,
           round(CAST(p.n_rows AS DOUBLE) / t.total, 6) AS row_share
    FROM per_key p CROSS JOIN tot t
    WHERE p.n_rows * 128 > t.total
    ORDER BY p.n_rows DESC, p.user_id
    """,
    doc="Sketch-then-verify heavy hitters (phi = 1/128): a per-partition "
    "Misra-Gries pass (capacity 256, <= 256 candidate rows per partition "
    "cross the shuffle) yields a guaranteed SUPERSET of the true heavy "
    "keys; exact counting then runs only on the candidate set via a "
    "broadcast semi-join, and the phi filter discards false candidates. "
    "The emitted set is exactly {key : freq * 128 > N} — deterministic "
    "and partition-order independent even though the intermediate "
    "candidate set is not. This is the 100 TB shape: the full-cardinality "
    "groupBy is replaced by O(partitions * capacity) sketch state plus an "
    "exact pass over a vanishingly small filtered subset.",
)
def heavy_hitters_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.sketches import (
        misra_gries_candidates,
    )

    ev = load_table(spark, sf_dir, "events")
    cand = misra_gries_candidates(ev, "user_id", capacity=256)
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    return (
        ev.join(F.broadcast(cand), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .where(F.col("n_rows") * 128 > F.col("total"))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("total"), 6).alias(
                "row_share"
            ),
        )
        .orderBy(F.desc("n_rows"), "user_id")
    )


@register(
    "countmin_contract",
    """
    WITH d3 AS (SELECT * FROM (VALUES (0), (1), (2)) AS v(d)),
    cells AS (
      SELECT d,
             CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '|' ||
                                      CAST(user_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 256 AS bucket,
             count(*) AS cell_cnt
      FROM events CROSS JOIN d3
      GROUP BY 1, 2
    ),
    ex AS (SELECT user_id, count(*) AS exact_cnt FROM events GROUP BY user_id),
    kb AS (
      SELECT e.user_id, v.d,
             CAST(('0x' || substr(md5(CAST(v.d AS VARCHAR) || '|' ||
                                      CAST(e.user_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 256 AS bucket
      FROM ex e CROSS JOIN d3 v
    ),
    est AS (
      SELECT kb.user_id, CAST(min(c.cell_cnt) AS BIGINT) AS est_cnt
      FROM kb JOIN cells c USING (d, bucket)
      GROUP BY kb.user_id
    )
    SELECT count(*) AS n_keys,
           CAST(sum(CASE WHEN est_cnt > exact_cnt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overestimated,
           CAST(sum(CASE WHEN est_cnt < exact_cnt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_underestimated,
           CAST(max(est_cnt - exact_cnt) AS BIGINT) AS max_abs_err,
           CAST(CAST(round(avg(1.0 * (est_cnt - exact_cnt) / exact_cnt), 6)
                     AS DECIMAL(18, 6)) AS DOUBLE) AS avg_rel_err
    FROM est JOIN ex USING (user_id)
    """,
    sort=("n_keys",),
    doc="Count-Min sketch with its error contract, both engines building "
    "the SAME deterministic sketch (md5 row hashes, d=3 x w=256): "
    "per-key estimate = min over rows of the key's cell count. The "
    "registered result proves the two structural guarantees — "
    "n_underestimated MUST be 0 (CM never undercounts) and the "
    "overestimate mass is measured, not assumed. One corpus scan "
    "(the depth dimension is a 3-element explode, map-side), cell "
    "grid is d*w rows, per-key probe joins the DISTINCT key set "
    "against the tiny grid. Unlike the HLL contract above, the md5 "
    "sketch is bit-identical cross-engine, so the driver hash covers "
    "the estimates themselves.",
)
def countmin_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d3 = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("d")

    def bucket(d_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", d_col.cast("string"), key_col.cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 256
        )

    rows = ev.select("user_id", d3)
    cells = (
        rows.select("d", bucket(F.col("d"), F.col("user_id")).alias("bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cell_cnt"))
    )
    # pinned: ex feeds both the probe build (kb) and the final error
    # join — unpinned, the plan re-derives it from a third corpus scan
    # (tools/audit_scans.py); key-cardinality-sized
    ex = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint()
    )
    kb = ex.select("user_id", d3).select(
        "user_id", "d", bucket(F.col("d"), F.col("user_id")).alias("bucket")
    )
    est = (
        kb.join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cell_cnt").cast("long").alias("est_cnt"))
    )
    err = F.col("est_cnt") - F.col("exact_cnt")
    return est.join(ex, "user_id").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(err > 0, 1).otherwise(0)).cast("long").alias("n_overestimated"),
        F.sum(F.when(err < 0, 1).otherwise(0)).cast("long").alias("n_underestimated"),
        F.max(err).cast("long").alias("max_abs_err"),
        F.round(F.avg(F.lit(1.0) * err / F.col("exact_cnt")), 6)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("avg_rel_err"),
    )


@register(
    "bloom_membership_contract",
    """
    WITH d3 AS (SELECT * FROM (VALUES (0), (1), (2)) AS v(d)),
    bits AS (
      SELECT DISTINCT d,
             CAST(('0x' || substr(md5(CAST(d AS VARCHAR) || '|' ||
                                      CAST(o_custkey AS VARCHAR)), 1, 6))
                  AS BIGINT) % 4096 AS bit_pos
      FROM orders CROSS JOIN d3
    ),
    pk AS (
      SELECT c_custkey AS key FROM customer
      UNION ALL
      SELECT c_custkey + 10000000 FROM customer
    ),
    truth AS (
      SELECT pk.key AS c_custkey,
             CASE WHEN o.o_custkey IS NULL THEN 0 ELSE 1 END AS present
      FROM pk
      LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
        ON o.o_custkey = pk.key
    ),
    probe AS (
      SELECT t.c_custkey, t.present, v.d,
             CAST(('0x' || substr(md5(CAST(v.d AS VARCHAR) || '|' ||
                                      CAST(t.c_custkey AS VARCHAR)), 1, 6))
                  AS BIGINT) % 4096 AS bit_pos
      FROM truth t CROSS JOIN d3 v
    ),
    hits AS (
      SELECT p.c_custkey, p.present,
             CAST(count(b.d) AS BIGINT) AS n_set
      FROM probe p
      LEFT JOIN bits b ON b.d = p.d AND b.bit_pos = p.bit_pos
      GROUP BY 1, 2
    )
    SELECT count(*) AS n_probes,
           CAST(sum(present) AS BIGINT) AS n_present,
           CAST(sum(CASE WHEN present = 1 AND n_set < 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_negatives,
           CAST(sum(CASE WHEN present = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_absent,
           CAST(sum(CASE WHEN present = 0 AND n_set = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives,
           CAST(CAST(round(1.0 * sum(CASE WHEN present = 0 AND n_set = 3
                                     THEN 1 ELSE 0 END)
                / greatest(sum(CASE WHEN present = 0 THEN 1 ELSE 0 END), 1), 6)
                AS DECIMAL(18, 6)) AS DOUBLE) AS fpr
    FROM hits
    """,
    sort=("n_probes",),
    doc="Bloom filter with its membership contract, the same "
    "deterministic md5 construction on both engines (k=3 hash "
    "functions, m=4096 bits, keyed on orders.o_custkey): a probe is "
    "'maybe present' iff all three of its bit positions are set. The "
    "result proves the structural guarantee — false_negatives MUST be "
    "0 (every customer with orders passes) — and MEASURES the false "
    "positive rate over the genuinely-absent probes (dormant "
    "customers) instead of trusting the formula. This is the exact "
    "mechanism behind the runtime bloom-pruned joins pinned in "
    "tests/test_plans.py, made first-class and driver-verifiable: at "
    "100 TB the bit set (m bits per partition-group, mergeable by OR) "
    "is built in one scan and broadcast to prune the probe side "
    "before any shuffle.",
)
def bloom_membership_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    d3 = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("d")

    def bit_pos(d_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", d_col.cast("string"), key_col.cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 4096
        )

    bits = (
        orders.select("o_custkey", d3)
        .select("d", bit_pos(F.col("d"), F.col("o_custkey")).alias("bit_pos"))
        .distinct()
    )
    present_keys = orders.select("o_custkey").distinct()
    # probe set = real customer keys + shifted keys guaranteed absent, so
    # the false-positive rate is MEASURED over a non-empty absent set at
    # every SF (at sf0.01 every customer has orders)
    pk = cust.select(F.col("c_custkey").alias("key")).unionAll(
        cust.select((F.col("c_custkey") + 10000000).alias("key"))
    )
    truth = pk.join(
        present_keys, pk.key == present_keys.o_custkey, "left"
    ).select(
        F.col("key").alias("c_custkey"),
        F.when(F.col("o_custkey").isNull(), 0).otherwise(1).alias("present"),
    )
    probe = truth.select("c_custkey", "present", d3).select(
        "c_custkey",
        "present",
        "d",
        bit_pos(F.col("d"), F.col("c_custkey")).alias("bit_pos"),
    )
    b = bits.withColumnRenamed("d", "bd")
    hits = (
        probe.join(
            F.broadcast(b),
            (F.col("bd") == F.col("d")) & (b.bit_pos == probe.bit_pos),
            "left",
        )
        .groupBy("c_custkey", "present")
        .agg(F.count("bd").cast("long").alias("n_set"))
    )
    absent = F.when(F.col("present") == 0, 1).otherwise(0)
    fp = F.when((F.col("present") == 0) & (F.col("n_set") == 3), 1).otherwise(0)
    return hits.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("present").cast("long").alias("n_present"),
        F.sum(F.when((F.col("present") == 1) & (F.col("n_set") < 3), 1).otherwise(0))
        .cast("long")
        .alias("false_negatives"),
        F.sum(absent).cast("long").alias("n_absent"),
        F.sum(fp).cast("long").alias("false_positives"),
        F.round(F.lit(1.0) * F.sum(fp) / F.greatest(F.sum(absent), F.lit(1)), 6)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("fpr"),
    )


@register(
    "kmv_distinct_contract",
    """
    WITH eu AS (
      SELECT DISTINCT user_id AS key FROM events
    ),
    ou AS (
      SELECT DISTINCT o_custkey AS key FROM orders
    ),
    he AS (
      SELECT key,
             (CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 6))
                   AS BIGINT) + 0.5) / 16777216.0 AS u
      FROM eu
    ),
    ho AS (
      SELECT key,
             (CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 6))
                   AS BIGINT) + 0.5) / 16777216.0 AS u
      FROM ou
    ),
    sets AS (
      SELECT 'events_users' AS set_name, u FROM he
      UNION ALL
      SELECT 'orders_custs', u FROM ho
      UNION ALL
      SELECT 'merged', u FROM (
        SELECT u FROM he UNION SELECT u FROM ho
      )
    ),
    ranked AS (
      SELECT set_name, u,
             row_number() OVER (PARTITION BY set_name ORDER BY u) AS rnk
      FROM sets
    ),
    kth AS (
      SELECT set_name, max(CASE WHEN rnk = 64 THEN u END) AS u_k,
             count(*) AS n_exact
      FROM ranked GROUP BY set_name
    )
    SELECT set_name,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(round(63.0 / u_k) AS BIGINT) AS kmv_estimate,
           CAST(CAST(round(abs(63.0 / u_k - n_exact) / n_exact, 4)
                     AS DECIMAL(18, 4)) AS DOUBLE) AS rel_err
    FROM kth
    ORDER BY set_name
    """,
    sort=("set_name",),
    doc="KMV (k minimum values) distinct sketch with its MERGE contract, "
    "deterministic md5 uniforms so both engines build the identical "
    "sketch: estimate = (k-1)/u_k with u_k the k-th smallest hash "
    "(k=64). Three sets are estimated — two base key sets and their "
    "union, where the merged sketch is exactly the k smallest of the "
    "two sketches' combined values (the mergeability that makes KMV a "
    "one-pass distributed distinct-counter: per-partition top-k heaps, "
    "merge by re-taking k smallest — the same TakeOrdered shape as "
    "weighted_sample_es). n_exact rides along so rel_err is measured, "
    "not assumed. NOTE the merged-set dedup is BY HASH VALUE (UNION, "
    "not UNION ALL) — identical keys in both sets hash identically, "
    "which is precisely why sketch union works.",
)
def kmv_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")

    def hashed(df, col):
        u = (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 6), 16, 10)
            .cast("long")
            + F.lit(0.5)
        ) / F.lit(16777216.0)
        return df.select(F.col(col)).distinct().select(u.alias("u"))

    he = hashed(ev, "user_id").localCheckpoint()
    ho = hashed(orders, "o_custkey").localCheckpoint()
    merged = he.union(ho).distinct()
    sets = (
        he.select(F.lit("events_users").alias("set_name"), "u")
        .unionAll(ho.select(F.lit("orders_custs").alias("set_name"), "u"))
        .unionAll(merged.select(F.lit("merged").alias("set_name"), "u"))
    )
    ranked = sets.withColumn(
        "rnk", F.row_number().over(W.partitionBy("set_name").orderBy("u"))
    )
    kth = ranked.groupBy("set_name").agg(
        F.max(F.when(F.col("rnk") == 64, F.col("u"))).alias("u_k"),
        F.count(F.lit(1)).alias("n_exact"),
    )
    est = F.lit(63.0) / F.col("u_k")
    return kth.select(
        "set_name",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.round(est).cast("long").alias("kmv_estimate"),
        F.round(F.abs(est - F.col("n_exact")) / F.col("n_exact"), 4)
        .cast("decimal(18,4)")
        .cast("double")
        .alias("rel_err"),
    )


@register(
    "ams_f2_contract",
    """
    WITH j9 AS (
      SELECT * FROM (VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8))
      AS v(j)
    ),
    signed AS (
      SELECT v.j,
             CAST(CAST(('0x' || substr(md5(CAST(v.j AS VARCHAR) || '|' ||
                                       CAST(user_id AS VARCHAR)), 1, 1))
                       AS BIGINT) % 2 * 2 - 1 AS BIGINT) AS s
      FROM events CROSS JOIN j9 v
    ),
    counters AS (
      SELECT j, CAST(sum(s) AS BIGINT) AS x FROM signed GROUP BY j
    ),
    groups AS (
      -- j // 3: DuckDB CAST(j/3 AS INT) ROUNDS (j=5 → 2) while Spark's
      -- int cast truncates — floor-divide explicitly on both engines
      SELECT CAST(j // 3 AS INTEGER) AS g, CAST(sum(x * x) AS BIGINT) AS sq3
      FROM counters GROUP BY 1
    ),
    med AS (
      SELECT CAST(sum(sq3) - max(sq3) - min(sq3) AS BIGINT) AS med_sq3
      FROM groups
    ),
    ex AS (
      SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact,
             CAST(sum(cnt) AS BIGINT) AS n_rows
      FROM (SELECT count(*) AS cnt FROM events GROUP BY user_id)
    )
    SELECT ex.n_rows, ex.f2_exact,
           CAST(round(med.med_sq3 / 3.0) AS BIGINT) AS f2_estimate,
           CAST(CAST(round(abs(med.med_sq3 / 3.0 - ex.f2_exact)
                           / ex.f2_exact, 4)
                     AS DECIMAL(18, 4)) AS DOUBLE) AS rel_err
    FROM ex CROSS JOIN med
    """,
    sort=("n_rows",),
    doc="AMS (Alon-Matias-Szegedy) F2 sketch — the second frequency "
    "moment IS the self-join size, so this is the one-pass 'estimate "
    "before you shuffle' planner (exact companion: "
    "selfjoin_blowup_estimate). Nine ±1-signed counters from md5 "
    "parity, median-of-means as 3 groups of 3; the median is computed "
    "as sum−max−min over INTEGER group sums, so every step before the "
    "final ratio is exact integer math and the estimate hash-matches "
    "cross-engine. One scan (9-way map-side explode), 9-row counter "
    "state — mergeable by addition across partitions, which is the "
    "whole point at 100 TB.",
)
def ams_f2_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    j9 = F.explode(F.array(*[F.lit(i) for i in range(9)])).alias("j")
    sign = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("j").cast("string"), F.col("user_id").cast("string")
                    )
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("long")
        % 2
        * 2
        - 1
    )
    counters = (
        ev.select("user_id", j9)
        .select("j", sign.alias("s"))
        .groupBy("j")
        .agg(F.sum("s").cast("long").alias("x"))
    )
    groups = (
        counters.select(F.floor(F.col("j") / 3).cast("int").alias("g"), "x")
        .groupBy("g")
        .agg(F.sum(F.col("x") * F.col("x")).cast("long").alias("sq3"))
    )
    med = groups.agg(
        (F.sum("sq3") - F.max("sq3") - F.min("sq3")).cast("long").alias("med_sq3")
    )
    ex = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("f2_exact"),
            F.sum("cnt").cast("long").alias("n_rows"),
        )
    )
    est = F.col("med_sq3") / F.lit(3.0)
    return ex.crossJoin(F.broadcast(med)).select(
        "n_rows",
        "f2_exact",
        F.round(est).cast("long").alias("f2_estimate"),
        F.round(F.abs(est - F.col("f2_exact")) / F.col("f2_exact"), 4)
        .cast("decimal(18,4)")
        .cast("double")
        .alias("rel_err"),
    )


@register(
    "kmv_intersection_estimate",
    """
    WITH pu AS (
      SELECT DISTINCT user_id AS key FROM events WHERE event_type = 'purchase'
    ),
    cu AS (
      SELECT DISTINCT user_id AS key FROM events WHERE event_type = 'click'
    ),
    ha AS (
      SELECT key, (CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 6))
                        AS BIGINT) + 0.5) / 16777216.0 AS u
      FROM pu
    ),
    hb AS (
      SELECT key, (CAST(('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 6))
                        AS BIGINT) + 0.5) / 16777216.0 AS u
      FROM cu
    ),
    ska AS (SELECT u FROM ha ORDER BY u LIMIT 64),
    skb AS (SELECT u FROM hb ORDER BY u LIMIT 64),
    theta AS (
      SELECT least((SELECT max(u) FROM ska), (SELECT max(u) FROM skb)) AS th
    ),
    inter AS (
      SELECT count(*) AS c
      FROM ska JOIN skb USING (u) CROSS JOIN theta
      WHERE ska.u < theta.th
    ),
    exact AS (
      SELECT count(*) AS n FROM pu JOIN cu USING (key)
    )
    SELECT CAST(exact.n AS BIGINT) AS n_exact,
           CAST(round(inter.c / theta.th) AS BIGINT) AS kmv_estimate,
           CAST(CAST(round(abs(inter.c / theta.th - exact.n)
                           / nullif(exact.n, 0), 4)
                     AS DECIMAL(18,4)) AS DOUBLE) AS rel_err
    FROM exact CROSS JOIN inter CROSS JOIN theta
    """,
    sort=("n_exact",),
    doc="Theta-sketch set-operation framework (the Apache DataSketches "
    "/ KMV intersection trick): two KMV sketches (k=64, deterministic "
    "md5 uniforms) of the purchase-user and click-user sets intersect "
    "by keeping the common hash values below theta = min of the two "
    "sketches' k-th minima; |common < theta| / theta estimates the "
    "intersection cardinality — the estimate a plain union-mergeable "
    "distinct sketch cannot give. The oracle recomputes sketches, "
    "theta, estimate AND the exact intersection, so the hash pins the "
    "whole estimator; rel_err is decimal-canonicalized. At 100 TB each "
    "sketch is a per-partition top-k heap merge (answer-sized), and "
    "the set algebra runs on 64-row relations.",
)
def kmv_intersection_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def sketch(etype):
        keys = (
            ev.where(F.col("event_type") == etype)
            .select(F.col("user_id").alias("key"))
            .distinct()
        )
        u = (
            F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 6), 16, 10)
            .cast("long")
            + F.lit(0.5)
        ) / F.lit(16777216.0)
        return keys.select(u.alias("u")).orderBy("u").limit(64)

    ska = sketch("purchase").localCheckpoint()
    skb = sketch("click").localCheckpoint()
    theta = ska.agg(F.max("u").alias("tha")).crossJoin(
        skb.agg(F.max("u").alias("thb"))
    ).select(F.least("tha", "thb").alias("th"))
    inter = (
        ska.join(skb, "u")
        .crossJoin(F.broadcast(theta))
        .where(F.col("u") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pu = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("key")
    ).distinct()
    cu = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("key")
    ).distinct()
    exact = pu.join(cu, "key").agg(F.count(F.lit(1)).alias("n"))
    est = F.round(F.col("c") / F.col("th"))
    return (
        exact.crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(theta))
        .select(
            F.col("n").cast("long").alias("n_exact"),
            est.cast("long").alias("kmv_estimate"),
            F.round(
                F.abs(F.col("c") / F.col("th") - F.col("n"))
                / F.nullif(F.col("n"), F.lit(0)),
                4,
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("rel_err"),
        )
    )


@register(
    "quantile_sketch_merge",
    """
    WITH partials AS (
      SELECT o_orderpriority AS src,
             CAST(floor(o_totalprice / 1000.0) AS BIGINT) AS bin,
             count(*) AS cnt
      FROM orders
      GROUP BY 1, 2
    ),
    merged AS (
      SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt FROM partials GROUP BY bin
    ),
    cdf AS (
      SELECT bin, cnt,
             CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS total
      FROM merged
    ),
    qs AS (SELECT * FROM (VALUES (50), (90), (99)) AS t(q_pct))
    SELECT q_pct,
           CAST(min(CASE WHEN cum * 100 >= q_pct * total THEN bin END)
                AS BIGINT) AS q_bin,
           CAST(min(CASE WHEN cum * 100 >= q_pct * total THEN bin END) * 1000
                AS BIGINT) AS q_lo_price,
           CAST(max(total) AS BIGINT) AS n_total,
           count(*) AS n_bins
    FROM qs CROSS JOIN cdf
    GROUP BY q_pct
    ORDER BY q_pct
    """,
    sort=("q_pct",),
    doc="Mergeable binned-quantile sketch, the distributed-quantile "
    "algebra made explicit: stage 1 builds per-source fixed-width "
    "histograms (the partial sketch state — O(bins) per source, "
    "map-side combinable), stage 2 MERGES them by summing counts per "
    "bin (the associative merge that t-digest/KLL also rely on), stage "
    "3 reads p50/p90/p99 off the merged CDF with exact integer "
    "cross-multiplication (cum*100 >= q*total — no float thresholds). "
    "Unlike approx_quantile_contract (engine-specific sketch under a "
    "tolerance contract) this estimator is bit-reproducible across "
    "engines because its state is exact integer counts; its error is "
    "bounded by the bin width instead of a rank epsilon. The CDF "
    "window is over the merged histogram — bounded by construction at "
    "value_range/width rows (a few hundred) regardless of table size, "
    "the accepted bounded-relation window pattern. The 3-row quantile "
    "spine is broadcast; nothing non-answer-sized ever shuffles.",
)
def quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    partials = o.groupBy(
        F.col("o_orderpriority").alias("src"),
        F.floor(F.col("o_totalprice") / F.lit(1000.0)).alias("bin"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = partials.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    cdf = merged.select(
        "bin",
        "cnt",
        F.sum("cnt").over(W.orderBy("bin")).alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("total"),
    )
    qs = F.broadcast(
        spark.range(1).select(
            F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("q_pct")
        )
    )
    hit = F.when(
        F.col("cum") * 100 >= F.col("q_pct").cast("long") * F.col("total"),
        F.col("bin"),
    )
    return qs.crossJoin(cdf).groupBy("q_pct").agg(
        F.min(hit).alias("q_bin"),
        (F.min(hit) * 1000).cast("long").alias("q_lo_price"),
        F.max("total").alias("n_total"),
        F.count(F.lit(1)).alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# Registered; tests/test_hll_union_contract.py also runs the verify_queries
# compare (fetch/norm/hash) on the pair at two SFs.
# ---------------------------------------------------------------------------

# HLL constants, precomputed once in Python and embedded as literals in BOTH
# engines (the NDCG-weights / _POIS_CASE precedent): p=8 -> m=256 registers,
# alpha_256 = 0.7213/(1 + 1.079/256); the scaled numerator folds in m^2 and
# the 2^49 register-sum scale so each engine does ONE float division.
_HLL_ALPHA_NUM = 2.6499581405668102e+19  # alpha_256 * 256^2 * 2^49

_HLL_ORACLE = """
    WITH ek AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events
                WHERE user_id IS NOT NULL),
    ok AS (SELECT CAST(o_custkey AS VARCHAR) AS key FROM orders
           WHERE o_custkey IS NOT NULL),
    tagged AS (
      SELECT 'events_users' AS set_name, key FROM ek
      UNION ALL SELECT 'orders_custs', key FROM ok
      UNION ALL SELECT 'merged', key FROM ek
      UNION ALL SELECT 'merged', key FROM ok
    ),
    hashed AS (
      SELECT set_name,
             key,
             CAST(('0x' || substr(md5(key), 1, 2)) AS INT) AS reg,
             CAST(('0x' || substr(md5(key), 3, 12)) AS BIGINT) AS v
      FROM tagged
    ),
    rho AS (
      SELECT set_name, reg,
             CASE WHEN v = 0 THEN 49 ELSE 49 - length(bin(v)) END AS rho
      FROM hashed
    ),
    regs AS (
      SELECT set_name, reg, max(rho) AS r FROM rho GROUP BY set_name, reg
    ),
    sums AS (
      SELECT set_name,
             CAST(sum(CAST(1 AS BIGINT) << (49 - r)) AS BIGINT) AS s_occ,
             CAST(count(*) AS BIGINT) AS occupied
      FROM regs GROUP BY set_name
    ),
    est AS (
      SELECT set_name, occupied,
             2.6499581405668102e+19
               / (s_occ + (256 - occupied) * (CAST(1 AS BIGINT) << 49))
               AS e_raw
      FROM sums
    ),
    corrected AS (
      SELECT set_name, occupied,
             CASE WHEN e_raw <= 640.0 AND occupied < 256
                  THEN 256.0 * ln(256.0 / (256 - occupied))
                  ELSE e_raw END AS e
      FROM est
    ),
    exact AS (
      SELECT set_name, CAST(count(DISTINCT key) AS BIGINT) AS n_exact
      FROM tagged GROUP BY set_name
    )
    SELECT c.set_name,
           x.n_exact,
           CAST(round(c.e) AS BIGINT) AS hll_estimate,
           c.occupied,
           CAST(CAST(round(abs(c.e - x.n_exact) / x.n_exact, 4)
                     AS DECIMAL(18, 4)) AS DOUBLE) AS rel_err
    FROM corrected c JOIN exact x ON x.set_name = c.set_name
    ORDER BY c.set_name
"""


@register(
    "hll_union_contract",
    _HLL_ORACLE,
    doc="HLL p=8 distinct sketch + register-wise union-merge contract",
)
def hll_union_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct sketch with its UNION-MERGE contract
    (Flajolet et al. 2007, the mergeable-register formulation every
    DataSketches-style library ships): p=8 -> 256 registers, register =
    first 8 md5 bits, rho = leading-zero count of the next 48 bits + 1,
    register value = max(rho). Deterministic md5 so both engines build
    the identical sketch (the kmv/bloom/countmin precedent). The merged
    set is computed by REGISTER-WISE MAX OF THE TWO SKETCHES on the
    Spark side (512 bounded rows — the one-pass mergeability that makes
    HLL a distributed distinct-counter) while the oracle rehashes the
    key union; equality of the two routes IS the merge contract
    (max over a union == max of per-set maxes). Register sums stay in
    exact integers (sum of 2^(49-rho) <= 2^57, BIGINT) so cross-engine
    float determinism rests on one division + one round; the standard
    small-range linear-counting correction (E <= 2.5m with empty
    registers) is applied identically in both engines so the contract
    holds at every SF including bare mode. n_exact rides along so
    rel_err is measured, not assumed. One scan per fact table per
    consumer (sketch + exact verification are intentionally two
    methods — the bloom_membership precedent); register relations are
    bounded at 256 rows regardless of scale."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey").isNotNull())
    tagged = (
        ev.select(F.col("user_id").cast("string").alias("key"),
                  F.lit("events_users").alias("base_set"))
        .unionByName(
            orders.select(F.col("o_custkey").cast("string").alias("key"),
                          F.lit("orders_custs").alias("base_set"))
        )
    )
    h = F.md5(F.col("key"))
    v = F.conv(F.substring(h, 3, 12), 16, 10).cast("bigint")
    hashed = tagged.select(
        "base_set",
        "key",
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("reg"),
        F.when(v == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.bin(v)))
        .alias("rho"),
    )
    # pinned: base_regs feeds BOTH the per-set register relation and the
    # register-wise-max merge below; unpinned, the union plans the whole
    # scan→hash→aggregate chain once per branch (audit_reuse read 6 fact
    # scans where the two-consumer design intends 4). Bounded at
    # 2 sets × 256 registers = 512 rows at ANY scale — admissible under
    # the answer-sized localCheckpoint rule. The pin is also what keeps
    # the merge route honest: merged registers really are computed FROM
    # THE TWO SKETCHES (the mergeability contract), not re-derived from
    # raw rows the way the oracle's rehash route is.
    base_regs = hashed.groupBy("base_set", "reg").agg(
        F.max("rho").alias("r")
    ).localCheckpoint()
    merged_regs = (
        base_regs.groupBy("reg")
        .agg(F.max("r").alias("r"))
        .select(F.lit("merged").alias("set_name"), "reg", "r")
    )
    regs = base_regs.select(
        F.col("base_set").alias("set_name"), "reg", "r"
    ).unionByName(merged_regs)

    sums = regs.groupBy("set_name").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 49 - r)"))
        .cast("bigint")
        .alias("s_occ"),
        F.count(F.lit(1)).cast("bigint").alias("occupied"),
    )
    e_raw = F.lit(_HLL_ALPHA_NUM) / (
        F.col("s_occ")
        + (F.lit(256) - F.col("occupied"))
        * F.expr("shiftleft(CAST(1 AS BIGINT), 49)")
    )
    est = sums.select(
        "set_name",
        "occupied",
        F.when(
            (e_raw <= F.lit(640.0)) & (F.col("occupied") < 256),
            F.lit(256.0) * F.log(F.lit(256.0) / (F.lit(256) - F.col("occupied"))),
        )
        .otherwise(e_raw)
        .alias("e"),
    )
    exact = (
        hashed.select(
            "key",
            F.explode(F.array(F.col("base_set"), F.lit("merged"))).alias(
                "set_name"
            ),
        )
        .groupBy("set_name")
        .agg(F.countDistinct("key").cast("bigint").alias("n_exact"))
    )
    return (
        est.join(exact, "set_name")
        .select(
            "set_name",
            "n_exact",
            F.round("e", 0).cast("bigint").alias("hll_estimate"),
            "occupied",
            F.expr(
                "CAST(CAST(round(abs(e - n_exact) / n_exact, 4)"
                " AS DECIMAL(18, 4)) AS DOUBLE)"
            ).alias("rel_err"),
        )
        .repartition(1)
        .sortWithinPartitions("set_name")
    )
