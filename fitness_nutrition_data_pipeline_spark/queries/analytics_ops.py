"""Analytics wave 4: sketch calibration, cohort retention matrix, column
fill-rate profiling, seasonality, and customer-value deciles.

The calibration query closes the sketch-quality loop: minhash_lsh_buckets
claims 8-perm MinHash approximates shingle Jaccard well enough to bucket
near-dups — this measures the approximation error against the exact
Jaccard on the same candidate pairs, as a driver-checkable contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.dedup import (
    jaccard_on_adjacent_pairs,
    minhash_signatures,
)
from fitness_nutrition_data_pipeline_spark.operators.keys import assign_sequential_ids
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (
    N_MINHASH,
    _SHINGLE_CTE,
    _sig_exprs_sql,
)
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


def _calibration_oracle() -> str:
    sig_cols = ",\n             ".join(_sig_exprs_sql())
    matches = " + ".join(
        f"CASE WHEN a.sig{k} = b.sig{k} THEN 1 ELSE 0 END" for k in range(N_MINHASH)
    )
    return rf"""
    WITH sh AS (
      {_SHINGLE_CTE}
    ),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM sh GROUP BY doc_id
    ),
    est AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(({matches}) AS DOUBLE) / {N_MINHASH} AS est_jaccard
      FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 1
    ),
    sets AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, len(string_split_regex(lower(text), '\s+'))),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1])) AS sh
      FROM documents
    ),
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
               AS jaccard
      FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(avg(abs(est_jaccard - jaccard)) AS DOUBLE), 6)
             AS mean_abs_err,
           round(CAST(max(abs(est_jaccard - jaccard)) AS DOUBLE), 6)
             AS max_abs_err
    FROM est JOIN exact USING (id_a, id_b)
    """


@register(
    "minhash_jaccard_calibration",
    _calibration_oracle(),
    doc="Sketch-quality contract: 8-perm MinHash slot-agreement estimate "
    "vs exact 2-shingle Jaccard on adjacent-id candidate pairs, reduced "
    "to mean/max absolute error. Proves the LSH bucketing premise with "
    "numbers the driver can check; expected mean error ≈ sqrt(J(1-J)/8). "
    "Signatures and exact arrays each shuffle once on doc_id — the pair "
    "join ships one row per doc, never the shingle sets.",
)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the signature table feeds both self-join sides — pinned so the
    # minhash lineage runs once (the exact-jaccard pass below is a
    # deliberately different representation: it is what's being
    # calibrated against)
    sigs = minhash_signatures(
        docs, "doc_id", "text", n_hashes=N_MINHASH
    ).localCheckpoint()
    a = sigs.alias("a")
    b = sigs.alias("b")
    match_expr = sum(
        F.when(F.col(f"a.sig{k}") == F.col(f"b.sig{k}"), 1).otherwise(0)
        for k in range(N_MINHASH)
    )
    est = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        (match_expr.cast("double") / N_MINHASH).alias("est_jaccard"),
    )
    exact = jaccard_on_adjacent_pairs(docs, "doc_id", "text").select(
        "id_a", "id_b", "jaccard"
    )
    err = F.abs(F.col("est_jaccard") - F.col("jaccard"))
    return est.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg(err), 6).alias("mean_abs_err"),
        F.round(F.max(err), 6).alias("max_abs_err"),
    )


@register(
    "retention_matrix",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor(date_diff('day', f.cohort_week, CAST(e.ts AS DATE)) / 7.0)
                  AS INT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    ),
    cohort_sizes AS (
      SELECT cohort_week, count(*) AS cohort_size FROM firsts GROUP BY cohort_week
    )
    SELECT CAST(a.cohort_week AS VARCHAR) AS cohort_week,
           a.week_offset,
           count(*) AS n_active,
           round(CAST(count(*) AS DOUBLE) / max(s.cohort_size), 6) AS retention
    FROM activity a JOIN cohort_sizes s ON a.cohort_week = s.cohort_week
    GROUP BY a.cohort_week, a.week_offset
    ORDER BY cohort_week, week_offset
    """,
    doc="Weekly retention triangle: first-touch cohort × week offset → "
    "share of the cohort still active. First-touch is one user-grain "
    "min-agg; the matrix is a distinct (user,offset) reduction joined to "
    "broadcast cohort sizes — output is calendar² bounded, data shuffles "
    "twice at user grain.",
)
def retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # user-grain cohort table feeds the activity join AND the size
    # rollup — pinned so its events pass runs once
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    ).localCheckpoint()
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(F.datediff(F.to_date("ts"), F.col("cohort_week")) / 7.0)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        activity.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_offset")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.round(F.count(F.lit(1)).cast("double") / F.max("cohort_size"), 6).alias(
                "retention"
            ),
        )
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            "week_offset",
            "n_active",
            "retention",
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "column_fill_rates",
    """
    SELECT col, count(*) AS n_rows,
           CAST(sum(is_null) AS BIGINT) AS n_null,
           round(1.0 - CAST(sum(is_null) AS DOUBLE) / count(*), 6) AS fill_rate
    FROM (
      SELECT 'event_type' AS col,
             CASE WHEN event_type IS NULL THEN 1 ELSE 0 END AS is_null FROM events
      UNION ALL
      SELECT 'props', CASE WHEN props IS NULL THEN 1 ELSE 0 END FROM events
      UNION ALL
      SELECT 'ts', CASE WHEN ts IS NULL THEN 1 ELSE 0 END FROM events
      UNION ALL
      SELECT 'user_id', CASE WHEN user_id IS NULL THEN 1 ELSE 0 END FROM events
      UNION ALL
      SELECT 'value', CASE WHEN value IS NULL THEN 1 ELSE 0 END FROM events
    ) t
    GROUP BY col
    ORDER BY col
    """,
    doc="Column fill-rate (NOT-NULL) profile — the validation.sql:227-244 "
    "NULL-violation block generalized into one profiling query. Spark "
    "side computes ALL columns in a single scan (one conditional-sum agg "
    "per column, then unpivots the 1-row result); the UNION-of-scans SQL "
    "is only the oracle's spelling.",
)
def column_fill_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cols = ["event_type", "props", "ts", "user_id", "value"]
    # one pass: n_rows + per-column null counts as a single aggregate row
    agg_row = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"null_{c}")
            for c in cols
        ],
    )
    stack_expr = ", ".join(f"'{c}', null_{c}" for c in cols)
    return (
        agg_row.select(
            "n_rows", F.expr(f"stack({len(cols)}, {stack_expr}) AS (col, n_null)")
        )
        .select(
            "col",
            "n_rows",
            F.col("n_null").cast("long").alias("n_null"),
            F.round(1.0 - F.col("n_null").cast("double") / F.col("n_rows"), 6).alias(
                "fill_rate"
            ),
        )
        .orderBy("col")
    )


_DAY_NAMES = (
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
)


@register(
    "weekday_seasonality",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT CAST(isodow(day) - 1 AS INT) AS weekday,
           strftime(day, '%A') AS day_name,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(n) AS DOUBLE) / count(*), 2) AS avg_per_day
    FROM daily
    GROUP BY 1, 2
    ORDER BY weekday
    """,
    doc="Weekday seasonality profile with the pandas Mon=0 weekday "
    "convention (SURVEY §2 F5: Spark dayofweek is Sun=1 — the parity "
    "offset the reference's Dim_Date requires). Daily rollup first, so "
    "the weekday pass touches calendar-bounded rows.",
)
def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(F.count(F.lit(1)).alias("n"))
    # pandas/ISO Mon=0: Spark dayofweek is Sun=1 → (dow + 5) % 7.
    # day_name comes from a literal English array, NOT date_format('EEEE'),
    # which is JVM-default-locale dependent while the oracle's strftime('%A')
    # is always English — a non-English host would hash-mismatch.
    weekday = ((F.dayofweek("day") + 5) % 7).cast("int")
    name_arr = F.array(*[F.lit(n) for n in _DAY_NAMES])
    return (
        daily.groupBy(weekday.alias("weekday"))
        .agg(
            F.sum("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 2).alias(
                "avg_per_day"
            ),
        )
        .select(
            "weekday",
            F.element_at(name_arr, F.col("weekday") + 1).alias("day_name"),
            "n_events",
            "n_days",
            "avg_per_day",
        )
        .orderBy("weekday")
    )


@register(
    "user_ltv_deciles",
    """
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, spend,
             row_number() OVER (ORDER BY spend DESC, o_custkey) AS rk,
             count(*) OVER () AS n,
             sum(spend) OVER () AS total_spend
      FROM spend
    )
    SELECT CAST(floor((rk - 1) * 10.0 / n) AS INT) AS decile,
           count(*) AS n_customers,
           CAST(CAST(sum(spend) AS DECIMAL(38,2)) AS DOUBLE) AS decile_spend,
           round(CAST(sum(spend) AS DOUBLE) / CAST(max(total_spend) AS DOUBLE), 6)
             AS spend_share
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    doc="Customer-value deciles (decile 0 = biggest spenders) with each "
    "decile's share of total revenue — the Lorenz-curve companion to "
    "gini_customer_spend. Spend is DECIMAL (exact cross-engine ranks and "
    "sums); descending ranks come from assign_sequential_ids on the "
    "negated key, so no global window touches customer grain.",
)
def user_ltv_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    # rank 1 = highest spend: order by (-spend, custkey); negation keeps
    # DECIMAL exactness so ranks match the oracle's ORDER BY spend DESC
    ranked = assign_sequential_ids(
        spend.withColumn("neg_spend", -F.col("spend")),
        ["neg_spend", "o_custkey"],
        "rk",
    ).drop("neg_spend")
    totals = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("spend").cast("decimal(38,2)").alias("total_spend"),
    )
    return (
        ranked.crossJoin(F.broadcast(totals))
        .groupBy(
            F.floor((F.col("rk") - 1) * 10.0 / F.col("n")).cast("int").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("spend").cast("decimal(38,2)").cast("double").alias("decile_spend"),
            F.round(
                F.sum("spend").cast("double") / F.max("total_spend").cast("double"), 6
            ).alias("spend_share"),
        )
        .orderBy("decile")
    )


@register(
    "rfm_segmentation",
    """
    WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
    per_cust AS (
      SELECT o_custkey,
             CAST(min(anchor.d0 - CAST(o_orderdate AS DATE)) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders CROSS JOIN anchor
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS r_q,
             ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_q,
             ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS m_q,
             monetary_cents
      FROM per_cust
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY r_q, f_q, m_q
    ORDER BY r_q, f_q, m_q
    """,
    sort=("r_q", "f_q", "m_q"),
    doc="RFM segmentation, the CRM workhorse: per customer, recency "
    "(days since last order, anchored to the corpus max date — no "
    "wall clock), frequency and monetary value in exact integer "
    "cents, each quintiled with ntile(5) under a FULLY DETERMINISTIC "
    "order (metric, then custkey — ties can't float between engines; "
    "5 = best on every axis since recency sorts DESC), then the "
    "125-cell segment grid with counts and revenue. The three global "
    "ntile windows run on CUSTOMER grain — the repo's documented "
    "oracle-exactness device; the 100 TB variant quintiles via the "
    "equi-depth histogram CDF (equi_depth_price_deciles' shape) "
    "instead of a global sort. The orders scan folds to customer "
    "grain first with map-side partials.",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("d0"))
    per_cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("d0"), F.to_date("o_orderdate")))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    scored = per_cust.select(
        F.ntile(5)
        .over(W.orderBy(F.desc("recency_days"), F.asc("o_custkey")))
        .alias("r_q"),
        F.ntile(5)
        .over(W.orderBy(F.asc("frequency"), F.asc("o_custkey")))
        .alias("f_q"),
        F.ntile(5)
        .over(W.orderBy(F.asc("monetary_cents"), F.asc("o_custkey")))
        .alias("m_q"),
        "monetary_cents",
    )
    return (
        scored.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


@register(
    "rfm_segmentation_histogram",
    """
    WITH anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
    per_cust AS (
      SELECT o_custkey,
             CAST(min(anchor.d0 - CAST(o_orderdate AS DATE)) AS BIGINT)
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders CROSS JOIN anchor
      GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_cust),
    rq AS (
      SELECT v, CAST((5 * cw + n - 1) // n AS INT) AS q
      FROM (SELECT v, sum(c) OVER (ORDER BY v DESC ROWS UNBOUNDED PRECEDING) AS cw
            FROM (SELECT recency_days AS v, count(*) AS c FROM per_cust GROUP BY 1))
      CROSS JOIN tot
    ),
    fq AS (
      SELECT v, CAST((5 * cw + n - 1) // n AS INT) AS q
      FROM (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
            FROM (SELECT frequency AS v, count(*) AS c FROM per_cust GROUP BY 1))
      CROSS JOIN tot
    ),
    mq AS (
      SELECT v, CAST((5 * cw + n - 1) // n AS INT) AS q
      FROM (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cw
            FROM (SELECT monetary_cents // 10000 AS v, count(*) AS c
                  FROM per_cust GROUP BY 1))
      CROSS JOIN tot
    )
    SELECT r.q AS r_q, f.q AS f_q, m.q AS m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(p.monetary_cents) AS BIGINT) AS segment_cents
    FROM per_cust p
    JOIN rq r ON p.recency_days = r.v
    JOIN fq f ON p.frequency = f.v
    JOIN mq m ON p.monetary_cents // 10000 = m.v
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    sort=("r_q", "f_q", "m_q"),
    doc="RFM segmentation WITHOUT the three global customer-grain ntile "
    "windows — the executable form of rfm_segmentation's documented "
    "100 TB substitution (VERDICT r10 ask #3a). Quintiles come from the "
    "equi-depth CDF over each metric's COLLAPSED value grain: distinct "
    "recency days (bounded by the date range), distinct frequencies "
    "(small ints), and $100 monetary bins (bounded by the spend range) "
    "— q(v) = ceil(5*cum(v)/n) in pure integer math, so ties share a "
    "quintile (the value-quintile semantic; ntile's arbitrary tie-split "
    "is what forces a total order). The only unpartitioned windows run "
    "on those bounded value-grain relations, which then broadcast-join "
    "back to customer grain: one customer-grain shuffle total, no "
    "global sort anywhere. Exact integer end to end — hash-oracled, "
    "not rows-only.",
)
def rfm_segmentation_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("d0"))
    per_cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.min(F.datediff(F.col("d0"), F.to_date("o_orderdate")))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("monetary_cents"),
        )
    )
    per_cust = per_cust.withColumn(
        "m_bin", F.expr("monetary_cents div 10000")
    )

    # The three metric CDFs used to be three separate subplans, each
    # re-computing the orders scan + customer-grain agg, and each also
    # cross-joining a separately-recomputed total — 13 redundant scans
    # in the executed plan (tools/audit_reuse.py, r13). One explode pass
    # over customer grain now feeds all three: (metric, v) rows collapse
    # to the per-metric VALUE grain, the prefix-sum CDF runs partitioned
    # by metric (recency negated so its DESC order becomes the shared
    # ASC frame), and n comes from an unbounded window over the same
    # partition instead of a recomputed global agg. The quintile map is
    # bounded (distinct recency days x distinct frequencies x $100 bins)
    # — answer-sized by the repo's localCheckpoint rule — so pinning it
    # cuts the three broadcast-join consumers to ExistingRDD reads: the
    # executed plan scans orders twice (anchor + per_cust), period.
    mv = per_cust.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("metric"),
                    F.col("recency_days").alias("v"),
                ),
                F.struct(
                    F.lit("f").alias("metric"), F.col("frequency").alias("v")
                ),
                F.struct(
                    F.lit("m").alias("metric"), F.col("m_bin").alias("v")
                ),
            )
        ).alias("mv")
    ).select("mv.metric", "mv.v")
    by_metric = W.partitionBy("metric")
    quint = (
        mv.groupBy("metric", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        # recency quintiles rank v DESC; negating its sort key folds all
        # three metrics into one ASC rows-frame over the value grain
        .withColumn(
            "sk",
            F.when(F.col("metric") == "r", -F.col("v")).otherwise(F.col("v")),
        )
        .withColumn(
            "cw",
            F.sum("c").over(
                by_metric.orderBy("sk").rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "n",
            F.sum("c").over(
                by_metric.rowsBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            ),
        )
        .select(
            "metric", "v",
            F.expr("(5 * cw + n - 1) div n").cast("int").alias("q"),
        )
        .localCheckpoint()
    )
    rq = quint.where(F.col("metric") == "r").select("v", "q")
    fq = quint.where(F.col("metric") == "f").select("v", "q")
    mq = quint.where(F.col("metric") == "m").select("v", "q")
    return (
        per_cust.join(
            F.broadcast(rq.withColumnRenamed("q", "r_q")),
            per_cust.recency_days == rq.v,
        )
        .drop("v")
        .join(
            F.broadcast(fq.withColumnRenamed("q", "f_q")),
            per_cust.frequency == fq.v,
        )
        .drop("v")
        .join(
            F.broadcast(mq.withColumnRenamed("q", "m_q")),
            per_cust.m_bin == mq.v,
        )
        .drop("v")
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("segment_cents"),
        )
    )


@register(
    "pareto_frontier_parts",
    """
    WITH pts AS (
      SELECT DISTINCT
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS price_cents,
             CAST(p_size AS BIGINT) AS p_size
      FROM part WHERE p_partkey % 17 = 0
    )
    SELECT a.price_cents, a.p_size
    FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
        AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
    )
    ORDER BY price_cents
    """,
    sort=("price_cents",),
    doc="Pareto frontier (skyline) over distinct (price, size) points — "
    "minimize price, maximize size: the multi-objective shortlist "
    "query (cheapest part at every size level). The ORACLE is the "
    "O(n^2) dominance anti-join on a sampled subset; the Spark plan is "
    "the DISTRIBUTED skyline: after (price asc, size desc) ordering, a "
    "point is dominated iff some predecessor has size >= its own, so "
    "the test is a running max — computed as a PARTITIONED prefix max "
    "within $100 price bands plus a prefix max over the band-summary "
    "relation (band cardinality = price range / band width, bounded "
    "and broadcast-sized, so the only unpartitioned window runs on a "
    "tiny relation — never the data). Two shuffles total (distinct, "
    "band hash), each point touched once; the quadratic pair space is "
    "never materialized. Prices go through DECIMAL(18,2) cents so the "
    "frontier coordinates hash exactly.",
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 17 == 0)
        .select(
            (F.col("p_retailprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("price_cents"),
            F.col("p_size").cast("long").alias("p_size"),
        )
        .distinct()
    )
    banded = pts.withColumn("band", F.expr("price_cents DIV 10000"))
    # prefix max of size over strict predecessors WITHIN the band
    w_in = (
        W.partitionBy("band")
        .orderBy(F.asc("price_cents"), F.desc("p_size"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = banded.withColumn("prev_in_band", F.max("p_size").over(w_in))
    # prefix max over STRICTLY EARLIER bands: band-grain summary (tiny,
    # bounded by price-domain/band-width) -> unpartitioned window is
    # safe here because it runs on the summary, not the points
    band_max = banded.groupBy("band").agg(F.max("p_size").alias("bmax"))
    w_bands = W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
    prior = band_max.withColumn(
        "prev_bands", F.max("bmax").over(w_bands)
    ).select("band", "prev_bands")
    return (
        local.join(F.broadcast(prior), "band")
        .where(
            F.col("p_size")
            > F.greatest(
                F.coalesce(F.col("prev_in_band"), F.lit(-1)),
                F.coalesce(F.col("prev_bands"), F.lit(-1)),
            )
        )
        .select("price_cents", "p_size")
    )
