"""Analytics queries: sketch calibration, cohort retention, fill-rate
profiling, seasonality and value deciles; calendar streaks, time-in-state
averages, weighted medians and t-closeness; interval algebra,
reconciliation, dependency profiling, information theory, time-series
diagnostics, sliding distinct, watermark replay, regression and bitwise
aggregation.

The calibration query closes the sketch-quality loop: minhash_lsh_buckets
claims 8-perm MinHash approximates shingle Jaccard well enough to bucket
near-dups — this measures the approximation error against the exact
Jaccard on the same candidate pairs, as a driver-checkable contract.

Float discipline: every statistic folded over many rows is an exact
integer sum (epoch microseconds, cents, counts, ppm through integer
floor division, cent/centi-unit quantization through DECIMAL), so both
engines do identical arithmetic on identical integers. Doubles appear
only in FINAL fixed-shape expressions over those exact sums (a fixed
operation tree of correctly-rounded IEEE ops is engine-deterministic;
float accumulation over shuffled rows is not, and never happens here),
rounded to 6 digits.
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
    "100 TB substitution. Quintiles come from the "
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
    # in the executed plan (tools/audit_reuse.py). One explode pass
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


# ---------------------------------------------------------------------------
# Calendar streaks (gaps-and-islands), state-duration-weighted averages
# (the TSDB time-in-state aggregate), exact weighted medians, t-closeness
#
# Scale notes: streaks and time-in-state are one shuffle each (hash by
# user), windows partition-local; weighted median is a per-group sorted
# prefix-sum (one shuffle on the group key) — no global sort; t-closeness
# aggregates to (segment × bucket) grain then joins the bucket-grain
# global distribution back, both tiny.
# ---------------------------------------------------------------------------


@register(
    "activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dnum
      FROM events WHERE ts IS NOT NULL
    ),
    isl AS (
      SELECT user_id, dnum,
             dnum - row_number() OVER (PARTITION BY user_id ORDER BY dnum)
                 AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
      FROM isl GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(sum(len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks,
           CAST(max(len) AS BIGINT) AS longest_streak
    FROM streaks GROUP BY user_id
    ORDER BY user_id
    """,
    sort=("user_id",),
    doc="Gaps-and-islands over the activity calendar: consecutive "
    "active days collapse to streaks via the classic dnum - row_number "
    "anchor (consecutive days share an anchor; any gap starts a new "
    "island), reporting active days / streak count / longest streak "
    "per user. Dates become integer epoch-day numbers BEFORE the "
    "arithmetic so both engines subtract exact integers. One shuffle "
    "on user_id; the window and both aggregates are partition-local "
    "thereafter — streak depth never matters, only rows per user.",
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("dnum"),
        )
        .distinct()
    )
    w = W.partitionBy("user_id").orderBy("dnum")
    isl = days.withColumn(
        "anchor", F.col("dnum") - F.row_number().over(w)
    )
    streaks = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


@register(
    "time_in_state_twa",
    """
    WITH stream AS (
      SELECT user_id, event_type,
             epoch_us(ts) AS t_us,
             CAST(round(coalesce(value, 0) * 100) AS BIGINT) AS v_centi
      FROM events WHERE ts IS NOT NULL
    ),
    held AS (
      SELECT user_id, event_type, v_centi,
             (lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us)
              - t_us) // 1000 AS dt_ms
      FROM stream
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(dt_ms) AS BIGINT) AS state_ms,
           CAST(sum(v_centi * dt_ms) // sum(dt_ms) AS BIGINT)
               AS twa_value_centi
    FROM held WHERE dt_ms IS NOT NULL AND dt_ms > 0
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Time-in-state weighted average (the TSDB time_weight/state-"
    "timeline aggregate): each event holds its type and value as the "
    "user's state until the next event, so the mean is weighted by "
    "HELD DURATION, not event count — the correct average for "
    "irregularly sampled gauges. Durations are exact integer epoch-"
    "microsecond differences floored to ms, values centi-quantized; "
    "the weighted mean is one integer floor division (documented "
    "headroom: per-type sum(v_centi*dt_ms) peaks ~1.4e17 at sf0.1, "
    "60x under int64; a 100 TB run re-buckets by day first so the "
    "products stay bounded). One shuffle on user_id for the lead "
    "window, one group-by on the held states.",
)
def time_in_state_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t_us"),
            F.round(F.coalesce(F.col("value"), F.lit(0)) * 100)
            .cast("long")
            .alias("v_centi"),
        )
    )
    w = W.partitionBy("user_id").orderBy("t_us")
    held = ev.withColumn(
        "dt_ms",
        F.expr("(lead(t_us) OVER (PARTITION BY user_id ORDER BY t_us)"
               " - t_us) DIV 1000"),
    ).where(F.col("dt_ms").isNotNull() & (F.col("dt_ms") > 0))
    return held.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum("dt_ms").cast("long").alias("state_ms"),
        F.expr("CAST(sum(v_centi * dt_ms) DIV sum(dt_ms) AS BIGINT)").alias(
            "twa_value_centi"
        ),
    )


@register(
    "weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag AS grp,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                 AS price_cents,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ),
    per_price AS (
      SELECT grp, price_cents, sum(qty) AS wt
      FROM w GROUP BY grp, price_cents
    ),
    cum AS (
      SELECT grp, price_cents, wt,
             sum(wt) OVER (PARTITION BY grp ORDER BY price_cents
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY grp) AS tw
      FROM per_price
    )
    SELECT grp,
           CAST(min(price_cents) AS BIGINT) AS weighted_median_cents,
           CAST(min(tw) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * cw >= tw
    GROUP BY grp
    ORDER BY grp
    """,
    sort=("grp",),
    doc="Exact weighted median (lower weighted median: smallest value "
    "whose cumulative weight reaches half the total) of lineitem price "
    "weighted by quantity, per return flag — the robust center a "
    "skewed money distribution needs where the quantity-blind median "
    "misleads. Prices go through DECIMAL cents; weights and cumulative "
    "sums are exact integers, and the 2*cw >= tw threshold avoids any "
    "division. Distributed shape: pre-aggregate to (group, price) "
    "grain first — the window then runs over the COLLAPSED relation "
    "(distinct prices, not rows), one shuffle on the group key; no "
    "global sort anywhere.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    per_price = li.groupBy("grp", "price_cents").agg(
        F.sum("qty").alias("wt")
    )
    w_cum = (
        W.partitionBy("grp")
        .orderBy("price_cents")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = per_price.withColumn("cw", F.sum("wt").over(w_cum)).withColumn(
        "tw", F.sum("wt").over(W.partitionBy("grp"))
    )
    return (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(
            F.min("price_cents").cast("long").alias("weighted_median_cents"),
            F.min("tw").cast("long").alias("total_weight"),
        )
    )


@register(
    "t_closeness_audit",
    """
    WITH buck AS (
      SELECT c_mktsegment AS seg,
             (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
              + 100000) // 110000 AS b
      FROM customer
    ),
    g AS (SELECT seg, b, CAST(count(*) AS BIGINT) AS gc
          FROM buck GROUP BY seg, b),
    gt AS (SELECT seg, CAST(sum(gc) AS BIGINT) AS gtot FROM g GROUP BY seg),
    a AS (SELECT b, CAST(count(*) AS BIGINT) AS ac FROM buck GROUP BY b),
    at AS (SELECT CAST(sum(ac) AS BIGINT) AS atot FROM a),
    grid AS (
      SELECT s.seg, a.b, coalesce(g.gc, 0) AS gc, a.ac
      FROM (SELECT DISTINCT seg FROM buck) s
      CROSS JOIN a
      LEFT JOIN g ON g.seg = s.seg AND g.b = a.b
    ),
    cums AS (
      SELECT seg, b,
             sum(gc) OVER (PARTITION BY seg ORDER BY b
                           ROWS UNBOUNDED PRECEDING) AS cg,
             sum(ac) OVER (PARTITION BY seg ORDER BY b
                           ROWS UNBOUNDED PRECEDING) AS ca
      FROM grid
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM a)
    SELECT c.seg,
           CAST(gt.gtot AS BIGINT) AS n_rows,
           CAST(1000000 * sum(abs(c.cg * at.atot - c.ca * gt.gtot))
                // ((m.nb - 1) * gt.gtot * at.atot) AS BIGINT)
               AS emd_ppm
    FROM cums c
    CROSS JOIN at CROSS JOIN m
    JOIN gt ON gt.seg = c.seg
    GROUP BY c.seg, gt.gtot, at.atot, m.nb
    ORDER BY c.seg
    """,
    sort=("seg",),
    doc="t-closeness audit (Li et al.): per quasi-identifier group "
    "(market segment), the earth-mover's distance between the group's "
    "distribution over ordered sensitive buckets (account balance in "
    "fixed 1100-dollar bands, integer-cents bucketing) and the global "
    "distribution — EMD over an ordered attribute is the mean absolute "
    "cumulative-probability gap, computed here as EXACT integers with "
    "common denominator gtot*atot and quantized to ppm by one floor "
    "division. Completes the privacy family (k-anonymity, l-diversity "
    "already registered): a group whose emd_ppm exceeds t leaks the "
    "sensitive attribute through group membership. Bucket grid is "
    "(segments x bands) — tiny; the only data-sized pass is the one "
    "bucketing aggregate.",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the bucketed grain fans out into FIVE consumer paths (gt, a ->
    # {grid, atot, nb}, segs, grid's left join) — unpinned, the executed
    # plan re-scanned customer 6 times for one (seg, band) aggregate
    # (tools/audit_reuse.py). The grain is
    # bounded (|segments| x |bands| — bands are fixed 1100-dollar windows
    # over the acctbal domain, ~50 rows at ANY scale factor), so
    # localCheckpoint is admissible by the repo rule and cuts the plan to
    # ONE customer scan; the global per-bucket counts (a) re-derive from
    # the group counts by a second grouping of the pinned grain instead
    # of a second raw pass, and segs collapses the grain, not the scan.
    g = (
        load_table(spark, sf_dir, "customer")
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.expr(
                "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " + 100000) DIV 110000"
            ).alias("b"),
        )
        .groupBy("seg", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("gc"))
        .localCheckpoint()
    )
    gt = g.groupBy("seg").agg(F.sum("gc").cast("long").alias("gtot"))
    a = g.groupBy("b").agg(F.sum("gc").cast("long").alias("ac"))
    atot = a.agg(F.sum("ac").cast("long").alias("atot"))
    nb = a.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    segs = g.select("seg").distinct()
    grid = (
        segs.crossJoin(F.broadcast(a))
        .join(g, ["seg", "b"], "left")
        .select("seg", "b", F.coalesce("gc", F.lit(0)).alias("gc"), "ac")
    )
    w_cum = (
        W.partitionBy("seg").orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    )
    cums = grid.select(
        "seg",
        "b",
        F.sum("gc").over(w_cum).alias("cg"),
        F.sum("ac").over(w_cum).alias("ca"),
    )
    return (
        cums.join(F.broadcast(gt), "seg")
        .crossJoin(F.broadcast(atot))
        .crossJoin(F.broadcast(nb))
        .groupBy("seg", "gtot", "atot", "nb")
        .agg(
            F.expr(
                "CAST(1000000 * sum(abs(cg * atot - ca * gtot))"
                " DIV ((nb - 1) * gtot * atot) AS BIGINT)"
            ).alias("emd_ppm")
        )
        .select(
            "seg",
            F.col("gtot").cast("long").alias("n_rows"),
            "emd_ppm",
        )
    )


# Poisson(1) inverse-CDF thresholds in ppm (e^-1 series, precomputed once
# in Python and embedded as literals in BOTH engines — the NDCG-weights
# precedent), capped at 6: P(X > 6) < 6e-5
_POIS_CASE = (
    "CASE WHEN {u} < 367879 THEN 0 WHEN {u} < 735759 THEN 1 "
    "WHEN {u} < 919699 THEN 2 WHEN {u} < 981012 THEN 3 "
    "WHEN {u} < 996340 THEN 4 WHEN {u} < 999406 THEN 5 ELSE 6 END"
)


@register(
    "poisson_bootstrap_ci",
    f"""
    WITH reps AS (SELECT unnest(range(32)) AS b),
    drawn AS (
      SELECT e.event_type, r.b,
             {_POIS_CASE.format(
                 u="CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR)"
                   " || ':' || CAST(r.b AS VARCHAR)), 1, 6)) AS BIGINT)"
                   " % 1000000")} AS m,
             CAST(round(coalesce(e.value, 0) * 1000) AS BIGINT) AS v_milli
      FROM events e CROSS JOIN reps r
    ),
    rep_means AS (
      SELECT event_type, b,
             sum(m * v_milli) // sum(m) AS wmean
      FROM drawn GROUP BY event_type, b
      HAVING sum(m) > 0
    ),
    base AS (
      SELECT event_type,
             CAST(sum(CAST(round(coalesce(value, 0) * 1000) AS BIGINT))
                  // count(*) AS BIGINT) AS mean_milli
      FROM events GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(count(*) AS BIGINT) AS n_replicas,
           CAST(min(b2.mean_milli) AS BIGINT) AS mean_milli,
           CAST(list(r.wmean ORDER BY r.wmean)[2] AS BIGINT) AS ci_lo_milli,
           CAST(list(r.wmean ORDER BY r.wmean)[31] AS BIGINT) AS ci_hi_milli
    FROM rep_means r JOIN base b2 USING (event_type)
    GROUP BY r.event_type
    ORDER BY r.event_type
    """,
    sort=("event_type",),
    doc="Poisson bootstrap confidence interval (Chamandy et al., 'the "
    "bootstrap at terabyte scale'): classic resampling needs a global "
    "index per resample; the Poisson trick gives each row an "
    "independent Poisson(1) multiplicity per replica, so 32 bootstrap "
    "replicas are ONE pass over the data with a 32-way explode — "
    "embarrassingly parallel, no coordination, the only correct "
    "bootstrap at 100 TB. Multiplicities come from a deterministic "
    "md5-uniform through the Poisson inverse CDF (ppm thresholds "
    "precomputed in Python, embedded as literals in both engines); "
    "replica means are exact integer milli-unit floor divisions; the "
    "CI is the 2nd/31st order statistic of the 32 sorted replica "
    "means — integers end to end, so the driver hash pins the entire "
    "resampling pipeline, not a float approximation of it.",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 1000)
        .cast("long")
        .alias("v_milli"),
    )
    drawn = ev.withColumn(
        "b", F.explode(F.sequence(F.lit(0), F.lit(31)))
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("event_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        % 1000000,
    ).withColumn("m", F.expr(_POIS_CASE.format(u="u")))
    rep_means = (
        drawn.groupBy("event_type", "b")
        .agg(
            F.expr("sum(m * v_milli) DIV sum(m)").alias("wmean"),
            F.sum("m").alias("tm"),
        )
        .where(F.col("tm") > 0)
    )
    base = ev.groupBy("event_type").agg(
        F.expr("CAST(sum(v_milli) DIV count(*) AS BIGINT)").alias(
            "mean_milli"
        )
    )
    return (
        rep_means.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replicas"),
            F.element_at(F.array_sort(F.collect_list("wmean")), 2)
            .cast("long")
            .alias("ci_lo_milli"),
            F.element_at(F.array_sort(F.collect_list("wmean")), 31)
            .cast("long")
            .alias("ci_hi_milli"),
        )
        .join(F.broadcast(base), "event_type")
        .select(
            "event_type",
            "n_replicas",
            "mean_milli",
            "ci_lo_milli",
            "ci_hi_milli",
        )
    )


# ---------------------------------------------------------------------------
# Interval algebra, reconciliation, dependency profiling, information
# theory, time-series diagnostics, sliding distinct, watermark replay,
# regression, bitwise aggregation
# ---------------------------------------------------------------------------


_DWELL_US = 600_000_000  # 10-minute dwell interval per event


@register(
    "interval_union_coverage",
    f"""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + {_DWELL_US} AS e_us
      FROM events
    ),
    seg AS (
      SELECT user_id, s_us, e_us,
             max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_e
      FROM iv
    ),
    per_user AS (
      SELECT user_id,
             sum(greatest(e_us - greatest(s_us, coalesce(prev_e, s_us)), 0))
               AS covered_us
      FROM seg GROUP BY user_id
    )
    SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(covered_us) AS BIGINT) AS total_covered_us,
           CAST(max(covered_us) AS BIGINT) AS max_covered_us
    FROM per_user GROUP BY 1 ORDER BY 1
    """,
    sort=("bucket",),
    doc="Interval-union coverage (sweep-line): each event opens a "
    "10-minute dwell interval; per user, the UNION length of their "
    "overlapping intervals — the classic 'total active time' measure "
    "that naive sum-of-durations double-counts. One pass: a running "
    "max of interval ends over the per-user time order turns union "
    "length into sum(end - max(start, prev_max_end))+ — no interval "
    "self-join, no explosion to second grain. All windows are "
    "PARTITIONED by user; epoch-microsecond integers end to end. At "
    "100 TB this is one shuffle to user grain; the per-user sort is "
    "within-partition.",
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(_DWELL_US)).alias("e_us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seg = iv.withColumn("prev_e", F.max("e_us").over(w))
    per_user = seg.groupBy("user_id").agg(
        F.sum(
            F.greatest(
                F.col("e_us")
                - F.greatest(F.col("s_us"), F.coalesce("prev_e", "s_us")),
                F.lit(0),
            )
        ).alias("covered_us")
    )
    return (
        per_user.groupBy((F.col("user_id") % 8).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("covered_us").cast("long").alias("total_covered_us"),
            F.max("covered_us").cast("long").alias("max_covered_us"),
        )
    )


@register(
    "two_source_reconciliation",
    """
    WITH a AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    b AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 31 = 0 THEN 7 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 89 <> 0
    ),
    j AS (
      SELECT coalesce(a.k, b.k) AS k, a.cents AS ca, b.cents AS cb
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT CASE WHEN ca IS NULL THEN 'b_only'
                WHEN cb IS NULL THEN 'a_only'
                WHEN ca = cb THEN 'match'
                ELSE 'mismatch' END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                         THEN abs(ca - cb) ELSE 0 END) AS BIGINT)
             AS abs_diff_cents
    FROM j GROUP BY 1 ORDER BY 1
    """,
    sort=("status",),
    doc="Two-source reconciliation — the migration/mirror sign-off "
    "query: FULL OUTER join two snapshots of the same entity set on "
    "the business key and classify every key as match / value-mismatch "
    "/ left-only / right-only, with the total absolute money drift in "
    "exact cents. Sources are deterministic derivations of orders "
    "(drop every 97th key from A, every 89th from B, perturb every "
    "31st value in B by 7 cents) so the expected cell counts are "
    "data-defined. One co-keyed shuffle; the classification is a "
    "projection. The reference's table-vs-table count checks "
    "(validation.sql:16-46) generalized to row-grain value parity.",
)
def two_source_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    a = o.where(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("ca")
    )
    b = o.where(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"),
        (
            cents
            + F.when(F.col("o_orderkey") % 31 == 0, F.lit(7)).otherwise(0)
        ).alias("cb"),
    )
    j = a.join(b, "k", "full_outer")
    status = (
        F.when(F.col("ca").isNull(), "b_only")
        .when(F.col("cb").isNull(), "a_only")
        .when(F.col("ca") == F.col("cb"), "match")
        .otherwise("mismatch")
    )
    return j.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                F.abs(F.col("ca") - F.col("cb")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("abs_diff_cents"),
    )


_FDS = (
    ("customer.c_name->c_custkey", "customer", "c_name", "c_custkey"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    ("lineitem.l_orderkey->l_shipdate", "lineitem", "l_orderkey", "l_shipdate"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
)


@register(
    "functional_dependency_audit",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS violation_ppm
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd
          FROM {tbl} GROUP BY {lhs})
    """
        for name, tbl, lhs, rhs in _FDS
    )
    + "\nORDER BY fd",
    sort=("fd",),
    doc="Functional-dependency audit — schema-discovery profiling: for "
    "each candidate FD lhs->rhs, the number of lhs groups whose rhs is "
    "not unique (FD violations), in exact ppm. c_name->c_custkey holds "
    "(names are synthesized from keys); the other three are genuinely "
    "violated, so the query proves both directions. Per FD: one "
    "map-side-partial distinct-count aggregate at lhs grain folded to "
    "a single row; the four FDs union. The PK/composite-PK checks "
    "(validation.sql) generalized to arbitrary column determinism.",
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, tbl, lhs, rhs in _FDS:
        g = (
            load_table(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        outs.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                viol.cast("long").alias("n_violating"),
                F.expr(
                    "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000"
                    " div count(*) AS BIGINT)"
                ).alias("violation_ppm"),
            )
        )
    out = outs[0]
    for more in outs[1:]:
        out = out.unionByName(more)
    return out


@register(
    "mutual_information_features",
    """
    WITH joint AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat, count(*) AS c
      FROM customer GROUP BY 1, 2
    ),
    mx AS (SELECT seg, sum(c) AS cx FROM joint GROUP BY seg),
    my AS (SELECT nat, sum(c) AS cy FROM joint GROUP BY nat),
    tot AS (SELECT sum(c) AS n FROM joint)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum((CAST(c AS DOUBLE) / n) *
                 ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))
                 ORDER BY seg, nat)
               AS DOUBLE), 6) AS mi_nats
    FROM joint
    JOIN mx USING (seg) JOIN my USING (nat) CROSS JOIN tot
    """,
    sort=("n_cells",),
    doc="Mutual information between two categorical features "
    "(mktsegment x nationkey) — the feature-redundancy / "
    "association-strength measure feature selection runs before "
    "training. Data folds ONCE to the joint-count grid (|segments| x "
    "|nations| <= 125 cells); marginals and MI fold over the grid, "
    "never the data. Counts are exact integers; the log expression is "
    "a fixed operation tree over them, and the float FOLD over the "
    "grid is ORDER-PINNED on both engines (Spark: single sorted "
    "partition before the agg; DuckDB: sum(... ORDER BY seg, nat)) so "
    "summation-order permutation can never move a value across the "
    "6-digit rounding boundary — the module discipline holds. One "
    "customer-grain shuffle; grid joins broadcast; the pinned fold "
    "runs on the <=125-cell grid, bounded by construction.",
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ≤125-cell joint grid feeds FOUR consumers (both marginals, the
    # total, the MI fold); unpinned, each re-ran the customer-grain scan
    # + shuffle (audited 4 customer scans — now 1). Answer-sized pin.
    joint = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    mx = joint.groupBy("seg").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("nat").agg(F.sum("c").alias("cy"))
    tot = joint.agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ratio = (F.col("c").cast("double") * F.col("n")) / (
        F.col("cx").cast("double") * F.col("cy")
    )
    return (
        joint.join(F.broadcast(mx), "seg")
        .join(F.broadcast(my), "nat")
        .crossJoin(F.broadcast(tot))
        .repartition(1)
        .sortWithinPartitions("seg", "nat")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.round(F.sum(p * F.log(ratio)), 6).alias("mi_nats"),
        )
    )


@register(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
               AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    series AS (
      SELECT CAST(spine.d - bounds.d0 AS BIGINT) AS t,
             coalesce(daily.x, 0) AS x
      FROM spine CROSS JOIN bounds LEFT JOIN daily ON daily.d = spine.d
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM series
    ),
    lagk AS (
      SELECT k.k,
             CAST(sum(cur.x * prv.x) AS BIGINT) AS sxy,
             CAST(sum(cur.x) AS BIGINT) AS sa,
             CAST(sum(prv.x) AS BIGINT) AS sb
      FROM (SELECT unnest(generate_series(1, 7)) AS k) k
      JOIN series cur ON cur.t >= k.k
      JOIN series prv ON prv.t = cur.t - k.k
      GROUP BY k.k
    )
    SELECT CAST(lagk.k AS BIGINT) AS lag,
           CAST(base.n AS BIGINT) AS n_days,
           round(CAST(
             (CAST(base.n AS DOUBLE) * CAST(base.n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(base.n AS DOUBLE) * CAST(base.s AS DOUBLE)
                * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
              + (CAST(base.n AS DOUBLE) - CAST(lagk.k AS DOUBLE))
                * CAST(base.s AS DOUBLE) * CAST(base.s AS DOUBLE))
             / (CAST(base.n AS DOUBLE)
                * (CAST(base.n AS DOUBLE) * CAST(base.sxx AS DOUBLE)
                   - CAST(base.s AS DOUBLE) * CAST(base.s AS DOUBLE)))
           AS DOUBLE), 6) AS acf
    FROM lagk CROSS JOIN base
    ORDER BY lag
    """,
    sort=("lag",),
    doc="Autocorrelation of the daily-revenue series at lags 1..7 — the "
    "seasonality diagnostic behind weekday_seasonality and "
    "seasonal_naive_backtest, computed EXACTLY: the series is the "
    "zero-filled date spine in whole dollars (integer); sums (S, "
    "S_xx, S_xy per lag, partial sums A/B) are exact integer folds, "
    "and ACF(k) = (n^2*Sxy - n*S*(A+B) + (n-k)*S^2) / (n*(n*Sxx - "
    "S^2)) — the mean never materializes as a rational, the whole "
    "ratio is ONE fixed double expression over exact integers (engine-"
    "deterministic), rounded to 6. The lag join runs on the DAY-grain "
    "relation (bounded by the date range) cross a 7-row lag spine — "
    "never on orders; orders fold once to day grain with map-side "
    "partials.",
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100"
                " AS BIGINT)"
            ).alias("x")
        )
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d"), "d0"
    )
    series = (
        spine.join(daily, "d", "left")
        .select(
            F.datediff("d", "d0").cast("long").alias("t"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    ).localCheckpoint()  # day-grain, bounded; reused by base + 7 lag joins
    base = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    cur = series.alias("cur")
    prv = series.alias("prv")
    lagk = (
        F.broadcast(ks)
        .join(cur, F.col("cur.t") >= F.col("k"))
        .join(
            prv,
            F.col("prv.t") == F.col("cur.t") - F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.col("cur.x") * F.col("prv.x")).cast("long").alias("sxy"),
            F.sum(F.col("cur.x")).cast("long").alias("sa"),
            F.sum(F.col("prv.x")).cast("long").alias("sb"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        lagk.crossJoin(F.broadcast(base))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            F.round(
                (
                    d("n") * d("n") * d("sxy")
                    - d("n") * d("s") * (d("sa") + d("sb"))
                    + (d("n") - d("k")) * d("s") * d("s")
                )
                / (d("n") * (d("n") * d("sxx") - d("s") * d("s"))),
                6,
            ).alias("acf"),
        )
    )


@register(
    "sliding_distinct_users_7d",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
    expand AS (
      SELECT DISTINCT ud.user_id, ud.d + CAST(o.o AS INTEGER) AS wend
      FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) o
    )
    SELECT CAST(expand.wend AS DATE) AS window_end,
           CAST(count(*) AS BIGINT) AS n_active_7d
    FROM expand CROSS JOIN bounds
    WHERE expand.wend BETWEEN bounds.d0 AND bounds.d1
    GROUP BY 1 ORDER BY 1
    """,
    sort=("window_end",),
    doc="Sliding-window distinct users (7-day active): for every day, "
    "the number of distinct users seen in the trailing week — the "
    "windowed-COUNT-DISTINCT that a range-frame window CANNOT compute "
    "distributively (distinct does not decompose over frames). The "
    "scalable identity: collapse to user-day grain, replicate each "
    "user-day to the <=7 window-ends it can serve, dedupe (user, "
    "window_end), count per window_end — |user-days| x 7 work, all "
    "keyed shuffles, no per-window re-scan. The dau_wau_stickiness "
    "companion at day grain.",
)
def sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    offs = spark.range(0, 7).select(F.col("id").cast("int").alias("o"))
    expand = (
        ud.crossJoin(F.broadcast(offs))
        .select("user_id", F.date_add("d", F.col("o")).alias("wend"))
        .distinct()
    )
    return (
        expand.crossJoin(F.broadcast(bounds))
        .where(F.col("wend").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("wend").alias("window_end"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_7d"))
    )


_WM_DELAY_US = 600_000_000  # 10-minute watermark delay
_WM_BATCH = 1000  # arrival micro-batch size (event_id order = arrival order)


def watermark_tags(arr: DataFrame, delay_us: int = _WM_DELAY_US) -> DataFrame:
    """Tag each row of an arrival relation (``batch``, ``t_us``, + any
    carry-through columns) with the batch-boundary watermark outcome:
    ``dropped`` (event time below the watermark its batch faces — the
    engine's row-level late filter, as in streaming dropDuplicates) and
    ``late_ok`` (out-of-order but inside the allowed lateness). The
    watermark a batch faces is max(t_us) over all PRIOR batches minus
    ``delay_us`` — Spark updates the watermark at micro-batch
    boundaries, never mid-batch, so in-batch disorder cannot drop.
    tests/test_streaming.py proves parity against the actual engine."""
    bmax = arr.groupBy("batch").agg(F.max("t_us").alias("mx"))
    bwm = bmax.select(
        "batch",
        F.max("mx")
        .over(W.orderBy("batch").rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_mx"),
    )
    return arr.join(F.broadcast(bwm), "batch").withColumns(
        {
            "dropped": F.when(
                F.col("prev_mx").isNotNull()
                & (F.col("t_us") < F.col("prev_mx") - F.lit(delay_us)),
                1,
            ).otherwise(0),
            "late_ok": F.when(
                F.col("prev_mx").isNotNull()
                & (F.col("t_us") < F.col("prev_mx"))
                & (F.col("t_us") >= F.col("prev_mx") - F.lit(delay_us)),
                1,
            ).otherwise(0),
        }
    ).drop("prev_mx")


@register(
    "watermark_late_drop_replay",
    f"""
    WITH arr AS (
      SELECT event_id // {_WM_BATCH} AS batch, epoch_us(ts) AS t_us
      FROM events
    ),
    bmax AS (SELECT batch, max(t_us) AS mx FROM arr GROUP BY batch),
    bwm AS (
      SELECT batch,
             max(mx) OVER (ORDER BY batch
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_mx
      FROM bmax
    ),
    tagged AS (
      SELECT arr.t_us, bwm.prev_mx,
             CASE WHEN bwm.prev_mx IS NOT NULL
                       AND arr.t_us < bwm.prev_mx - {_WM_DELAY_US}
                  THEN 1 ELSE 0 END AS dropped,
             CASE WHEN bwm.prev_mx IS NOT NULL
                       AND arr.t_us < bwm.prev_mx
                       AND arr.t_us >= bwm.prev_mx - {_WM_DELAY_US}
                  THEN 1 ELSE 0 END AS late_ok
      FROM arr JOIN bwm USING (batch)
    )
    SELECT t_us // 3600000000 AS hour_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST(sum(late_ok) AS BIGINT) AS n_late_accepted
    FROM tagged GROUP BY 1 ORDER BY 1
    """,
    sort=("hour_idx",),
    doc="Watermark accounting replayed in batch — Structured Streaming "
    "semantics made auditable: arrival order is event_id, micro-"
    "batches are 1000-arrival groups, and the watermark an event faces "
    "is max(event-time) over all PRIOR batches minus a 10-minute "
    "delay, exactly the batch-boundary watermark update of the "
    "streaming engine (in-batch disorder never drops, matching Spark). "
    "Events are tagged dropped / late-but-accepted and folded to "
    "hourly event-time windows. The arrival prefix-max runs on the "
    "BATCH-grain relation (|events|/1000, bounded), which then "
    "broadcast-joins back — no global per-row window. Companion "
    "evidence for Structured Streaming's late-data handling "
    "(SURVEY §2.8), under the exact integer oracle.",
)
def watermark_late_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = load_table(spark, sf_dir, "events").select(
        F.expr(f"event_id div {_WM_BATCH}").alias("batch"),
        F.unix_micros("ts").alias("t_us"),
    )
    tagged = watermark_tags(arr)
    return tagged.groupBy(
        F.expr("t_us div 3600000000").alias("hour_idx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("dropped").cast("long").alias("n_dropped"),
        F.sum("late_ok").cast("long").alias("n_late_accepted"),
    )


@register(
    "regression_slope_by_group",
    """
    WITH pts AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(o.o_orderdate AS DATE) - DATE '1990-01-01' AS BIGINT)
               AS x,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    s AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY seg
    )
    SELECT seg, n AS n_orders,
           round(CAST(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS DOUBLE), 6) AS slope_cents_per_day
    FROM s ORDER BY seg
    """,
    sort=("seg",),
    doc="Per-segment OLS trend (order value vs. order date): slope from "
    "the closed-form sufficient statistics (n, Sx, Sy, Sxy, Sxx) — "
    "regression as ONE keyed aggregate with map-side partials, the "
    "aggregate-only ML family beside stats_correlation (which shares "
    "the device for r). Sums are exact integer folds (epoch days x "
    "cents); the slope is a single fixed double expression over them, "
    "rounded to 6. Broadcast-joins customer for the segment; no "
    "per-group iteration, no matrix library.",
)
def regression_slope_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    s = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    return s.select(
        "seg",
        F.col("n").alias("n_orders"),
        F.round(
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (d("n") * d("sxx") - d("sx") * d("sx")),
            6,
        ).alias("slope_cents_per_day"),
    )


@register(
    "weekday_bitmask_histogram",
    """
    WITH masks AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << (isodow(CAST(ts AS DATE)) - 1))
               AS mask
      FROM events GROUP BY user_id
    )
    SELECT CAST(mask AS BIGINT) AS mask,
           CAST(bit_count(mask) AS BIGINT) AS n_active_weekdays,
           CAST(count(*) AS BIGINT) AS n_users
    FROM masks GROUP BY mask ORDER BY mask
    """,
    sort=("mask",),
    doc="Weekday-activity bitmask histogram: each user's active "
    "weekdays fold into a 7-bit mask via bit_or(1 << weekday) — the "
    "bitwise aggregate family (roaring-bitmap-style presence encoding "
    "at its smallest), then the mask distribution with popcounts. "
    "Weekday convention pinned cross-engine: Spark weekday() (0=Mon) "
    "== DuckDB isodow-1. Two keyed aggregates, both with map-side "
    "partials; the histogram has <=128 rows by construction. The "
    "compact-presence-set primitive behind audience-overlap and "
    "retention queries at 100 TB.",
)
def weekday_bitmask_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    masks = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), weekday(CAST(ts AS DATE)))")
            ).alias("mask")
        )
    )
    return (
        masks.groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            "mask",
            F.bit_count("mask").cast("long").alias("n_active_weekdays"),
            "n_users",
        )
    )


@register(
    "weekday_adjusted_spikes",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(coalesce(value, 0) * 1000) AS BIGINT))
               AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    wk AS (
      SELECT event_type, isodow(d) - 1 AS w, d, x FROM daily
    ),
    wstat AS (
      SELECT event_type, w, CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(x) AS BIGINT) AS sw
      FROM wk GROUP BY 1, 2
    )
    SELECT wk.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN wk.x * wstat.nw > 2 * wstat.sw
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes_2x,
           CAST(max(CASE WHEN wstat.sw > 0 AND wk.x >= 0
                    THEN wk.x * 1000000 * wstat.nw // wstat.sw END)
             AS BIGINT) AS max_ratio_ppm
    FROM wk JOIN wstat ON wk.event_type = wstat.event_type
                      AND wk.w = wstat.w
    GROUP BY wk.event_type ORDER BY wk.event_type
    """,
    sort=("event_type",),
    doc="Seasonally-adjusted spike detection: a day is a spike when its "
    "value exceeds TWICE its weekday's mean for that event type — the "
    "weekday_seasonality x daily_anomaly composition that catches "
    "'high for a Sunday' where a raw threshold can't. The weekday mean "
    "never materializes as a rational: the test is the cross-"
    "multiplied integer comparison x*nw > 2*sw, and the reported peak "
    "ratio is integer-ppm division — exact end to end. Events fold "
    "once to (type, day) grain; weekday stats are a 7x|types| "
    "broadcast relation.",
)
def weekday_adjusted_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 1000)
                .cast("long")
            )
            .cast("long")
            .alias("x")
        )
    )
    wk = daily.withColumn("w", F.weekday("d"))
    wstat = wk.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum("x").cast("long").alias("sw"),
    )
    return (
        wk.join(F.broadcast(wstat), ["event_type", "w"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(
                F.when(F.col("x") * F.col("nw") > 2 * F.col("sw"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_spikes_2x"),
            # ratio only for sw > 0 AND x >= 0: Spark `div` truncates
            # toward zero while DuckDB `//` floors, so a negative day
            # sum (value is unconstrained DOUBLE) would hash-diverge;
            # a negative day is also never a spike ratio worth reporting
            F.max(
                F.when(
                    (F.col("sw") > 0) & (F.col("x") >= 0),
                    F.expr("x * 1000000 * nw div sw"),
                )
            )
            .cast("long")
            .alias("max_ratio_ppm"),
        )
    )


@register(
    "grouping_sets_distinct_users",
    """
    SELECT CAST(grouping(event_type) * 2 + grouping(d) AS BIGINT) AS gid,
           coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(d AS VARCHAR), '<all>') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (SELECT event_type, CAST(ts AS DATE) AS d, user_id FROM events)
    GROUP BY GROUPING SETS ((event_type), (d), ())
    ORDER BY gid, event_type, day
    """,
    sort=("gid", "event_type", "day"),
    doc="COUNT DISTINCT under GROUPING SETS — the multi-grain audience "
    "rollup (per type, per day, grand total) in ONE statement. "
    "Distinct-under-Expand is a genuinely different physical shape "
    "from grouping_sets_revenue's sums: the Expand replicates rows "
    "per grouping set, then the distinct aggregate dedupes (set, "
    "keys, user) before counting — two aggregate levels the optimizer "
    "plans as partial-distinct + final. grouping() disambiguates "
    "'<all>' labels from literal values; keys are coalesced so no "
    "NULL ordering crosses engines.",
)
def grouping_sets_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    return spark.sql(
        """
        SELECT CAST(grouping(event_type) * 2 + grouping(d) AS BIGINT) AS gid,
               coalesce(event_type, '<all>') AS event_type,
               coalesce(CAST(d AS STRING), '<all>') AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM {ev}
        GROUP BY GROUPING SETS ((event_type), (d), ())
        """,
        ev=ev,
    )


@register(
    "churn_hazard_curve",
    """
    WITH tenure AS (
      SELECT user_id,
             CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
               AS t
      FROM events GROUP BY user_id
    ),
    deaths AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_churned FROM tenure GROUP BY t
    ),
    curve AS (
      SELECT t, n_churned,
             sum(n_churned) OVER (ORDER BY t DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS n_at_risk
      FROM deaths
    )
    SELECT t AS tenure_day, n_churned,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_churned * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
    FROM curve ORDER BY tenure_day
    """,
    sort=("tenure_day",),
    doc="Discrete-time survival (Kaplan-Meier hazard): per user, tenure "
    "= days between first and last activity; hazard at day t = users "
    "whose observed lifetime ended at t over users who survived AT "
    "LEAST t — the churn-risk curve behind retention forecasting. "
    "Users fold once to tenure grain; the at-risk suffix sum runs over "
    "the COLLAPSED tenure histogram (bounded by the observation "
    "window in days), so no window touches user-grain data. Exact "
    "integer ppm.",
)
def churn_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tenure = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
            .cast("long")
            .alias("t")
        )
    )
    deaths = tenure.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_churned")
    )
    curve = deaths.withColumn(
        "n_at_risk",
        F.sum("n_churned").over(
            W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return curve.select(
        F.col("t").alias("tenure_day"),
        "n_churned",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.expr("n_churned * 1000000 div n_at_risk")
        .cast("long")
        .alias("hazard_ppm"),
    )


@register(
    "shingle_containment_pairs",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split_regex(lower(text), '\s+'))),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1])) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
             AS n_common,
           CAST(CASE WHEN len(a.shingles) > 0
                THEN len(list_intersect(a.shingles, b.shingles)) * 1000000
                     // len(a.shingles) END AS BIGINT) AS contain_a_ppm,
           CAST(CASE WHEN len(b.shingles) > 0
                THEN len(list_intersect(a.shingles, b.shingles)) * 1000000
                     // len(b.shingles) END AS BIGINT) AS contain_b_ppm
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    WHERE len(list_intersect(a.shingles, b.shingles)) >= 1
    ORDER BY doc_id_a
    """,
    sort=("doc_id_a",),
    doc="ASYMMETRIC containment on candidate pairs — the near-dup "
    "measure Jaccard misses: a short doc fully quoted inside a long "
    "one has low Jaccard (union is large) but containment(A in B) ~ "
    "1. Reports |A∩B|/|A| and |A∩B|/|B| in exact integer ppm per "
    "adjacent-id candidate pair (at scale candidates come from LSH "
    "buckets, as with ngram_jaccard_pairs). Same array-carrying join "
    "shape as the Jaccard verify: N doc rows cross the shuffle with "
    "their distinct-shingle arrays, intersection is per-row.",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.dedup import word_shingles

    sh = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", 2).alias("shingles")
    )
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    pairs = a.join(b, F.col("doc_id_b") == F.col("doc_id_a") + 1)
    common = F.array_size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.withColumn("n_common", common.cast("long"))
        .where(F.col("n_common") >= 1)
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_common",
            F.when(
                F.array_size("sh_a") > 0,
                F.expr("n_common * 1000000 div array_size(sh_a)"),
            )
            .cast("long")
            .alias("contain_a_ppm"),
            F.when(
                F.array_size("sh_b") > 0,
                F.expr("n_common * 1000000 div array_size(sh_b)"),
            )
            .cast("long")
            .alias("contain_b_ppm"),
        )
    )


@register(
    "gini_split_gain",
    """
    WITH pts AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) // 10000 AS b,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    grain AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
      FROM pts GROUP BY b
    ),
    pre AS (
      SELECT b,
             sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ln,
             sum(p) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS lp,
             sum(n) OVER () AS t, sum(p) OVER () AS tp
      FROM grain
    ),
    gains AS (
      SELECT b AS threshold_bucket,
             CAST(ln AS BIGINT) AS n_left,
             CAST(t - ln AS BIGINT) AS n_right,
             round(CAST(
               (1.0 - (CAST(tp AS DOUBLE) * tp + CAST(t - tp AS DOUBLE) * (t - tp))
                      / (CAST(t AS DOUBLE) * t))
               - (CAST(ln AS DOUBLE) / t)
                 * (1.0 - (CAST(lp AS DOUBLE) * lp
                           + CAST(ln - lp AS DOUBLE) * (ln - lp))
                          / (CAST(ln AS DOUBLE) * ln))
               - (CAST(t - ln AS DOUBLE) / t)
                 * (1.0 - (CAST(tp - lp AS DOUBLE) * (tp - lp)
                           + CAST((t - ln) - (tp - lp) AS DOUBLE)
                             * ((t - ln) - (tp - lp)))
                          / (CAST(t - ln AS DOUBLE) * (t - ln)))
             AS DOUBLE), 6) AS gini_gain
      FROM pre WHERE ln > 0 AND t - ln > 0
    )
    SELECT * FROM gains ORDER BY gini_gain DESC, threshold_bucket LIMIT 5
    """,
    sort=("threshold_bucket",),
    doc="Decision-tree split finding as AGGREGATION — the distributed "
    "tree-building primitive (the XGBoost/LightGBM histogram method): "
    "candidate thresholds are the $10k price buckets, and each "
    "threshold's Gini gain comes from PREFIX SUMS of (count, positives) "
    "over the collapsed bucket grain — never a per-threshold rescan of "
    "the data; orders fold once with map-side partials, the windows run "
    "on the bounded bucket relation. Gini terms are one fixed double "
    "expression over exact integer counts (engine-deterministic), "
    "rounded to 6; top-5 splits by gain with a pinned tie order. Label "
    "= order finalized ('F').",
)
def gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice) AS BIGINT) div 10000").alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    grain = pts.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    wcum = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    pre = grain.select(
        "b",
        F.sum("n").over(wcum).alias("ln"),
        F.sum("p").over(wcum).alias("lp"),
        F.sum("n").over(wall).alias("t"),
        F.sum("p").over(wall).alias("tp"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rn = F.col("t") - F.col("ln")
    rp = F.col("tp") - F.col("lp")
    drn, drp = rn.cast("double"), rp.cast("double")
    parent = 1.0 - (d("tp") * F.col("tp") + (d("t") - d("tp")) * (F.col("t") - F.col("tp"))) / (d("t") * F.col("t"))
    left = (d("ln") / F.col("t")) * (
        1.0 - (d("lp") * F.col("lp") + (d("ln") - d("lp")) * (F.col("ln") - F.col("lp"))) / (d("ln") * F.col("ln"))
    )
    right = (drn / F.col("t")) * (
        1.0 - (drp * rp + (drn - drp) * (rn - rp)) / (drn * rn)
    )
    gains = (
        pre.where((F.col("ln") > 0) & (rn > 0))
        .select(
            F.col("b").alias("threshold_bucket"),
            F.col("ln").cast("long").alias("n_left"),
            rn.cast("long").alias("n_right"),
            F.round(parent - left - right, 6).alias("gini_gain"),
        )
    )
    return gains.orderBy(F.desc("gini_gain"), "threshold_bucket").limit(5)


@register(
    "wilson_interval_priorities",
    """
    WITH s AS (
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos
      FROM orders GROUP BY 1
    )
    SELECT priority, n, pos,
           round(CAST(
             (CAST(pos AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545
                / (2.0 * n)
              - 1.9599639845400545
                * sqrt((CAST(pos AS DOUBLE) / n) * (1.0 - CAST(pos AS DOUBLE) / n) / n
                       + 1.9599639845400545 * 1.9599639845400545
                         / (4.0 * CAST(n AS DOUBLE) * n)))
             / (1.0 + 1.9599639845400545 * 1.9599639845400545 / n)
           AS DOUBLE), 6) AS wilson_lo,
           round(CAST(
             (CAST(pos AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545
                / (2.0 * n)
              + 1.9599639845400545
                * sqrt((CAST(pos AS DOUBLE) / n) * (1.0 - CAST(pos AS DOUBLE) / n) / n
                       + 1.9599639845400545 * 1.9599639845400545
                         / (4.0 * CAST(n AS DOUBLE) * n)))
             / (1.0 + 1.9599639845400545 * 1.9599639845400545 / n)
           AS DOUBLE), 6) AS wilson_hi
    FROM s ORDER BY priority
    """,
    sort=("priority",),
    doc="Wilson 95% score interval for the finalized-order rate per "
    "priority class — the proportion CI that stays inside [0,1] at "
    "small n where the normal approximation fails; the ranking "
    "statistic behind 'sort by lower confidence bound' (Reddit-style "
    "scoring, A/B guardrails). One keyed aggregate to (n, pos); the "
    "interval is a fixed double expression over the two exact integers "
    "(sqrt is IEEE correctly-rounded, so both engines agree bit-for-"
    "bit), z pinned as the literal 1.9599639845400545. Rounded to 6.",
)
def wilson_interval_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    z = 1.9599639845400545
    p = F.col("pos").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    half = z * F.sqrt(p * (1.0 - p) / F.col("n") + z * z / (4.0 * nn * F.col("n")))
    center = p + z * z / (2.0 * F.col("n"))
    denom = 1.0 + z * z / F.col("n")
    return s.select(
        "priority",
        "n",
        "pos",
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )
