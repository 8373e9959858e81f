"""Statistical data-profiling queries — the distribution-analysis surface a
training-data pipeline runs before trusting a corpus (reference analogue:
the distribution-stats block of validation.sql:329-359, generalized).

Cross-engine determinism rules used throughout (the DuckDB oracle must
hash-match to 9 significant digits):

- money sums go through DECIMAL (exact, associative) — double summation
  order differs between Spark partial aggregation and DuckDB;
- medians/quantiles are RANK-based (explicit row_number selection), never
  interpolated — ``percentile_cont`` interpolation is engine-specific at
  the ulp level;
- histogram bins use integer arithmetic on raw data values;
- transcendental outputs (entropy, chi-square, slopes) are rounded to 6
  significant-ish digits, far above libm ulp drift.

Scale notes are per-query; the common pattern is groupBy on bounded key
spaces (event types, days, bins, digits) so every shuffle carries
aggregate rows, not data rows. Global ranks, where semantically required
(Gini, equi-depth), come from ``assign_sequential_ids`` (range-repartition
+ per-partition row_number + broadcast offsets) — never a single-task
global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.keys import assign_sequential_ids
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "gini_customer_spend",
    """
    WITH spend AS (
      SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT CAST(spend AS DOUBLE) AS x,
             row_number() OVER (ORDER BY spend, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM spend
    )
    SELECT round(CAST((2.0 * sum(rk * x) / (n * sum(x)) - (n + 1.0) / n) AS DOUBLE), 6)
             AS gini,
           CAST(n AS BIGINT) AS n_customers
    FROM ranked GROUP BY n
    """,
    doc="Gini coefficient of customer spend concentration. Spend is summed "
    "as DECIMAL so both engines rank the exact same values; ascending "
    "ranks come from assign_sequential_ids (scale-safe dense rank — no "
    "global window). One shuffle to per-customer aggregates (map-side "
    "partial), then rank + two scalar sums.",
)
def gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("spend")
    )
    ranked = assign_sequential_ids(spend, ["spend", "o_custkey"], "rk").select(
        F.col("spend").cast("double").alias("x"), "rk"
    )
    return ranked.agg(
        F.round(
            2.0 * F.sum(F.col("rk") * F.col("x")) / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "chi_square_priority_status",
    """
    WITH cells AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st, count(*) AS obs
      FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT pr, sum(obs) AS row_tot FROM cells GROUP BY pr),
    ct AS (SELECT st, sum(obs) AS col_tot FROM cells GROUP BY st),
    tot AS (SELECT sum(obs) AS n FROM cells)
    SELECT round(CAST(sum(
             power(obs - CAST(row_tot * col_tot AS DOUBLE) / n, 2)
             / (CAST(row_tot * col_tot AS DOUBLE) / n)) AS DOUBLE), 6) AS chi2,
           CAST((count(DISTINCT cells.pr) - 1) * (count(DISTINCT cells.st) - 1)
                AS BIGINT) AS dof
    FROM cells, rt AS r, ct AS c, tot
    WHERE cells.pr = r.pr AND cells.st = c.st
    """,
    doc="Chi-square independence test: order priority × status contingency "
    "table. One shuffle to the (priority,status) cells; marginals are "
    "re-aggregated from the tiny cell table and broadcast back — the raw "
    "table is scanned once.",
)
def chi_square_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pr"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).alias("obs"))
    cells = cells.localCheckpoint()  # tiny; scanned 4×
    rt = cells.groupBy("pr").agg(F.sum("obs").alias("row_tot"))
    ct = cells.groupBy("st").agg(F.sum("obs").alias("col_tot"))
    tot = cells.agg(F.sum("obs").alias("n"))
    joined = (
        cells.join(F.broadcast(rt), "pr")
        .join(F.broadcast(ct), "st")
        .crossJoin(F.broadcast(tot))
    )
    exp = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n")
    return joined.agg(
        F.round(F.sum(F.pow(F.col("obs") - exp, 2) / exp), 6).alias("chi2"),
        (
            (F.countDistinct("pr") - 1) * (F.countDistinct("st") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "ks_binned_click_view",
    """
    WITH ext AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    binned AS (
      SELECT event_type,
             CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((value - lo) / (hi - lo) * 100)
                                  AS INT), 99) END AS bin
      FROM events, ext
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL
    ),
    counts AS (
      SELECT bin,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
             sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
      FROM binned GROUP BY bin
    ),
    cdf AS (
      SELECT sum(c1) OVER (ORDER BY bin) / CAST(sum(c1) OVER () AS DOUBLE) AS f1,
             sum(c2) OVER (ORDER BY bin) / CAST(sum(c2) OVER () AS DOUBLE) AS f2
      FROM counts
    )
    SELECT round(CAST(max(abs(f1 - f2)) AS DOUBLE), 6) AS ks_stat
    FROM cdf
    """,
    doc="Two-sample Kolmogorov-Smirnov distance between click and view "
    "value distributions, on a 100-bin grid (exact ECDF needs a global "
    "sort; the binned variant is one groupBy over ≤100 keys and is the "
    "form that survives 100 TB — grid resolution is the only "
    "approximation). The cumulative pass runs on 100 bin rows, not data.",
)
def ks_binned_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "view") & F.col("value").isNotNull())
        .select("event_type", "value")
    )
    ext = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    # degenerate-range guard: constant column -> hi==lo makes
    # the divide NULL in Spark but an error/inf in SQL engines; bin 0 on
    # both sides keeps the engines aligned exactly when values collapse
    bin_expr = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 100
            ).cast("int"),
            F.lit(99),
        )
    )
    counts = (
        ev.crossJoin(F.broadcast(ext))
        .select("event_type", bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("c2"),
        )
    )
    # ≤100 rows from here on: the unpartitioned running-sum window is a
    # single tiny task by construction, not a data-sized sort.
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cdf = counts.select(
        (F.sum("c1").over(wc) / F.sum("c1").over(wt).cast("double")).alias("f1"),
        (F.sum("c2").over(wc) / F.sum("c2").over(wt).cast("double")).alias("f2"),
    )
    return cdf.agg(F.round(F.max(F.abs(F.col("f1") - F.col("f2"))), 6).alias("ks_stat"))


@register(
    "benford_first_digit",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
           count(*) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM digits), 6) AS observed_p,
           round(CAST(log10(1.0 + 1.0 / digit) AS DOUBLE), 6) AS benford_p
    FROM digits GROUP BY digit ORDER BY digit
    """,
    doc="Benford's-law first-digit profile of order totals — a classic "
    "synthetic-data / fraud smoke test. First digit via DECIMAL→string "
    "(log10-based extraction is ulp-fragile on exact powers of ten). "
    "One shuffle to 9 digit groups; the denominator is a broadcast scalar.",
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    tot = digits.agg(F.count(F.lit(1)).alias("tot"))
    return (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n").cast("double") / F.col("tot"), 6).alias("observed_p"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_p"),
        )
        .orderBy("digit")
    )


@register(
    "entropy_event_type_buckets",
    """
    WITH counts AS (
      SELECT CAST(user_id % 10 AS BIGINT) AS bucket, event_type, count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT bucket, sum(c) AS n FROM counts GROUP BY bucket)
    SELECT counts.bucket,
           round(CAST(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                 AS DOUBLE), 6) AS entropy_nats,
           CAST(count(*) AS BIGINT) AS n_types
    FROM counts JOIN tot ON counts.bucket = tot.bucket
    GROUP BY counts.bucket
    ORDER BY counts.bucket
    """,
    doc="Shannon entropy of the event-type mix per user cohort — the "
    "domain-mixing diversity metric. Data shuffles once to (bucket,type) "
    "counts; entropy folds over ≤5 types per bucket.",
)
def entropy_event_type_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        (F.col("user_id") % 10).cast("long").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("bucket").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        counts.join(F.broadcast(tot), "bucket")
        .groupBy("bucket")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .orderBy("bucket")
    )


@register(
    "zipf_slope_top_terms",
    r"""
    WITH freq AS (
      SELECT word, count(*) AS f
      FROM (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        FROM documents
      ) t
      WHERE word <> ''
      GROUP BY word
      ORDER BY f DESC, word
      LIMIT 1000
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, word) AS rk FROM freq
    )
    SELECT round(CAST(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(rk AS DOUBLE)))
                 AS DOUBLE), 6) AS zipf_slope,
           CAST(count(*) AS BIGINT) AS n_terms
    FROM ranked
    """,
    doc="Zipf's-law fit: OLS slope of log-frequency vs log-rank over the "
    "top-1000 vocabulary (natural language ≈ −1; synthetic/templated "
    "corpora deviate hard — a cheap corpus-health check). Token counts "
    "shuffle once; top-k is TakeOrdered (no global sort), and the rank "
    "window runs on 1000 rows.",
)
def zipf_slope_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("f"))
        .orderBy(F.desc("f"), "word")
        .limit(1000)
    )
    ranked = freq.select(
        "f", F.row_number().over(W.orderBy(F.desc("f"), "word")).alias("rk")
    )
    return ranked.agg(
        F.round(
            F.regr_slope(F.log(F.col("f").cast("double")), F.log(F.col("rk").cast("double"))),
            6,
        ).alias("zipf_slope"),
        F.count(F.lit(1)).alias("n_terms"),
    )


@register(
    "histogram_equi_width_prices",
    """
    WITH ext AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
    )
    SELECT CASE WHEN hi = lo THEN 0
                ELSE least(CAST(floor((l_extendedprice - lo) / (hi - lo) * 20)
                                AS INT), 19) END AS bin,
           count(*) AS n,
           round(CAST(min(l_extendedprice) AS DOUBLE), 2) AS bin_min,
           round(CAST(max(l_extendedprice) AS DOUBLE), 2) AS bin_max
    FROM lineitem, ext
    GROUP BY 1 ORDER BY 1
    """,
    doc="20-bin equi-width histogram of line prices. Bin index is integer "
    "arithmetic on the raw value against broadcast min/max; per-bin "
    "min/max are data values, so everything is exact. One shuffle to 20 "
    "groups with map-side partials — the canonical distributed histogram.",
)
def histogram_equi_width_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    ext = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    bin_expr = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("l_extendedprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 20
            ).cast("int"),
            F.lit(19),
        )
    )
    return (
        li.crossJoin(F.broadcast(ext))
        .groupBy(bin_expr.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("bin_min"),
            F.round(F.max("l_extendedprice"), 2).alias("bin_max"),
        )
        .orderBy("bin")
    )


@register(
    "equi_depth_price_deciles",
    """
    WITH ranked AS (
      SELECT l_extendedprice AS p,
             row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
               AS rk,
             count(*) OVER () AS n
      FROM lineitem
    )
    SELECT CAST(floor((rk - 1) * 10.0 / n) AS INT) AS decile,
           count(*) AS n_rows,
           round(CAST(min(p) AS DOUBLE), 2) AS lo,
           round(CAST(max(p) AS DOUBLE), 2) AS hi
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    doc="Equi-depth (decile) histogram via exact global ranks — "
    "rank-based, so boundaries are data values and both engines agree "
    "exactly (interpolated percentiles are ulp-fragile cross-engine). "
    "Ranks come from assign_sequential_ids: range-repartition keeps the "
    "sort distributed; no single-task window touches the fact table.",
)
def equi_depth_price_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("p"), "l_orderkey", "l_linenumber"
    )
    ranked = assign_sequential_ids(li, ["p", "l_orderkey", "l_linenumber"], "rk")
    tot = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            F.floor((F.col("rk") - 1) * 10.0 / F.col("n")).cast("int").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("p"), 2).alias("lo"),
            F.round(F.max("p"), 2).alias("hi"),
        )
        .orderBy("decile")
    )


@register(
    "mad_outlier_counts",
    """
    WITH v AS (
      SELECT event_type, event_id, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, max(value) AS median_v
      FROM (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM v
      ) r
      WHERE rk <= (n + 1) / 2
      GROUP BY event_type
    ),
    dev AS (
      SELECT v.event_type, v.event_id, abs(v.value - m.median_v) AS d, m.median_v
      FROM v JOIN med m ON v.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, max(d) AS mad_v
      FROM (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) r
      WHERE rk <= (n + 1) / 2
      GROUP BY event_type
    )
    SELECT dev.event_type,
           round(CAST(max(dev.median_v) AS DOUBLE), 6) AS median_v,
           round(CAST(max(mad.mad_v) AS DOUBLE), 6) AS mad_v,
           CAST(sum(CASE WHEN dev.d > 3 * 1.4826 * mad.mad_v THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM dev JOIN mad ON dev.event_type = mad.event_type
    GROUP BY dev.event_type
    ORDER BY dev.event_type
    """,
    doc="Robust outlier screen per event type: median and MAD via exact "
    "LOWER-MEDIAN ranks (rank-based, engine-exact; interpolated medians "
    "drift at the ulp across engines), then the 3σ-equivalent MAD fence. "
    "Windows are partitioned by event_type — five partitions of bounded "
    "skew; at 100 TB swap the row_number median for approx_percentile "
    "and keep the same fence (documented trade).",
)
def mad_outlier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select("event_type", "event_id", "value")
    )

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        w = W.partitionBy("event_type").orderBy(col, "event_id")
        wn = W.partitionBy("event_type")
        return (
            df.withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .where(F.col("rk") <= (F.col("n") + 1) / 2)
            .groupBy("event_type")
            .agg(F.max(col).alias(f"median_{col}"))
        )

    med = lower_median(v, "value").withColumnRenamed("median_value", "median_v")
    # dev feeds both the MAD median and the final rollup — pinned at
    # event grain is too big, but the DIAMOND here is med/mad (answer-
    # sized, already broadcast) plus the double dev lineage; pinning dev
    # would be data-grain, so instead pin the tiny med table (its window
    # lineage re-ran per branch) and accept dev's two passes (audited)
    med = med.localCheckpoint()
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("median_v")).alias("d"),
        "median_v",
    )
    mad = lower_median(dev, "d").withColumnRenamed("median_d", "mad_v")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.max("median_v"), 6).alias("median_v"),
            F.round(F.max("mad_v"), 6).alias("mad_v"),
            F.sum(
                F.when(F.col("d") > 3 * 1.4826 * F.col("mad_v"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "decimal_money_totals",
    """
    SELECT l_returnflag,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS gross,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(1 - l_discount AS DECIMAL(18,6)))
                      AS DOUBLE), 4) AS net,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="Exact money aggregation through DECIMAL — the fixed-point parity "
    "rule (SURVEY §2 F7): double sums are order-dependent and differ "
    "between engines/partitionings; DECIMAL addition is associative, so "
    "the same bits come back at any parallelism. The FINAL projection is "
    "cast to rounded DOUBLE so both engines hand the harness the same "
    "primitive representation (high-scale Decimals canonicalize "
    "differently per client: '…76730000' vs '…7673'). Map-side partial "
    "sums then one 3-group shuffle.",
)
def decimal_money_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
                .cast("double"),
                2,
            ).alias("gross"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount")).cast("decimal(18,6)")
                ).cast("double"),
                4,
            ).alias("net"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "source_length_drift",
    """
    WITH d AS (SELECT source, n_chars FROM documents),
    ext AS (SELECT min(n_chars) AS lo, greatest(max(n_chars) - min(n_chars), 1) AS rng
            FROM d),
    binned AS (
      SELECT source,
             least(CAST(floor((n_chars - lo) / CAST(rng AS DOUBLE) * 100) AS INT),
                   99) AS bin
      FROM d, ext
    ),
    counts AS (SELECT source, bin, count(*) AS cnt FROM binned GROUP BY 1, 2),
    bin_tot AS (SELECT bin, sum(cnt) AS tot FROM counts GROUP BY 1),
    grid AS (
      SELECT s.source, CAST(b.bin AS INT) AS bin
      FROM (SELECT DISTINCT source FROM d) s, range(0, 100) b(bin)
    ),
    filled AS (
      SELECT g.source, g.bin,
             coalesce(c.cnt, 0) AS cnt,
             coalesce(t.tot, 0) - coalesce(c.cnt, 0) AS rest
      FROM grid g
      LEFT JOIN counts c ON c.source = g.source AND c.bin = g.bin
      LEFT JOIN bin_tot t ON t.bin = g.bin
    ),
    cdf AS (
      SELECT source,
             sum(cnt) OVER w / CAST(sum(cnt) OVER p AS DOUBLE) AS fs,
             sum(rest) OVER w / CAST(sum(rest) OVER p AS DOUBLE) AS fr,
             sum(cnt) OVER p AS n_docs
      FROM filled
      WINDOW w AS (PARTITION BY source ORDER BY bin ROWS UNBOUNDED PRECEDING),
             p AS (PARTITION BY source)
    )
    SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
           round(CAST(max(abs(fs - fr)) AS DOUBLE), 6) AS ks_vs_rest
    FROM cdf GROUP BY source ORDER BY source
    """,
    sort=("source",),
    doc="Per-source distribution-drift monitor: one-vs-rest binned KS "
    "distance of each source's document-length distribution against the "
    "remainder of the corpus — the standing dashboard that flags a "
    "crawler or supplier whose content suddenly changes shape. Same "
    "100-bin ECDF machinery as ks_binned_click_view, vectorized across "
    "ALL sources in one pass: per-(source,bin) counts (one shuffle at "
    "source×bin grain), a dense sources×100 grid so missing bins still "
    "accumulate, and cumulative windows that run over the grid (bounded "
    "rows), never over data.",
)
def source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    ext = d.agg(
        F.min("n_chars").alias("lo"),
        F.greatest(F.max("n_chars") - F.min("n_chars"), F.lit(1)).alias("rng"),
    )
    bin_expr = F.least(
        F.floor(
            (F.col("n_chars") - F.col("lo")) / F.col("rng").cast("double") * 100
        ).cast("int"),
        F.lit(99),
    )
    # the (source, bin) histogram is answer-sized (sources × ≤100 rows)
    # and feeds THREE branches (grid fill, bin totals, source domain) —
    # pinned so documents scans drop from 5 to 2 (extremes + binning;
    # the source domain now derives from the histogram itself)
    counts = (
        d.crossJoin(F.broadcast(ext))
        .select("source", bin_expr.alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    bin_tot = counts.groupBy("bin").agg(F.sum("cnt").alias("tot"))
    sources = counts.select("source").distinct()
    bins = spark.range(100).select(F.col("id").cast("int").alias("bin"))
    grid = sources.crossJoin(F.broadcast(bins))
    filled = (
        grid.join(counts, ["source", "bin"], "left")
        .join(F.broadcast(bin_tot), "bin", "left")
        .select(
            "source",
            "bin",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            (F.coalesce("tot", F.lit(0)) - F.coalesce("cnt", F.lit(0))).alias("rest"),
        )
    )
    # grid-bounded windows: 100 rows per source, never data grain
    wc = W.partitionBy("source").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    wp = W.partitionBy("source")
    cdf = filled.select(
        "source",
        (F.sum("cnt").over(wc) / F.sum("cnt").over(wp).cast("double")).alias("fs"),
        (F.sum("rest").over(wc) / F.sum("rest").over(wp).cast("double")).alias("fr"),
        F.sum("cnt").over(wp).alias("n_docs"),
    )
    return (
        cdf.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.round(F.max(F.abs(F.col("fs") - F.col("fr"))), 6).alias("ks_vs_rest"),
        )
        .orderBy("source")
    )


_DRIFT_BASELINE = ((0, 0.33), (1, 0.22), (2, 0.15), (3, 0.10), (4, 0.07), (5, 0.13))


@register(
    "drift_monitor_batch_replay",
    f"""
    WITH h AS (
      SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start,
             CAST(floor(value / 20.0) AS BIGINT) AS bin, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    wins AS (SELECT window_start, CAST(sum(n) AS BIGINT) AS n_rows
             FROM h GROUP BY 1),
    base(bin, share) AS (VALUES {', '.join(f'({b}, {s})' for b, s in _DRIFT_BASELINE)}),
    bins AS (SELECT DISTINCT bin FROM h UNION SELECT bin FROM base),
    grid AS (SELECT w.window_start, w.n_rows, b.bin
             FROM wins w CROSS JOIN bins b),
    j AS (
      SELECT g.window_start, g.n_rows, g.bin,
             coalesce(h.n, 0) AS n_obs,
             coalesce(base.share, 0.0) AS base_share
      FROM grid g
      LEFT JOIN h ON h.window_start = g.window_start AND h.bin = g.bin
      LEFT JOIN base ON base.bin = g.bin
    ),
    cdf AS (
      SELECT window_start, n_rows,
             sum(n_obs) OVER (PARTITION BY window_start ORDER BY bin)
               * 1.0 / n_rows AS cdf_obs,
             sum(base_share) OVER (PARTITION BY window_start ORDER BY bin)
               AS cdf_base
      FROM j
    )
    SELECT window_start, n_rows,
           CAST(CAST(round(CAST(max(abs(cdf_obs - cdf_base)) AS DOUBLE), 6)
                     AS DECIMAL(18,6)) AS DOUBLE) AS ks_stat
    FROM cdf GROUP BY window_start, n_rows
    ORDER BY window_start
    """,
    doc="Batch replay of the drift monitor (streaming/drift.py): "
    "windowed_value_histogram then binned_drift_scores against a fixed "
    "reference distribution, under the DuckDB oracle. Day-window KS "
    "series over a month of events: windows x bins grain and one "
    "windowed groupBy.",
)
def drift_monitor_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.streaming.drift import (
        binned_drift_scores,
        windowed_value_histogram,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    hist = windowed_value_histogram(ev, "ts", "value", window_len="1 day", bin_width=20.0)
    baseline = spark.createDataFrame(
        [(b, s) for b, s in _DRIFT_BASELINE], "bin long, share double"
    )
    scores = binned_drift_scores(hist, baseline)
    # Canonicalize the rounded KS stat through DECIMAL and back to DOUBLE
    # here, for the oracle compare only (binned_drift_scores keeps its
    # plain rounded double): each engine's round(x, 6) can emit a
    # different nearest-double for the same 6-decimal value (float-summed
    # CDF → ulp residue); decimal→double is exact on both engines, so the
    # oracle compare's strict hash sees identical bits. Same treatment that fixed
    # decimal_money_totals.
    return scores.withColumn(
        "ks_stat", F.col("ks_stat").cast("decimal(18,6)").cast("double")
    )


@register(
    "psi_value_drift",
    """
    WITH pop AS (
      SELECT value,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 0 ELSE 1 END AS period
      FROM events WHERE value IS NOT NULL
    ),
    ext AS (SELECT min(value) AS lo, max(value) AS hi FROM pop),
    binned AS (
      SELECT period,
             CASE WHEN hi = lo THEN 0
                  ELSE least(CAST(floor((value - lo) / (hi - lo) * 10)
                                  AS INT), 9) END AS bin
      FROM pop, ext
    ),
    counts AS (
      SELECT bin,
             sum(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS c_base,
             sum(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS c_cur
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(sum(c_base) AS DOUBLE) AS n_base,
             CAST(sum(c_cur) AS DOUBLE) AS n_cur
      FROM counts
    ),
    contrib AS (
      SELECT bin, c_base, c_cur,
             ((c_base + 1) / (n_base + 10) - (c_cur + 1) / (n_cur + 10))
             * ln(((c_base + 1) / (n_base + 10))
                  / ((c_cur + 1) / (n_cur + 10))) AS psi_c
      FROM counts, tot
    )
    SELECT bin, CAST(c_base AS BIGINT) AS c_base, CAST(c_cur AS BIGINT) AS c_cur,
           round(CAST(psi_c AS DOUBLE), 6) AS psi_contrib,
           round(CAST(sum(psi_c) OVER () AS DOUBLE), 6) AS psi_total
    FROM contrib
    ORDER BY bin
    """,
    sort=("bin",),
    doc="Population Stability Index between the first and second half of "
    "the event window, on a shared 10-bin equal-width grid (the "
    "ks_binned pattern: scalar extremes broadcast, bin index row-local, "
    "one <=10-key shuffle) with add-one smoothing so empty bins stay "
    "finite — the standard model-monitoring drift score (PSI > 0.2 = "
    "action threshold). Per-bin contributions plus the grand total; the "
    "cumulative/total windows run over bin-grain rows, never data.",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "value",
            F.when(F.to_date("ts") < "2024-01-16", 0).otherwise(1).alias("period"),
        )
    )
    ext = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    bin_expr = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * 10
            ).cast("int"),
            F.lit(9),
        )
    )
    counts = (
        ev.crossJoin(F.broadcast(ext))
        .select("period", bin_expr.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).alias("c_base"),
            F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).alias("c_cur"),
        )
    )
    # totals as windows over the <=10 bin-grain rows, NOT a separate
    # aggregate branch: a crossJoin'd scalar agg re-runs the event scan
    # for the totals (audited: 4 parquet scans); the window form keeps
    # one binning pass + the extremes pass
    wt = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    withtot = counts.select(
        "bin",
        "c_base",
        "c_cur",
        F.sum("c_base").over(wt).cast("double").alias("n_base"),
        F.sum("c_cur").over(wt).cast("double").alias("n_cur"),
    )
    p_base = (F.col("c_base") + 1) / (F.col("n_base") + 10)
    p_cur = (F.col("c_cur") + 1) / (F.col("n_cur") + 10)
    contrib = withtot.select(
        "bin",
        "c_base",
        "c_cur",
        ((p_base - p_cur) * F.log(p_base / p_cur)).alias("psi_c"),
    )
    return contrib.select(
        "bin",
        F.col("c_base").cast("long").alias("c_base"),
        F.col("c_cur").cast("long").alias("c_cur"),
        F.round("psi_c", 6).alias("psi_contrib"),
        F.round(F.sum("psi_c").over(wt), 6).alias("psi_total"),
    )


@register(
    "cuped_adjusted_lift",
    """
    WITH cents AS (
      SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    u AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 2 AS arm,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN c ELSE 0 END)
                  // 100 AS BIGINT) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN c ELSE 0 END)
                  // 100 AS BIGINT) AS y
      FROM cents GROUP BY user_id
    ),
    a AS (
      SELECT arm, CAST(count(*) AS BIGINT) AS n_a,
             CAST(sum(x) AS BIGINT) AS sx_a, CAST(sum(y) AS BIGINT) AS sy_a,
             CAST(sum(x * x) AS BIGINT) AS sxx_a,
             CAST(sum(x * y) AS BIGINT) AS sxy_a
      FROM u GROUP BY arm
    ),
    g AS (
      SELECT CAST(sum(n_a) AS BIGINT) AS n, CAST(sum(sx_a) AS BIGINT) AS sx,
             CAST(sum(sy_a) AS BIGINT) AS sy,
             CAST(sum(sxx_a) AS BIGINT) AS sxx,
             CAST(sum(sxy_a) AS BIGINT) AS sxy
      FROM a
    ),
    t AS (
      SELECT n, sx,
             round((n * sxy - sx * sy) * 1.0
                   / nullif(n * sxx - sx * sx, 0), 9) AS theta
      FROM g
    )
    SELECT a.arm, a.n_a AS n_users, a.sx_a AS sum_x_pre, a.sy_a AS sum_y_post,
           CAST(CAST(round(a.sy_a * 1.0 / a.n_a, 4) AS DECIMAL(18,4))
                AS DOUBLE) AS raw_mean,
           CAST(CAST(round((a.sy_a * 1.0 - t.theta
                            * (a.sx_a * 1.0 - a.n_a * (t.sx * 1.0 / t.n)))
                           / a.n_a, 4) AS DECIMAL(18,4)) AS DOUBLE)
             AS cuped_mean,
           t.theta
    FROM a CROSS JOIN t
    ORDER BY a.arm
    """,
    sort=("arm",),
    doc="CUPED variance-reduced experiment readout (the standard A/B "
    "analysis adjustment): users hash into two arms (deterministic md5 "
    "split — the package's seeded-randomness contract), pre-period "
    "revenue is the covariate, post-period revenue the metric, theta = "
    "cov(x,y)/var(x) pooled over all users, and each arm reports raw vs "
    "CUPED-adjusted mean. Every moment is EXACT integer math: dollars "
    "are rounded to cents (round-then-cast, the truncate-vs-round "
    "gotcha), per-user sums floor-divide to whole units, and "
    "n*Sxy - Sx*Sy style covariance numerators stay in BIGINT until "
    "the single final division — so theta is the identical double on "
    "both engines and the adjusted means survive the strict hash "
    "(rounded 4dp through DECIMAL). Shape: one user-grain shuffle, a "
    "2-row arm aggregate pinned so the pooled moments and the final "
    "projection both consume it without re-scanning events, and the "
    "1-row theta broadcast back.",
)
def cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.queries.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    u = ev.groupBy("user_id").agg(
        F.floor(
            F.sum(F.when(F.col("ts") < split, cents).otherwise(F.lit(0)))
            / F.lit(100)
        )
        .cast("long")
        .alias("x"),
        F.floor(
            F.sum(F.when(F.col("ts") >= split, cents).otherwise(F.lit(0)))
            / F.lit(100)
        )
        .cast("long")
        .alias("y"),
    ).select(
        (hash_bucket(F.col("user_id"), 1 << 24) % 2).alias("arm"), "x", "y"
    )
    # 2-row arm aggregate, pinned: the pooled moments and the final
    # per-arm projection both read it (scan-audit policy: 1 events scan)
    a = (
        u.groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_a"),
            F.sum("x").cast("long").alias("sx_a"),
            F.sum("y").cast("long").alias("sy_a"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_a"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy_a"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    g = a.agg(
        F.sum("n_a").cast("long").alias("n"),
        F.sum("sx_a").cast("long").alias("sx"),
        F.sum("sy_a").cast("long").alias("sy"),
        F.sum("sxx_a").cast("long").alias("sxx"),
        F.sum("sxy_a").cast("long").alias("sxy"),
    )
    t = g.select(
        "n",
        "sx",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * F.lit(1.0)
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
            ),
            9,
        ).alias("theta"),
    )
    xbar = F.col("sx") * F.lit(1.0) / F.col("n")
    cuped = (
        F.col("sy_a") * F.lit(1.0)
        - F.col("theta") * (F.col("sx_a") * F.lit(1.0) - F.col("n_a") * xbar)
    ) / F.col("n_a")
    return (
        a.crossJoin(F.broadcast(t))
        .select(
            "arm",
            F.col("n_a").alias("n_users"),
            F.col("sx_a").alias("sum_x_pre"),
            F.col("sy_a").alias("sum_y_post"),
            F.round(F.col("sy_a") * F.lit(1.0) / F.col("n_a"), 4)
            .cast("decimal(18,4)")
            .cast("double")
            .alias("raw_mean"),
            F.round(cuped, 4)
            .cast("decimal(18,4)")
            .cast("double")
            .alias("cuped_mean"),
            "theta",
        )
    )


@register(
    "seasonal_naive_backtest",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    scored AS (
      SELECT event_type, d, cents,
             lag(cents, 7) OVER (PARTITION BY event_type ORDER BY d) AS pred
      FROM daily
    )
    SELECT event_type,
           CAST(count(pred) AS BIGINT) AS n_days_scored,
           CAST(sum(CASE WHEN pred IS NOT NULL THEN abs(cents - pred) END)
                AS BIGINT) AS total_abs_err_cents,
           CAST(sum(CASE WHEN pred IS NOT NULL THEN cents END) AS BIGINT)
             AS total_actual_cents,
           round(sum(CASE WHEN pred IS NOT NULL THEN abs(cents - pred) END)
                 * 1.0
                 / sum(CASE WHEN pred IS NOT NULL THEN cents END), 6) AS wape
    FROM scored GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Forecast-quality backtest for the seasonal-naive baseline "
    "(predict day d with day d-7): per event type, the weighted absolute "
    "percentage error over every scoreable day. WAPE — sum|err|/sum(act) "
    "— instead of MAPE deliberately: both sums are EXACT integer cents "
    "(day grain, lag-7 via a per-type window over ~30 rows), so the one "
    "final division is the only float op and hashes identically "
    "cross-engine, where MAPE's mean-of-ratios would sum doubles in "
    "shuffle order. Shape: one (type, day) groupBy shuffle; the lag "
    "window runs on day-grain aggregates, never data rows.",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = W.partitionBy("event_type").orderBy("d")
    scored = daily.withColumn("pred", F.lag("cents", 7).over(w))
    err = F.when(F.col("pred").isNotNull(), F.abs(F.col("cents") - F.col("pred")))
    act = F.when(F.col("pred").isNotNull(), F.col("cents"))
    return scored.groupBy("event_type").agg(
        F.count("pred").cast("long").alias("n_days_scored"),
        F.sum(err).cast("long").alias("total_abs_err_cents"),
        F.sum(act).cast("long").alias("total_actual_cents"),
        F.round(
            F.sum(err) * F.lit(1.0) / F.sum(act), 6
        ).alias("wape"),
    )


@register(
    "changepoint_cusum",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(round(sum(CAST(value AS DECIMAL(18,6))) * 1000000)
                  AS BIGINT) AS micro
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(micro) AS BIGINT) AS gmicro
      FROM daily
    ),
    cum AS (
      SELECT day, micro,
             row_number() OVER (ORDER BY day) AS t,
             sum(micro) OVER (ORDER BY day) AS prefix
      FROM daily
    )
    SELECT CAST(cum.day AS VARCHAR) AS day,
           CAST(CAST(round(1.0 * cum.micro / 1000000, 4) AS DECIMAL(18, 4))
                AS DOUBLE) AS daily_total,
           CAST(CAST(round(
             1.0 * (g.n_days * cum.prefix - cum.t * g.gmicro)
             / g.n_days / 1000000, 4) AS DECIMAL(18, 4)) AS DOUBLE)
             AS cusum,
           CASE WHEN abs(g.n_days * cum.prefix - cum.t * g.gmicro) =
                  (SELECT max(abs(g2.n_days * c2.prefix - c2.t * g2.gmicro))
                   FROM cum c2 CROSS JOIN g g2)
                THEN 1 ELSE 0 END AS is_changepoint
    FROM cum CROSS JOIN g
    ORDER BY cum.day
    """,
    doc="CUSUM changepoint curve on daily event totals: cusum_t = "
    "sum_{i<=t}(x_i - mean), whose extremum marks the most likely "
    "level-shift day (the classic offline single-changepoint "
    "detector; the monitoring companion of psi_value_drift and "
    "drift_monitor). Exactness: daily totals quantize to integer "
    "MICRO units (DECIMAL sum, exact), and the mean subtraction is "
    "cleared of division by scaling — n*prefix_t - t*grand_total is "
    "ALL int64, so the argmax flag is exact on both engines and the "
    "only float ops are two final correctly-rounded divisions. The "
    "curve is day-grain: the one data-sized shuffle is the daily "
    "rollup; windows and the argmax run over calendar-bounded rows.",
)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum(F.col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long")
        .alias("micro")
    )
    # day-grain relation feeds the grand total, the prefix walk AND the
    # argmax — pin it (calendar-sized) per the diamond policy
    daily = daily.coalesce(1).localCheckpoint()
    g = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("micro").cast("long").alias("gmicro"),
    )
    w = W.orderBy("day")
    cum = daily.select(
        "day",
        "micro",
        F.row_number().over(w).alias("t"),
        F.sum("micro").over(w.rowsBetween(W.unboundedPreceding, 0)).alias(
            "prefix"
        ),
    ).crossJoin(F.broadcast(g))
    scaled = F.col("n_days") * F.col("prefix") - F.col("t") * F.col("gmicro")
    peak = cum.agg(F.max(F.abs(scaled)).alias("peak"))
    return (
        cum.crossJoin(F.broadcast(peak))
        .select(
            F.col("day").cast("string").alias("day"),
            F.round(F.lit(1.0) * F.col("micro") / 1000000, 4)
            .cast("decimal(18,4)")
            .cast("double")
            .alias("daily_total"),
            F.round(
                F.lit(1.0) * scaled / F.col("n_days") / 1000000, 4
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("cusum"),
            F.when(F.abs(scaled) == F.col("peak"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_changepoint"),
        )
        .orderBy("day")
    )


@register(
    "quantile_normalization_map",
    """
    WITH per AS (
      SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, n_chars, c,
             sum(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum,
             sum(c) OVER (PARTITION BY source) AS n
      FROM per
    ),
    spine AS (SELECT unnest(range(1, 10)) AS decile),
    src_vals AS (
      SELECT source, decile, min(n_chars) AS src_value
      FROM cum, spine
      WHERE cum >= (decile * n + 9) // 10
      GROUP BY source, decile
    ),
    gper AS (SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
    gcum AS (
      SELECT n_chars,
             sum(c) OVER (ORDER BY n_chars) AS cum,
             sum(c) OVER () AS n
      FROM gper
    ),
    g_vals AS (
      SELECT decile, min(n_chars) AS global_value
      FROM gcum, spine
      WHERE cum >= (decile * n + 9) // 10
      GROUP BY decile
    )
    SELECT s.source, CAST(s.decile AS INT) AS decile,
           CAST(s.src_value AS BIGINT) AS src_value,
           CAST(g.global_value AS BIGINT) AS global_value,
           CAST(s.src_value - g.global_value AS BIGINT) AS shift
    FROM src_vals s JOIN g_vals g USING (decile)
    ORDER BY source, decile
    """,
    sort=("source", "decile"),
    doc="Quantile-normalization map: each source's exact rank-based "
    "decile boundaries of document length mapped onto the global decile "
    "boundaries (the cross-source feature-alignment table a mixing "
    "pipeline uses to re-weight or re-scale a skewed source). Exact "
    "integer thresholds ceil(q*n/10) = (q*n+9) DIV 10 keep both engines "
    "selecting the same data value — no interpolation. The cumulative "
    "windows run on the (source, n_chars) DISTINCT-VALUE grain, bounded "
    "by the length domain (not the row count), so the plan holds at "
    "100 TB; the 9-row decile spine is a broadcast cross join.",
)
def quantile_normalization_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    w_cum = W.partitionBy("source").orderBy("n_chars")
    w_tot = W.partitionBy("source")
    cum = per.select(
        "source", "n_chars",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("n"),
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("decile"))
    src_vals = (
        cum.crossJoin(F.broadcast(spine))
        .where(F.expr("cum >= (decile * n + 9) DIV 10"))
        .groupBy("source", "decile")
        .agg(F.min("n_chars").alias("src_value"))
    )
    gper = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    gw_cum = W.orderBy("n_chars")
    gw_tot = W.partitionBy()
    gcum = gper.select(
        "n_chars",
        F.sum("c").over(gw_cum).alias("cum"),
        F.sum("c").over(gw_tot).alias("n"),
    )
    g_vals = (
        gcum.crossJoin(F.broadcast(spine))
        .where(F.expr("cum >= (decile * n + 9) DIV 10"))
        .groupBy("decile")
        .agg(F.min("n_chars").alias("global_value"))
    )
    return (
        src_vals.join(F.broadcast(g_vals), "decile")
        .select(
            "source",
            "decile",
            F.col("src_value").cast("long").alias("src_value"),
            F.col("global_value").cast("long").alias("global_value"),
            (F.col("src_value") - F.col("global_value")).cast("long").alias("shift"),
        )
    )


@register(
    "burstiness_fano_factor",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(c) AS BIGINT) AS total_events,
           round(CAST(
             (count(*) * sum(c * c) - sum(c) * sum(c))
             AS DOUBLE) / ((count(*) - 1) * sum(c)), 6) AS fano
    FROM daily
    GROUP BY event_type
    HAVING count(*) > 1
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Burstiness (Fano factor = sample variance / mean) of daily "
    "event arrivals per type — dispersion >> 1 flags bursty/bot-like "
    "streams a curation pipeline down-weights. Two bounded-grain "
    "aggregations: (type, day) counts shuffle once with map-side "
    "combine, then the per-type moments reduce the day grain. All "
    "moments stay exact integers (n*sum(c^2) - sum(c)^2); one final "
    "division is rounded to 6 digits, so the engines hash-match.",
)
def burstiness_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("c"))
    n = F.count(F.lit(1))
    s1 = F.sum("c")
    s2 = F.sum(F.col("c") * F.col("c"))
    return (
        daily.groupBy("event_type")
        .agg(
            n.cast("long").alias("n_days"),
            s1.cast("long").alias("total_events"),
            F.round(
                (n * s2 - s1 * s1).cast("double") / ((n - 1) * s1), 6
            ).alias("fano"),
        )
        .where(F.col("n_days") > 1)
        .orderBy("event_type")
    )


@register(
    "js_divergence_sources",
    """
    WITH cnt AS (
      SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(c) AS t FROM cnt GROUP BY source),
    g AS (SELECT lang, sum(c) AS gc FROM cnt GROUP BY lang),
    gt AS (SELECT sum(c) AS gtot FROM cnt),
    spine AS (SELECT source, t, lang, gc, gtot FROM tot, g, gt),
    terms AS (
      SELECT s.source, s.t,
             CAST(coalesce(c.c, 0) AS DOUBLE) / s.t AS p,
             CAST(s.gc AS DOUBLE) / s.gtot AS q
      FROM spine s LEFT JOIN cnt c ON c.source = s.source AND c.lang = s.lang
    )
    SELECT source,
           CAST(max(t) AS BIGINT) AS n_docs,
           round(CAST(sum(
             0.5 * (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END)
             + 0.5 * (q * ln(q / ((p + q) / 2)))
           ) AS DOUBLE), 6) AS jsd
    FROM terms
    GROUP BY source
    ORDER BY source
    """,
    sort=("source",),
    doc="Jensen-Shannon divergence between each source's language mix "
    "and the corpus-wide mix — the symmetric, bounded drift measure "
    "(complements psi_value_drift's PSI) used to spot sources whose "
    "composition departs from the blend a pretraining mix planned. The "
    "(source, lang) contingency grain is categorical-bounded, the "
    "source x lang spine is a broadcast cross join of two aggregate "
    "relations, and missing cells are zero-filled via a left join so "
    "absent languages contribute the exact q*ln(2) mass on the "
    "global side. Probabilities are exact integer ratios; ln() touches "
    "only the final per-cell term, summed over <= |langs| cells and "
    "rounded to 6 digits.",
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the (source, lang) contingency feeds FOUR consumers (per-source
    # totals, global lang counts, grand total, and the zero-fill join);
    # unpinned, each consumer re-scans documents — at 100 TB that is 4
    # full passes for one categorical-bounded relation. localCheckpoint
    # is safe here by the repo rule (answer-sized: |sources| x |langs|
    # rows) and cuts the plan to ONE scan of documents.
    cnt = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    tot = cnt.groupBy("source").agg(F.sum("c").alias("t"))
    g = cnt.groupBy("lang").agg(F.sum("c").alias("gc"))
    gt = cnt.agg(F.sum("c").alias("gtot"))
    spine = tot.crossJoin(F.broadcast(g)).crossJoin(F.broadcast(gt))
    terms = spine.join(
        cnt, ["source", "lang"], "left"
    ).select(
        "source",
        "t",
        (F.coalesce(F.col("c"), F.lit(0)).cast("double") / F.col("t")).alias("p"),
        (F.col("gc").cast("double") / F.col("gtot")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    cell = (
        F.lit(0.5) * F.when(F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)).otherwise(0.0)
        + F.lit(0.5) * (F.col("q") * F.log(F.col("q") / m))
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("t").cast("long").alias("n_docs"),
            F.round(F.sum(cell), 6).alias("jsd"),
        )
        .orderBy("source")
    )
