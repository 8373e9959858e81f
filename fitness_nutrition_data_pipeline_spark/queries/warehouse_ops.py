"""Warehouse change-tracking and curation-weighting operators.

Three classic large-pipeline shapes the inventory didn't cover yet:

- **SCD Type-2 collapse**: turn an ordered event/snapshot stream of
  entity attribute values into [valid_from, valid_to) history rows —
  the standard slowly-changing-dimension build. Reference analog: the
  warehouse dims in db_schema.sql are Type-1 (overwrite); Type-2 is
  what the same warehouse needs once history matters.
- **Winsorization**: clip a measure at exact per-group percentiles
  before aggregating — robust stats for quality/outlier handling.
- **DSIR-style importance weights**: hashed-n-gram log-likelihood-ratio
  weights of a target distribution vs the whole corpus (Xie et al.,
  "Data Selection for Language Models via Importance Resampling",
  NeurIPS 2023) — the selection signal used to up-sample target-like
  documents in LLM pretraining mixes.

At scale: the SCD2 build is two partition-local windows + one
aggregation, all keyed on the entity — one shuffle on the entity key,
no global sort. Winsorization is a grouped percentile (partial-agg) and
a broadcast join of the tiny per-group threshold table back onto the
facts. The DSIR weights shuffle once on a 1024-value bucket key; the
per-bucket weight table broadcasts onto the token stream, so the
corpus-sized side never moves twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.scratch import scratch_path
from fitness_nutrition_data_pipeline_spark.queries.sampling import hash_bucket
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "scd2_priority_history",
    """
    WITH runs AS (
      SELECT o_custkey, o_orderpriority,
             CAST(o_orderdate AS DATE) AS od, o_orderkey,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    ),
    numbered AS (
      SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                               ORDER BY od, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    ),
    collapsed AS (
      SELECT o_custkey, run_id, o_orderpriority,
             min(od) AS valid_from, count(*) AS n_orders
      FROM numbered
      GROUP BY o_custkey, run_id, o_orderpriority
    )
    SELECT o_custkey, o_orderpriority, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
               AS valid_to,
           n_orders,
           CASE WHEN lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY run_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM collapsed
    ORDER BY o_custkey, valid_from
    """,
    sort=("o_custkey", "valid_from"),
    doc="SCD Type-2 dimension build: collapse consecutive runs of each "
    "customer's order-priority attribute into [valid_from, valid_to) "
    "validity intervals with a current-row flag. lag→change-flag→running "
    "sum→group→lead; every window is partitioned by the entity key, so "
    "the whole build is one shuffle on o_custkey regardless of history "
    "depth. Reference analog: Type-2 variant of the Dim_* builds "
    "(db_schema.sql:24-96).",
)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("od"),
            "o_orderkey",
        )
    )
    w_ord = W.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    runs = o.withColumn(
        "chg",
        F.when(
            ~F.lag("o_orderpriority").over(w_ord).eqNullSafe(F.col("o_orderpriority")),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "run_id",
        F.sum("chg").over(w_ord.rowsBetween(W.unboundedPreceding, 0)),
    )
    collapsed = runs.groupBy("o_custkey", "run_id", "o_orderpriority").agg(
        F.min("od").alias("valid_from"), F.count("*").alias("n_orders")
    )
    w_run = W.partitionBy("o_custkey").orderBy("run_id")
    return collapsed.select(
        "o_custkey",
        "o_orderpriority",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        "n_orders",
        F.when(F.lead("valid_from").over(w_run).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_current"),
    )


@register(
    "winsorized_price_stats",
    """
    WITH q AS (
      SELECT o_orderpriority,
             round(quantile_cont(o_totalprice, 0.01), 4) AS p01,
             round(quantile_cont(o_totalprice, 0.99), 4) AS p99
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(CAST(round(avg(least(greatest(o.o_totalprice, q.p01), q.p99)),
                           2) AS DECIMAL(18,2)) AS DOUBLE)
               AS winsorized_mean,
           CAST(CAST(round(avg(o.o_totalprice), 2) AS DECIMAL(18,2))
                AS DOUBLE) AS raw_mean,
           CAST(sum(CASE WHEN o.o_totalprice < q.p01 OR o.o_totalprice > q.p99
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    doc="Winsorized (p01/p99-clipped) per-group mean vs raw mean — robust "
    "aggregate for outlier-heavy measures. Thresholds are exact "
    "interpolated percentiles rounded to 4dp BEFORE clipping so both "
    "engines clip at the identical boundary. The threshold table is one "
    "row per group → broadcast back onto the facts; facts shuffle once "
    "for the final group-by. The rounded means are canonicalized through "
    "DECIMAL(18,2) and back to DOUBLE: each engine's round() can emit a "
    "different nearest-double for the same cent value (ulp residue that "
    "a strict value hash catches); decimal→double conversion is exact "
    "and correctly rounded, so both engines hand back identical bits — "
    "the same treatment that fixed decimal_money_totals.",
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    q = o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.01)), 4).alias("p01"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )
    joined = o.join(F.broadcast(q), "o_orderpriority")
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg(clipped), 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("winsorized_mean"),
        F.round(F.avg("o_totalprice"), 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("raw_mean"),
        F.sum(
            F.when(
                (F.col("o_totalprice") < F.col("p01"))
                | (F.col("o_totalprice") > F.col("p99")),
                1,
            ).otherwise(0)
        ).alias("n_clipped"),
    ).orderBy("o_orderpriority")


_TOK_SQL = """
      SELECT doc_id, lang, tok
      FROM (SELECT doc_id, lang,
                   unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents)
      WHERE tok <> ''
"""


@register(
    "dsir_importance_weights",
    f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 1024 AS bucket
      FROM ({_TOK_SQL})
    ),
    stats AS (
      SELECT bucket, count(*) AS ccnt,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tcnt
      FROM toks GROUP BY bucket
    ),
    tot AS (SELECT sum(ccnt) AS c_total, sum(tcnt) AS t_total FROM stats),
    w AS (
      SELECT bucket,
             ln((tcnt + 1.0) / (t_total + 1024)) -
             ln((ccnt + 1.0) / (c_total + 1024)) AS wt
      FROM stats, tot
    )
    SELECT t.doc_id, t.lang, count(*) AS n_tokens,
           round(avg(wt), 4) + 0.0 AS dsir_weight
    FROM toks t JOIN w USING (bucket)
    GROUP BY t.doc_id, t.lang
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="DSIR-style importance weights (Xie et al. 2023): hash word "
    "unigrams into 1024 buckets, estimate target (lang='en') vs corpus "
    "bucket distributions with add-one smoothing, score each document "
    "by its mean log-likelihood ratio. The bucket table is ≤1024 rows → "
    "broadcast onto the token stream; the corpus shuffles once on "
    "bucket for the stats and once on doc_id for the final per-doc "
    "mean. At 100 TB the bucket stats come from a 1-pass partial agg "
    "and the scoring pass is embarrassingly parallel.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .select("doc_id", "lang", hash_bucket(F.col("tok"), 1024).alias("bucket"))
    )
    # stats is ≤1024 rows (answer-sized) and feeds TWO consumers (the
    # totals agg and the weight projection); unpinned, each re-ran the
    # corpus scan + token explode + md5 bucketing (audited 3 documents
    # scans — now 2: one stats pass + one scoring pass, the DSIR shape)
    stats = toks.groupBy("bucket").agg(
        F.count("*").alias("ccnt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tcnt"),
    ).localCheckpoint()
    tot = stats.agg(
        F.sum("ccnt").alias("c_total"), F.sum("tcnt").alias("t_total")
    )
    w = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("tcnt") + 1.0) / (F.col("t_total") + 1024))
            - F.log((F.col("ccnt") + 1.0) / (F.col("c_total") + 1024))
        ).alias("wt"),
    )
    return (
        toks.join(F.broadcast(w), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            # + 0.0 normalizes IEEE negative zero: a doc whose mean
            # log-ratio rounds to zero must hash identically whichever
            # side of 0.0 each engine's float drift landed on
            (F.round(F.avg("wt"), 4) + 0.0).alias("dsir_weight"),
        )
    )


@register(
    "unigram_lm_crossentropy",
    r"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id,
                   unnest(string_split_regex(lower(text), '\s+')) AS tok
            FROM documents)
      WHERE tok <> ''
    ),
    split AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                       AS BIGINT) % 10 < 8
                  THEN 'train' ELSE 'heldout' END AS split
      FROM documents
    ),
    lm AS (
      SELECT t.tok, count(*) AS c
      FROM toks t JOIN split s USING (doc_id)
      WHERE s.split = 'train'
      GROUP BY t.tok
    ),
    nv AS (SELECT sum(c) AS n, count(*) AS v FROM lm),
    scored AS (
      SELECT t.doc_id,
             -ln((coalesce(lm.c, 0) + 1.0) / (n + v + 1)) AS nll
      FROM toks t LEFT JOIN lm USING (tok), nv
    )
    SELECT sc.doc_id, sp.split,
           count(*) AS n_tokens,
           round(avg(nll), 4) AS avg_nll
    FROM scored sc JOIN split sp USING (doc_id)
    GROUP BY sc.doc_id, sp.split
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Unigram-LM cross-entropy quality score — the KenLM-style "
    "perplexity filter of web-corpus pipelines (CCNet et al.), "
    "distributed: train an add-one-smoothed unigram LM on the hash-"
    "assigned train split (same deterministic bucket as "
    "train_val_test_split, so the LM can never see heldout docs), then "
    "score EVERY document by mean negative log-likelihood; unseen "
    "tokens get the smoothing floor 1/(N+V+1). High avg_nll = "
    "out-of-distribution/noisy text — the standard corpus-quality "
    "ranking signal. Plan: token explode → key-partitioned join on tok "
    "against the LM (no broadcast hint — the vocab scales with the "
    "corpus; AQE decides), one per-doc aggregate; the (N,V) scalar pair "
    "is a 1-row broadcast. Transcendental output rounded to 4dp (libm "
    "parity, the dsir convention).",
)
def unigram_lm_crossentropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
    )
    split = docs.select(
        "doc_id",
        F.when(hash_bucket(F.col("doc_id"), 10) < 8, "train")
        .otherwise("heldout")
        .alias("split"),
    )
    lm = (
        toks.join(split.where(F.col("split") == "train").select("doc_id"), "doc_id")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        # the LM is a trained artifact consumed twice (the (N,V) scalars
        # and the scoring join); unpinned, each consumer re-explodes and
        # re-aggregates the full token stream. Train
        # once, materialize, score with it — exactly what a KenLM-style
        # pipeline does; the pinned relation is vocab-grain, orders of
        # magnitude below the token stream it summarizes.
        .localCheckpoint()
    )
    nv = lm.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v"))
    scored = (
        toks.join(lm, "tok", "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "doc_id",
            (
                -F.log(
                    (F.coalesce("c", F.lit(0)) + 1.0)
                    / (F.col("n") + F.col("v") + 1)
                )
            ).alias("nll"),
        )
    )
    return (
        scored.join(split, "doc_id")
        .groupBy("doc_id", "split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
        )
    )


@register(
    "pit_join_scd2",
    """
    WITH runs AS (
      SELECT o_custkey, o_orderpriority,
             CAST(o_orderdate AS DATE) AS od, o_orderkey,
             CASE WHEN lag(o_orderpriority) OVER w IS DISTINCT FROM o_orderpriority
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
    ),
    numbered AS (
      SELECT *, sum(chg) OVER (PARTITION BY o_custkey
                               ORDER BY od, o_orderkey
                               ROWS UNBOUNDED PRECEDING) AS run_id
      FROM runs
    ),
    scd AS (
      SELECT o_custkey, run_id, o_orderpriority AS dim_priority,
             min(od) AS valid_from
      FROM numbered GROUP BY o_custkey, run_id, o_orderpriority
    ),
    dim AS (
      SELECT o_custkey, dim_priority, valid_from,
             coalesce(lead(valid_from) OVER (PARTITION BY o_custkey
                                             ORDER BY run_id),
                      DATE '9999-12-31') AS valid_to
      FROM scd
    )
    SELECT o.o_orderkey, o.o_custkey, CAST(o.o_orderdate AS DATE) AS od,
           d.dim_priority,
           CASE WHEN d.dim_priority = o.o_orderpriority THEN 1 ELSE 0 END
               AS priority_consistent
    FROM orders o
    JOIN dim d
      ON d.o_custkey = o.o_custkey
     AND CAST(o.o_orderdate AS DATE) >= d.valid_from
     AND CAST(o.o_orderdate AS DATE) < d.valid_to
    WHERE o.o_custkey < 200
    ORDER BY o_orderkey
    """,
    sort=("o_orderkey",),
    doc="Point-in-time (as-of) join against the SCD Type-2 dimension "
    "(scd2_priority_history's intervals): each fact row picks the dim "
    "version whose [valid_from, valid_to) contains its date — the "
    "temporal-join pattern every history-keeping warehouse query needs. "
    "Spark plan: equi-join ON THE ENTITY KEY with the interval "
    "predicate as a post-join filter — a partitioned hash join, never a "
    "nested-loop range join, because version intervals are disjoint per "
    "key (each fact matches exactly one version). The consistency flag "
    "doubles as a self-check: a correctly built SCD2 reproduces the "
    "source attribute for every fact (sum == count). At 100 TB the dim "
    "shuffles once on the key alongside the facts; history depth only "
    "widens the per-key group, never the join algorithm.",
)
def pit_join_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 200)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderpriority",
            F.col("o_orderdate").cast("date").alias("od"),
        )
    )
    w_ord = W.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    runs = o.withColumn(
        "chg",
        F.when(
            ~F.lag("o_orderpriority").over(w_ord).eqNullSafe(
                F.col("o_orderpriority")
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "run_id", F.sum("chg").over(w_ord.rowsBetween(W.unboundedPreceding, 0))
    )
    scd = runs.groupBy("o_custkey", "run_id").agg(
        F.first("o_orderpriority").alias("dim_priority"),
        F.min("od").alias("valid_from"),
    )
    w_run = W.partitionBy("o_custkey").orderBy("run_id")
    dim = scd.select(
        "o_custkey",
        "dim_priority",
        "valid_from",
        F.coalesce(
            F.lead("valid_from").over(w_run), F.lit("9999-12-31").cast("date")
        ).alias("valid_to"),
    )
    return (
        o.join(dim, "o_custkey")
        .where((F.col("od") >= F.col("valid_from")) & (F.col("od") < F.col("valid_to")))
        .select(
            "o_orderkey",
            "o_custkey",
            "od",
            "dim_priority",
            F.when(F.col("dim_priority") == F.col("o_orderpriority"), 1)
            .otherwise(0)
            .alias("priority_consistent"),
        )
    )


@register(
    "target_encoding_smoothed",
    """
    WITH y AS (
      SELECT o_orderpriority AS category,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    cat AS (
      SELECT category,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM y GROUP BY category
    ),
    g AS (
      SELECT CAST(sum(n) AS BIGINT) AS gn,
             CAST(sum(sum_cents) AS BIGINT) AS gsum
      FROM cat
    )
    SELECT cat.category,
           cat.n,
           cat.sum_cents,
           CAST(CAST(round(
             1.0 * (g.gn * cat.sum_cents + 20 * g.gsum)
             / (g.gn * (cat.n + 20)) / 100, 2) AS DECIMAL(18, 2))
             AS DOUBLE) AS encoded_mean,
           CAST(CAST(round(1.0 * g.gsum / g.gn / 100, 2) AS DECIMAL(18, 2))
                AS DOUBLE) AS global_mean
    FROM cat CROSS JOIN g
    ORDER BY cat.category
    """,
    sort=("category",),
    doc="Smoothed target encoding (the m-estimate, m=20): the "
    "feature-engineering staple that replaces a categorical with its "
    "shrunk target mean, enc = (sum_y + m*global_mean)/(n + m) — rare "
    "categories pull toward the prior instead of memorizing noise. "
    "Float discipline: the shrinkage is algebraically rearranged to "
    "ONE division of two exact integers, (gn*sum + m*gsum)/(gn*(n+m)), "
    "so both engines round the identical rational (int64 headroom "
    "documented: gn*sum_cents tops out ~1e17 at bench SFs; a 100 TB "
    "encoder keeps the two integer columns and divides at READ time, "
    "or accepts double accumulation and drops the hash-exactness "
    "claim). One scan to category grain; the global prior is a 1-row "
    "broadcast. The train/apply split at scale: this relation IS the "
    "encoder table — applying it is a broadcast join onto the fact, "
    "never a shuffle.",
)
def target_encoding_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    y = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("category"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cat = y.groupBy("category").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    g = cat.agg(
        F.sum("n").cast("long").alias("gn"),
        F.sum("sum_cents").cast("long").alias("gsum"),
    )
    return (
        cat.crossJoin(F.broadcast(g))
        .select(
            "category",
            "n",
            "sum_cents",
            F.round(
                F.lit(1.0)
                * (F.col("gn") * F.col("sum_cents") + 20 * F.col("gsum"))
                / (F.col("gn") * (F.col("n") + 20))
                / 100,
                2,
            )
            .cast("decimal(18,2)")
            .cast("double")
            .alias("encoded_mean"),
            F.round(F.lit(1.0) * F.col("gsum") / F.col("gn") / 100, 2)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("global_mean"),
        )
        .orderBy("category")
    )


@register(
    "bucketed_join_audit",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    sort=("c_mktsegment",),
    doc="The bucketed-write path (load.py::write_bucketed, S5) under "
    "the hard oracle: persist orders and customer bucketed+sorted on "
    "the join key, then join THE BUCKETED TABLES and aggregate revenue "
    "per segment in exact integer cents — the oracle recomputes from "
    "the source relations, so a bucketing writer that dropped, "
    "duplicated or mis-routed a row hash-fails (the plan-level "
    "zero-exchange property is pinned separately in "
    "tests/test_bucketing.py). This is the disk-layout join strategy "
    "at 100 TB: co-bucketed fact/dim join with NO shuffle on either "
    "side, the shuffle paid once at write time instead of once per "
    "query.",
)
def bucketed_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.load import write_bucketed

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    ot, ct = f"orders_ba_{tag}", f"customer_ba_{tag}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ),
        ot,
        "o_custkey",
        8,
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        ),
        ct,
        "c_custkey",
        8,
    )
    o = spark.table(ot)
    c = spark.table(ct)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "incremental_agg_maintenance",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 10 != 0
    ),
    delta AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
      WHERE o_orderkey % 10 = 0 OR o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT coalesce(d.o_orderkey, b.o_orderkey) AS k,
             coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             coalesce(d.cents, b.cents) AS cents,
             d.op
      FROM base b FULL OUTER JOIN delta d USING (o_orderkey)
    )
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM merged
    WHERE op IS NULL OR op != 'D'
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    sort=("o_orderstatus",),
    doc="Incremental view maintenance, PROVEN equal to recompute: the "
    "engine maintains the per-status (count, cents) aggregate by "
    "combining the PRIOR aggregate with delta effects only — inserts "
    "add, deletes subtract, updates subtract the old row's "
    "contribution and add the new (the retraction join touches "
    "delta-sized data) — while the ORACLE recomputes the view from "
    "the merged state in full. A hash match is an algebraic proof "
    "the maintenance arithmetic equals recompute on this data; any "
    "sign error or missed retraction diverges. This is the pattern "
    "that turns a 100 TB nightly rebuild into a delta-sized job: "
    "old-agg is group-grain (tiny), and the only data-touching work "
    "is delta JOIN base on the key — co-bucketed, it never shuffles "
    "the base.",
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = o.where(F.col("o_orderkey") % 10 != 0)
    delta = o.where(
        (F.col("o_orderkey") % 10 == 0)
        | (F.col("o_orderkey") % 5 == 0)
        | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.col("cents")
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(100)).otherwise(
                F.lit(0)
            )
        ).alias("cents"),
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    # prior aggregate — group-grain, the thing a real system has stored
    old_agg = base.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c")
    )
    # delta effects: the retraction join finds each touched key's OLD
    # row (delta-sized probe into the base; co-bucketed at scale)
    d = delta.alias("d")
    b = base.alias("b")
    # the retraction join is DELTA-sized (a real IVM system materializes
    # its change feed anyway) and feeds BOTH the retract and insert
    # branches — pin it so orders scans 3x (prior agg, base join side,
    # delta), not 5x (audit_reuse caught the unpinned diamond)
    joined = d.join(
        b, F.col("d.o_orderkey") == F.col("b.o_orderkey"), "left"
    ).localCheckpoint()
    # per (status, effect): deletes retract old; updates retract old and
    # insert new; unmatched 'U' rows are pure inserts
    retract = joined.where(F.col("b.o_orderkey").isNotNull()).select(
        F.col("b.o_orderstatus").alias("o_orderstatus"),
        F.lit(-1).alias("dn"),
        (-F.col("b.cents")).alias("dc"),
    )
    insert = joined.where(F.col("d.op") != "D").select(
        F.col("d.o_orderstatus").alias("o_orderstatus"),
        F.lit(1).alias("dn"),
        F.col("d.cents").alias("dc"),
    )
    effects = retract.unionByName(insert).groupBy("o_orderstatus").agg(
        F.sum("dn").alias("en"), F.sum("dc").alias("ec")
    )
    return (
        old_agg.join(effects, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce("n", F.lit(0)) + F.coalesce("en", F.lit(0)))
            .cast("long")
            .alias("n_orders"),
            (F.coalesce("c", F.lit(0)) + F.coalesce("ec", F.lit(0)))
            .cast("long")
            .alias("total_cents"),
        )
        .where(F.col("n_orders") > 0)
        .orderBy("o_orderstatus")
    )


# ≈ one file-group per this many event rows (~hundreds of MB of parquet
# at this table's row width — inside the guide §6 128 MB-1 GB target)
_ROWS_PER_DAY_FILE = 4_000_000


def _write_day_partitioned(ev: DataFrame, path: str) -> None:
    """Dynamic-partition write of ``ev`` (must carry ``day`` and
    ``event_id``) distributed by (day, file-group).

    ``repartition(day)`` alone — one writer task per day — fixes the
    (tasks × days) small-file blowup but leaves a serialization ceiling:
    a HOT day funnels into a single task at 100 TB. So per-day file
    groups are sized from a per-day count over the partition column only
    (guide §8: decide placement on small rows): groups = ceil(day_rows / _ROWS_PER_DAY_FILE), salt =
    pmod(xxhash64(event_id), groups) — deterministic under task retry
    (SPARK-38388). A hot day now engages ceil(its_rows / target) writer
    tasks while a small day keeps exactly one file; at sf0.1 every day
    computes groups=1, so the local layout (and bench behavior) is the
    one-task-per-day shape plus one tiny counting job.

    ``ev`` is computed twice: once by the per-day count and once by the
    write. That is cheap for a scan plus ``to_date`` (every current
    caller); a caller passing an expensive computed DataFrame should pin
    it first (e.g. ``localCheckpoint``)."""
    days = ev.groupBy("day").agg(
        F.greatest(
            F.lit(1),
            F.ceil(F.count(F.lit(1)) / F.lit(_ROWS_PER_DAY_FILE)),
        )
        .cast("int")
        .alias("_fgroups")
    )
    # LEFT join + coalesce(1): an inner join on `day` would silently DROP
    # rows whose partition value is NULL (SQL null-key semantics — the
    # groupBy above keeps the null group, but null never equi-joins back),
    # where a plain repartition(day) writer preserves them under
    # __HIVE_DEFAULT_PARTITION__. Null-day rows get one file group.
    (
        ev.join(F.broadcast(days), "day", "left")
        .withColumn(
            "_fgrp",
            F.pmod(
                F.xxhash64("event_id"),
                F.coalesce(F.col("_fgroups"), F.lit(1)),
            ),
        )
        .repartition(F.col("day"), F.col("_fgrp"))
        .drop("_fgrp", "_fgroups")
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )


@register(
    "partitioned_write_prune_audit",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(coalesce(value, 0) * 1000000) AS BIGINT))
                AS BIGINT) AS value_ppm
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1
    ORDER BY day
    """,
    sort=("day",),
    doc="The date-PARTITIONED writer under the hard oracle, completing "
    "the S5 layout trio (partitioned here, bucketed_join_audit, "
    "zorder_write_band_spans): write events partitioned by day to "
    "parquet, read the partitioned table back with a one-week "
    "predicate, and aggregate — the oracle recomputes from the source "
    "relation, so a writer that mis-partitioned, dropped or "
    "duplicated rows across directory boundaries hash-fails. The "
    "filter on the PARTITION column prunes at planning time: only 7 "
    "of ~31 day directories are scanned (the plan's PartitionFilters "
    "carries the BETWEEN — asserted in tests/test_plans.py), which is "
    "THE mechanism that turns a 100 TB fact scan into a "
    "week-of-data scan. Values fold to integer ppm so the audit is "
    "exact.",
)
def partitioned_write_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    # per-application scratch (see zorder_write_band_spans): isolate
    # concurrent processes, keep within-session reruns stable
    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = scratch_path(spark, tag, "events_by_day")
    # salted day-distribution before the dynamic-partition write —
    # see _write_day_partitioned (one task per day, hot days salted)
    _write_day_partitioned(ev, path)
    back = spark.read.parquet(path).where(
        (F.col("day") >= F.lit("2024-01-08").cast("date"))
        & (F.col("day") <= F.lit("2024-01-14").cast("date"))
    )
    return (
        back.groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0)) * 1000000).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("value_ppm"),
        )
        .orderBy("day")
    )


@register(
    "ivm_batch_replay",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(coalesce(value, 0) * 1000000) AS BIGINT))
                AS BIGINT) AS value_ppm
    FROM events
    WHERE NOT (event_id % 3 = 0 AND event_id % 7 = 0)
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Batch replay of the STREAMING incremental-view maintainer "
    "(streaming/ivm.py): three deterministic micro-batch waves of "
    "events — two insert waves, then a wave that both inserts and "
    "RETRACTS every wave-1 row with event_id % 7 = 0 — fold through "
    "the identical delta_effects + merge_state functions the "
    "foreachBatch sink runs, while the oracle recomputes the final "
    "per-type (count, value_ppm) aggregate from scratch over the "
    "net-surviving rows. A hash match proves the streaming "
    "maintainer's signed algebra (insert +1/+v, retract -1/-v, merge "
    "= union + re-aggregate over state + delta only) equals full "
    "recompute — the bridge between "
    "incremental_agg_maintenance (batch) and the streaming rollups. "
    "Scale: each merge touches group-grain state + one batch's "
    "delta; the history is never re-scanned, which is what turns a "
    "100 TB continuous aggregate into per-batch work.",
)
def ivm_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.streaming.ivm import (
        delta_effects,
        empty_state,
        merge_state,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 1000000)
        .cast("long")
        .alias("value_ppm"),
    )
    w1 = ev.where(F.col("event_id") % 3 == 0).withColumn("op", F.lit("I"))
    w2 = ev.where(F.col("event_id") % 3 == 1).withColumn("op", F.lit("I"))
    # wave 3: its own inserts + retraction records replaying wave-1 rows
    w3 = (
        ev.where(F.col("event_id") % 3 == 2)
        .withColumn("op", F.lit("I"))
        .unionByName(
            ev.where(
                (F.col("event_id") % 3 == 0) & (F.col("event_id") % 7 == 0)
            ).withColumn("op", F.lit("R"))
        )
    )
    state = empty_state(spark, "event_type string")
    for wave in (w1, w2, w3):
        effects = delta_effects(
            wave, ["event_type"], "value_ppm", op_col="op"
        )
        state = merge_state(state, effects, ["event_type"])
    return state.orderBy("event_type")


@register(
    "storage_layout_inventory_audit",
    """
    SELECT 'events_by_day' AS table_kind,
           'partitioned' AS layout,
           'day' AS layout_columns,
           (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows
    UNION ALL
    SELECT 'orders_bucketed', 'bucketed(8)', 'o_custkey',
           (SELECT CAST(count(*) AS BIGINT) FROM orders)
    ORDER BY table_kind
    """,
    sort=("table_kind",),
    doc="The DESCRIBE FORMATTED-based storage-layout inventory "
    "(validation.py::storage_layout_inventory, the Spark analogue of "
    "the reference's index inventory, validation.sql:397-404) under "
    "the oracle: write orders BUCKETED (8, o_custkey) into the "
    "catalog and events date-PARTITIONED to parquet, then report what "
    "the INTROSPECTION — catalog bucket spec + hive directory layout, "
    "not the writer's arguments — says each table's layout is, with "
    "the row count read back from the physical files. The oracle "
    "pins the layout contract as constants and recomputes counts from "
    "source: a writer that silently dropped the bucket spec, "
    "mis-named partition dirs, or lost rows across layout boundaries "
    "diverges. The inventory is catalog-metadata-sized; the only "
    "data-touching work is the two writes and two count scans.",
)
def storage_layout_inventory_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.load import write_bucketed
    from fitness_nutrition_data_pipeline_spark.validation import (
        storage_layout_inventory,
    )

    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    tbl = f"orders_sli_{tag}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        tbl,
        "o_custkey",
        8,
    )
    path = scratch_path(spark, tag, "sli_events_by_day")
    # salted day-distribution (see _write_day_partitioned)
    _write_day_partitioned(
        load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts")),
        path,
    )
    inv = {
        r["table"]: r
        for r in storage_layout_inventory(spark, {"events_by_day": path})
    }
    # answer-sized driver reads (policy): 2 inventory rows + 2 counts
    rows = [
        (
            "events_by_day",
            inv["events_by_day"]["layout"],
            inv["events_by_day"]["layout_columns"],
            spark.read.parquet(path).count(),
        ),
        (
            "orders_bucketed",
            inv[tbl]["layout"],
            inv[tbl]["layout_columns"],
            spark.table(tbl).count(),
        ),
    ]
    return spark.createDataFrame(
        rows,
        "table_kind string, layout string, layout_columns string, n_rows long",
    ).orderBy("table_kind")


@register(
    "dynamic_partition_prune_audit",
    """
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                                         DATE '2024-03-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ),
    wk AS (
      SELECT day FROM spine
      WHERE week(day) = 2 AND isoyear(day) = 2024
    )
    SELECT CAST(e_day AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(coalesce(value, 0) * 1000000) AS BIGINT))
                AS BIGINT) AS value_ppm
    FROM (SELECT CAST(ts AS DATE) AS e_day, user_id, value FROM events) e
    JOIN wk ON e.e_day = wk.day
    GROUP BY 1
    ORDER BY day
    """,
    sort=("day",),
    doc="DYNAMIC partition pruning under the hard oracle — the runtime "
    "sibling of partitioned_write_prune_audit's static prune: events "
    "are written partitioned by day, then joined to a date-spine dim "
    "whose filter (ISO week 2 of 2024) names no partition value "
    "literally — the surviving days exist only after the dim filter "
    "runs, so planning-time pruning is impossible. Spark broadcasts "
    "the 7-row dim and REUSES that broadcast as a runtime "
    "PartitionFilter on the fact scan (the plan's `dynamicpruning` "
    "subquery, pinned in tests/test_plans.py), so only 7 of ~30 day "
    "directories are read. This is THE mechanism that makes "
    "star-schema date-dim joins scan-bounded at 100 TB: the fact "
    "scan is sized by the dim predicate, not the table. Week "
    "semantics are ISO in both engines (weekofyear / week+isoyear); "
    "values fold to integer ppm so the audit is exact.",
)
def dynamic_partition_prune_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = scratch_path(spark, tag, "events_by_day_dpp")
    # salted day-distribution before the dynamic-partition write —
    # see _write_day_partitioned (one task per day, hot days salted)
    _write_day_partitioned(ev, path)
    spine = spark.sql(
        "SELECT explode(sequence(DATE'2024-01-01', DATE'2024-03-31')) AS day"
    ).where(
        (F.weekofyear("day") == 2)
        & (F.expr("extract(YEAROFWEEK FROM day)") == 2024)
    )
    back = spark.read.parquet(path)
    return (
        back.join(spine, "day")
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0)) * 1000000).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("value_ppm"),
        )
        .orderBy("day")
    )


@register(
    "schema_evolution_read_audit",
    """
    WITH v1 AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(NULL AS VARCHAR) AS status
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT coalesce(status, '<pre-evolution>') AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM unioned
    GROUP BY 1
    ORDER BY status
    """,
    sort=("status",),
    doc="Schema evolution under the hard oracle: generation-1 files are "
    "written WITHOUT the status column (even-key orders), generation-2 "
    "files add it (odd-key orders) — the additive-column evolution "
    "every long-lived lakehouse table goes through. The read-back uses "
    "mergeSchema, so the unified schema materializes NULL status for "
    "pre-evolution files, and the audit aggregates by "
    "coalesce(status, '<pre-evolution>') with exact integer cents; the "
    "oracle recomputes both generations from the source relation, so a "
    "reader that dropped old files, misaligned columns by position, or "
    "defaulted the missing column to anything but NULL hash-fails. At "
    "100 TB this is why new columns are FREE in parquet (no rewrite of "
    "old files) — and why readers must resolve columns by NAME, never "
    "by position.",
)
def schema_evolution_read_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus",
    )
    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = scratch_path(spark, tag, "orders_evolved")
    # generation 1: the column does not exist yet
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "cents"
    ).write.mode("overwrite").parquet(path)
    # generation 2: schema grows a column; old files are NOT rewritten
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "cents", F.col("o_orderstatus").alias("status")
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy(
            F.coalesce(F.col("status"), F.lit("<pre-evolution>")).alias(
                "status"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        )
        .orderBy("status")
    )


@register(
    "late_dim_backfill_audit",
    """
    SELECT coalesce(c.c_mktsegment, '<unresolved>') AS segment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(sum(e.event_id) AS BIGINT) AS event_id_checksum
    FROM events e
    LEFT JOIN customer c
      ON c.c_custkey = e.user_id AND c.c_custkey % 15 != 0
    GROUP BY 1
    ORDER BY segment
    """,
    sort=("segment",),
    doc="Late-arriving dimension handling, PROVEN equal to the one-shot "
    "join: the dim arrives in two waves (custkey % 3 != 0 early, the "
    "rest late — the classic early-fact problem), except custkeys "
    "divisible by 15 NEVER arrive, so the placeholder branch is "
    "exercised on real rows, not just in theory. Phase 1 left-joins "
    "facts against the EARLY wave only; misses become a pending set. "
    "The backfill pass joins ONLY the pending rows (delta-sized, the "
    "IVM property) against the late wave; rows matching neither wave "
    "surface as '<unresolved>' — the placeholder-key row a warehouse "
    "loads instead of dropping facts. The ORACLE is the single join "
    "against the arrived dim, so the hash proves the two-phase "
    "resolve-then-backfill algebra loses and double-counts nothing. "
    "At 100 TB phase 1 is the nightly load and the backfill touches "
    "pending x late-dim only — never the resolved fact mass.",
)
def late_dim_backfill_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    early = dim.where(F.col("c_custkey") % 3 != 0)
    late = dim.where(
        (F.col("c_custkey") % 3 == 0) & (F.col("c_custkey") % 15 != 0)
    )
    # phase 1: nightly load against the dim as it existed
    ph1 = ev.join(early, ev.user_id == early.c_custkey, "left")
    resolved1 = ph1.where(F.col("c_custkey").isNotNull()).select(
        "event_id", "user_id", "c_mktsegment"
    )
    # pending is delta-sized — pin it so the backfill join and the
    # unresolved branch read one materialization, not two fact scans
    pending = (
        ph1.where(F.col("c_custkey").isNull())
        .select("event_id", "user_id")
        .localCheckpoint()
    )
    # backfill: pending x late-wave only
    bf = pending.join(late, pending.user_id == late.c_custkey, "left")
    resolved2 = bf.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("c_mktsegment"), F.lit("<unresolved>")).alias(
            "c_mktsegment"
        ),
    )
    final = resolved1.unionByName(resolved2)
    return (
        final.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("event_id").cast("long").alias("event_id_checksum"),
        )
    )


@register(
    "partition_restatement_audit",
    """
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(coalesce(value, 0) * 1000000) AS BIGINT))
                AS BIGINT) AS value_ppm
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
    sort=("day",),
    doc="Partition-scoped restatement (the day-grain sibling of row-"
    "grain IVM): rows flagged late (event_id % 17 == 0) are withheld "
    "from the nightly build, the late delta's DISTINCT days become the "
    "affected-partition set, and ONLY those days are recomputed from "
    "(on-time + late) rows — untouched days keep their original "
    "aggregates, and the two slices union into the restated table. The "
    "ORACLE recomputes every day from all rows, so the hash proves the "
    "affected-day selection is exhaustive (a missed day would carry a "
    "stale aggregate and fail). This is how a 100 TB day-partitioned "
    "mart absorbs late data: recompute cost is proportional to days "
    "TOUCHED, not history — the anti-join keeps old partitions as-is "
    "and the recompute join reads only affected-day rows (partition "
    "prune on the day key).",
)
def partition_restatement_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        "event_id",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 1000000)
        .cast("long")
        .alias("v_ppm"),
    )
    on_time = ev.where(F.col("event_id") % 17 != 0)
    late = ev.where(F.col("event_id") % 17 == 0)
    # the nightly build, as it stood before the late data arrived
    nightly = on_time.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("v_ppm").cast("long").alias("value_ppm"),
    )
    # affected-partition set: distinct days in the late delta (tiny).
    # Both joins below are NULL-SAFE: a NULL-ts late row makes NULL a
    # legitimate affected "day" (the oracle groups NULL day normally);
    # a plain equi-join would drop it from the recompute while the
    # anti-join kept the stale nightly NULL row — a divergence latent
    # until a fixture gains NULL timestamps.
    affected = (
        late.select(F.col("day").alias("aday")).distinct().localCheckpoint()
    )
    # recompute ONLY affected days from the full row set for those days
    restated = (
        ev.join(F.broadcast(affected), F.col("day").eqNullSafe(F.col("aday")))
        .drop("aday")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("v_ppm").cast("long").alias("value_ppm"),
        )
    )
    # untouched days keep the nightly aggregate as-is
    untouched = nightly.join(
        F.broadcast(affected),
        F.col("day").eqNullSafe(F.col("aday")),
        "left_anti",
    )
    return untouched.unionByName(restated).select(
        F.col("day").cast("string").alias("day"), "n_events", "value_ppm"
    )


@register(
    "mv_rewrite_audit",
    """
    SELECT CAST(CAST(date_trunc('month', CAST(ts AS DATE)) AS DATE)
                AS VARCHAR) AS month,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(coalesce(value, 0) * 1000000) AS BIGINT))
                AS BIGINT) AS value_ppm,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
    FROM events
    GROUP BY 1, 2
    ORDER BY month, event_type
    """,
    sort=("month", "event_type"),
    doc="Materialized-view rewrite consistency: a day×event_type MV "
    "(rollup-able measures only — count and exact-integer sum, never "
    "avg or distinct) is WRITTEN to parquet, read back, and a monthly "
    "query is answered FROM THE MV ALONE — no base-table scan in the "
    "answering plan. The oracle recomputes the months from raw events, "
    "so the hash proves the rewrite algebra: counts and sums compose "
    "across the MV grain, n_days falls out as the MV row count per "
    "group (proving the MV grain itself), and derived means belong at "
    "read time as sum/count. At 100 TB this is the pattern that turns "
    "a fact-scan dashboard query into an answer-sized MV scan; the "
    "write is one shuffle at MV grain, paid once per refresh.",
)
def mv_rewrite_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.date_trunc("month", F.to_date("ts")).cast("date").alias("month"),
        "event_type",
        F.round(F.coalesce(F.col("value"), F.lit(0)) * 1000000)
        .cast("long")
        .alias("v_ppm"),
    )
    mv = ev.groupBy("day", "month", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_ppm").cast("long").alias("v"),
    )
    tag = hashlib.md5(
        f"{sf_dir}|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:8]
    path = scratch_path(spark, tag, "daily_events_mv")
    mv.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(
        F.col("month").cast("string").alias("month"), "event_type"
    ).agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("v").cast("long").alias("value_ppm"),
        F.count("day").cast("long").alias("n_days"),
    )
