"""Deterministic sampling / split / mixing operators for training-data
curation — the selection stage that sits between dedup/quality scoring
and tokenization in an LLM data pipeline.

All selection is content-hash-driven (md5 of the stable doc key), never
`rand()`: the same document lands in the same split/sample on every run,
on any cluster size, with no seed-plumbing — which is what makes
incremental re-runs and A/B data ablations reproducible at 100 TB.

Portability: md5 hex is identical in Spark and DuckDB; the numeric
bucket is the first 6 hex chars parsed base-16 (Spark ``conv(h,16,10)``,
DuckDB ``CAST('0x'||h AS BIGINT)``) mod N — exact integer math both
sides, no float boundary risk.

At scale: every query here is a single scan + map-side hash + small
aggregate — no shuffle wider than the group-by on (lang/source/split),
whose cardinality is tiny. The sample predicate is a pure row-local
filter, so it composes with partition pruning and pushes work to zero
for excluded partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


def hash_bucket(key: Column, n_buckets: int) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from a key column.

    md5 → first 6 hex chars → int → mod. 24 bits of hash for up to ~16M
    buckets; uniform enough for sampling rates (chi-square-tested in
    tests/test_queries_smoke.py's oracle parity — the oracle recomputes
    the identical bucket in DuckDB).
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 6), 16, 10)
        .cast("long")
        % n_buckets
    )


_BUCKET_SQL = "CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)), 1, 6)) AS BIGINT)"


@register(
    "hash_stratified_sample",
    f"""
    WITH b AS (
      SELECT lang, n_chars,
             {_BUCKET_SQL.format(key="doc_id")} % 100 AS bucket
      FROM documents
    )
    SELECT lang,
           count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 25 ELSE 100 END)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN bucket < (CASE WHEN lang = 'en' THEN 25 ELSE 100 END)
                    THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
    FROM b
    GROUP BY lang
    ORDER BY lang
    """,
    sort=("lang",),
    doc="Stratified downsampling with per-stratum rates (dominant language "
    "kept at 25%, low-resource languages at 100%) decided by a "
    "deterministic content hash — the language-rebalancing step of a "
    "training mix. One scan, row-local predicate, tiny aggregate.",
)
def hash_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(25)).otherwise(F.lit(100))
    keep = hash_bucket(F.col("doc_id"), 100) < rate
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(keep, 1).otherwise(0)).alias("n_sampled"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(0)).alias("sampled_chars"),
    )


@register(
    "train_val_test_split",
    f"""
    WITH b AS (
      SELECT n_chars,
             {_BUCKET_SQL.format(key="doc_id")} % 10 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM b
    GROUP BY 1
    ORDER BY split
    """,
    sort=("split",),
    doc="Deterministic 80/10/10 train/val/test split by content hash: a "
    "document's split assignment is a pure function of its id, so "
    "re-ingesting or re-partitioning the corpus can never leak val/test "
    "documents into train. No shuffle beyond the 3-row aggregate.",
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 10)
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    ).alias("split")
    return d.groupBy(split).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "domain_mixing_budget",
    r"""
    WITH per_src AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                 AS ws_tokens
      FROM documents
      GROUP BY source
    ),
    tot AS (SELECT sum(ws_tokens) AS all_tokens, count(*) AS n_sources FROM per_src)
    SELECT source, n_docs, ws_tokens,
           round(100.0 * ws_tokens / all_tokens, 4) AS actual_pct,
           round((CAST(all_tokens AS DOUBLE) / n_sources) / ws_tokens, 4)
               AS uniform_upsample_factor
    FROM per_src, tot
    ORDER BY source
    """,
    sort=("source",),
    doc="Domain-mixing budget: per-source token mass, its share of the "
    "corpus, and the up/down-sample factor that would equalize domains — "
    "the bookkeeping behind mixture-weighted training corpora. The "
    "grand total is a 1-row broadcast joined back to the per-source agg.",
)
def domain_mixing_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    per_src = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("ws_tokens"),
    )
    tot = per_src.agg(
        F.sum("ws_tokens").alias("all_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_src.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "ws_tokens",
        F.round(100.0 * F.col("ws_tokens") / F.col("all_tokens"), 4).alias(
            "actual_pct"
        ),
        F.round(
            (F.col("all_tokens").cast("double") / F.col("n_sources"))
            / F.col("ws_tokens"),
            4,
        ).alias("uniform_upsample_factor"),
    )


@register(
    "sequence_packing_windows",
    r"""
    WITH t AS (
      SELECT lang, doc_id,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]'))
                  AS BIGINT) AS toks
      FROM documents
    ),
    c AS (
      SELECT lang, doc_id, toks,
             COALESCE(sum(toks) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) AS cum_before
      FROM t
    )
    SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS window_id,
           count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS sum_tokens,
           CAST(max(CASE WHEN (cum_before % 2048) + toks > 2048
                    THEN 1 ELSE 0 END) AS INT) AS has_boundary_crossing
    FROM c GROUP BY lang, window_id
    ORDER BY lang, window_id
    """,
    sort=("lang", "window_id"),
    doc="Sequence-packing planner (concat-and-chunk): per language shard, "
    "documents are concatenated in doc_id order and cut into 2048-token "
    "context windows; output = docs starting in each window, their token "
    "mass, and whether a document straddles the window boundary "
    "(truncation bookkeeping). The running sum is PARTITIONED BY the "
    "shard — shard-local packing is how this parallelizes at 100 TB "
    "(a single global ordered cumsum would serialize; per-shard order "
    "is exactly what training loaders consume anyway).",
)
def sequence_packing_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ctx = 2048
    d = load_table(spark, sf_dir, "documents")
    toks = F.array_size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), F.lit(0)
        )
    ).cast("long")
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    c = d.select(
        "lang",
        "doc_id",
        toks.alias("toks"),
    ).withColumn("cum_before", F.coalesce(F.sum("toks").over(w), F.lit(0)))
    return (
        c.groupBy("lang", F.expr(f"cum_before div {ctx}").alias("window_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("sum_tokens"),
            F.max(
                F.when((F.col("cum_before") % ctx) + F.col("toks") > ctx, 1).otherwise(0)
            )
            .cast("int")
            .alias("has_boundary_crossing"),
        )
    )


@register(
    "fixed_size_stratum_sample",
    f"""
    WITH ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS rn
      FROM documents
    )
    SELECT lang, count(*) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sampled_chars,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM ranked WHERE rn <= 20
    GROUP BY lang
    ORDER BY lang
    """,
    sort=("lang",),
    doc="Deterministic fixed-SIZE per-stratum sample (exactly 20 docs per "
    "language, or all of a smaller stratum): rank by content hash inside "
    "each stratum, keep the top 20 — the eval-set construction primitive "
    "where a RATE sample (hash_stratified_sample) can't guarantee the "
    "quota. One window per stratum (parallel across strata) + a tiny "
    "aggregate; re-runs and re-partitions reproduce the identical sample.",
)
def fixed_size_stratum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    return (
        d.withColumn("rn", rn)
        .where(F.col("rn") <= 20)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "split_contamination_matrix",
    rf"""
    WITH b AS (
      SELECT doc_id, text,
             {_BUCKET_SQL.format(key="doc_id")} % 10 AS bucket
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
             string_split_regex(lower(text), '\s+') AS t
      FROM b
    ),
    g AS (
      SELECT DISTINCT split, doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
             t[i+3] || ' ' || t[i+4] AS gram
      FROM s, unnest(range(1, len(t) - 3)) AS u(i)
    ),
    tg AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
    ev AS (SELECT * FROM g WHERE split <> 'train'),
    hits AS (
      SELECT split,
             count(DISTINCT doc_id) AS contaminated_docs,
             count(DISTINCT ev.gram) AS shared_grams
      FROM ev JOIN tg USING (gram) GROUP BY split
    ),
    base AS (SELECT split, count(DISTINCT doc_id) AS n_docs FROM ev GROUP BY split)
    SELECT base.split, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(contaminated_docs, 0) AS BIGINT) AS contaminated_docs,
           CAST(coalesce(shared_grams, 0) AS BIGINT) AS shared_grams,
           round(CAST(coalesce(contaminated_docs, 0) AS DOUBLE) / n_docs, 4)
               AS contaminated_pct
    FROM base LEFT JOIN hits USING (split)
    ORDER BY split
    """,
    sort=("split",),
    doc="Eval-split contamination matrix — the decontamination audit an "
    "LLM pipeline runs BEFORE training: assign every document to "
    "train/val/test by the same deterministic content-hash as "
    "train_val_test_split, then measure distinct-5-gram overlap of each "
    "eval split against the train gram set (docs with any shared gram + "
    "the shared-gram count). Composes the split and contamination "
    "primitives into the audit that actually gates a training run. "
    "Plan: one explode → per-(split,doc,gram) distinct → shuffle join "
    "ON GRAM (linear, never pairwise); at 100 TB the train gram set "
    "shards across the cluster and the join stays key-partitioned.",
)
def split_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.text import word_shingles

    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 10)
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    grams = d.select(
        split.alias("split"),
        "doc_id",
        F.explode(word_shingles("text", 5)).alias("gram"),
    )
    train_grams = grams.where(F.col("split") == "train").select("gram").distinct()
    ev = grams.where(F.col("split") != "train")
    hits = (
        ev.join(train_grams, "gram")
        .groupBy("split")
        .agg(
            F.countDistinct("doc_id").alias("contaminated_docs"),
            F.countDistinct("gram").alias("shared_grams"),
        )
    )
    base = ev.groupBy("split").agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        base.join(hits, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("contaminated_docs", F.lit(0)).alias("contaminated_docs"),
            F.coalesce("shared_grams", F.lit(0)).alias("shared_grams"),
            F.round(
                F.coalesce("contaminated_docs", F.lit(0)).cast("double")
                / F.col("n_docs"),
                4,
            ).alias("contaminated_pct"),
        )
    )


@register(
    "weighted_sample_es",
    f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             round(-ln(({_BUCKET_SQL.format(key="doc_id")} + 0.5) / 16777216.0)
                   / n_chars, 9) AS es_key
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (ORDER BY es_key, doc_id) AS sample_rank
      FROM keyed
    )
    SELECT sample_rank, doc_id, lang, n_chars
    FROM ranked WHERE sample_rank <= 50
    ORDER BY sample_rank
    """,
    sort=("sample_rank",),
    doc="Weighted sampling WITHOUT replacement (Efraimidis-Spirakis "
    "exponential race, P(select) proportional to n_chars): each row's key is "
    "-ln(u)/w with u a DETERMINISTIC md5-hash uniform — the same "
    "reproducibility contract as every sampler here (no rand(), no "
    "seed plumbing; re-runs pick the same sample on any cluster "
    "layout). Selecting the k smallest keys IS the weighted sample, so "
    "at scale this is a TakeOrdered top-k: per-partition heaps of size "
    "k, no global sort, no shuffle of the corpus. The key itself stays "
    "out of the output (floats only order rows, never surface).",
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    u = (hash_bucket(F.col("doc_id"), 16777216) + F.lit(0.5)) / F.lit(16777216.0)
    # ln() is <=1-ulp in each engine but not identically
    # rounded, so a near-tie at the rank-50 boundary could order
    # differently per engine under the strict hash. Quantize the key to
    # 9dp on BOTH engines (the repo's transcendental-output convention);
    # doc_id breaks the resulting ties deterministically.
    keyed = d.select(
        "doc_id", "lang", "n_chars",
        F.round(-F.log(u) / F.col("n_chars"), 9).alias("es_key"),
    )
    # top-k FIRST as orderBy+limit → TakeOrderedAndProject (per-partition
    # size-k heaps, no global sort); the rank window then runs over the
    # 50 survivors only, never the corpus
    top = keyed.orderBy("es_key", "doc_id").limit(50)
    ranked = top.withColumn(
        "sample_rank", F.row_number().over(W.orderBy("es_key", "doc_id"))
    )
    return ranked.select("sample_rank", "doc_id", "lang", "n_chars")


@register(
    "stratified_train_eval_split",
    """
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                 AS rn,
             count(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT lang,
           CASE WHEN rn <= (n_lang + 9) // 10 THEN 'eval' ELSE 'train' END
               AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST((min(n_lang) + 9) // 10 AS BIGINT) AS eval_quota
    FROM ranked
    GROUP BY 1, 2
    ORDER BY lang, split
    """,
    sort=("lang", "split"),
    doc="Proportional exact-QUOTA eval split: each stratum contributes "
    "exactly ceil(10%) of its documents to eval, chosen as the lowest "
    "content-hash ranks — the held-out-set construction where a RATE "
    "split (train_val_test_split) only hits 10% in expectation and a "
    "fixed-SIZE sample (fixed_size_stratum_sample) ignores stratum "
    "scale. ceil is exact integer math ((n+9) div 10), never a float "
    "fraction. One shuffle by stratum serves both windows (rank + "
    "count); at 100 TB a dominant stratum makes that partition hot — "
    "the documented scale path is a two-pass quota (per-stratum counts "
    "broadcast, then a hash-threshold refined per stratum) which this "
    "operator's hash-rank semantics admit without changing the answer.",
)
def stratified_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    win = W.partitionBy("lang")
    ranked = d.select(
        "lang",
        "n_chars",
        F.row_number()
        .over(win.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id"))
        .alias("rn"),
        F.count(F.lit(1)).over(win).alias("n_lang"),
    )
    quota = F.expr("(n_lang + 9) div 10")
    split = (
        F.when(F.col("rn") <= quota, "eval").otherwise("train").alias("split")
    )
    return ranked.groupBy("lang", split).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.expr("CAST((min(n_lang) + 9) div 10 AS BIGINT)").alias("eval_quota"),
    )
