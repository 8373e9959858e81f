"""Retrieval + curation operators: rank fusion, contrastive
hard-negative mining, cluster-balanced sampling, DP-noised release, and
token-budget planning.

The retrieval side of a training-data pipeline: hybrid search (lexical +
semantic fused with RRF), mining hard negatives for contrastive
embedding training, DCLM-style cluster-balanced corpus sampling, a
differentially-private histogram release for sharing corpus stats, and
the Chinchilla-style token-budget plan that decides how many epochs of
each source a run can afford. All hot paths are JVM-side Column
expressions; every query carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.similarity import cosine
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.queries.llm_ops import _COS_SQL
from fitness_nutrition_data_pipeline_spark.queries.sampling import (
    _BUCKET_SQL,
    hash_bucket,
)
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "reciprocal_rank_fusion",
    f"""
    WITH d AS (
      SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    lex AS (
      SELECT doc_id,
             CAST(len(list_filter(toks, t -> t = 'table'))
                + len(list_filter(toks, t -> t = 'window'))
                + len(list_filter(toks, t -> t = 'join')) AS INT) AS tf,
             row_number() OVER (
               ORDER BY len(list_filter(toks, t -> t = 'table'))
                      + len(list_filter(toks, t -> t = 'window'))
                      + len(list_filter(toks, t -> t = 'join')) DESC, doc_id
             ) AS lex_rank
      FROM d
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
    sem AS (
      SELECT e.vec_id AS doc_id,
             row_number() OVER (
               ORDER BY {_COS_SQL.format(a="q.q_emb", b="e.emb")} DESC, e.vec_id
             ) AS sem_rank
      FROM e CROSS JOIN q WHERE e.vec_id > 0
    )
    SELECT doc_id, tf, lex_rank, sem_rank,
           round(1.0 / (60 + lex_rank) + 1.0 / (60 + sem_rank), 9) AS rrf_score
    FROM lex JOIN sem USING (doc_id)
    ORDER BY 1.0 / (60 + lex_rank) + 1.0 / (60 + sem_rank) DESC, doc_id
    LIMIT 20
    """,
    sort=None,
    doc="Hybrid-retrieval rank fusion (RRF, k=60): a lexical retriever "
    "(whole-token term-frequency over a fixed query term set — integer "
    "tf, no IDF floats) and a semantic retriever (cosine to a query "
    "embedding, the brute-force baseline) each rank the corpus; docs "
    "appearing in both are fused by sum of reciprocal ranks. Ranks are "
    "row_number with doc_id tiebreak, so the fused score is a "
    "deterministic rational — both engines compute bit-identical "
    "doubles. At 100 TB each retriever is its own top-k (TakeOrdered / "
    "ANN probe) and fusion joins two answer-sized rank lists; here the "
    "full-corpus ranks keep the oracle exact. Ordered output (LIMIT "
    "after global sort) — the driver compares as a sorted list anyway.",
)
def reciprocal_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.lower(F.col("text")), r"\s+")
    tf = sum(
        F.size(F.filter(toks, lambda t: t == F.lit(term)))
        for term in ("table", "window", "join")
    ).cast("int")
    lex = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", tf.alias("tf"))
        .withColumn(
            "lex_rank",
            F.row_number().over(W.orderBy(F.desc("tf"), "doc_id")),
        )
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("emb").alias("q_emb"))
    sem = (
        e.where(F.col("vec_id") > 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("q_emb"), F.col("emb")).alias("_sim"),
        )
        .withColumn(
            "sem_rank",
            F.row_number().over(W.orderBy(F.desc("_sim"), "doc_id")),
        )
        .drop("_sim")
    )
    rrf = F.lit(1.0) / (F.lit(60) + F.col("lex_rank")) + F.lit(1.0) / (
        F.lit(60) + F.col("sem_rank")
    )
    return (
        lex.join(sem, "doc_id")
        .withColumn("rrf_score", F.round(rrf, 9))
        .orderBy(rrf.desc(), "doc_id")
        .limit(20)
        .select("doc_id", "tf", "lex_rank", "sem_rank", "rrf_score")
    )


@register(
    "hard_negative_mining",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
    q AS (SELECT vec_id AS q_id, emb AS q_emb, label AS q_label
          FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, q.q_label, e.vec_id AS neg_id, e.label AS neg_label,
             round({_COS_SQL.format(a="q.q_emb", b="e.emb")}, 6) AS cosine_sim
      FROM q JOIN e ON e.vec_id >= 5 AND e.label <> q.q_label
    )
    SELECT q_id, q_label, neg_id, neg_label, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine_sim DESC, neg_id) AS rn
      FROM scored
    ) t WHERE rn <= 3
    ORDER BY q_id, neg_id
    """,
    sort=("q_id", "neg_id"),
    doc="Contrastive hard-negative mining: for each anchor vector the "
    "top-k most-similar vectors carrying a DIFFERENT label — the "
    "negatives that actually move an embedding model, as opposed to "
    "random in-batch ones. Same physical shape as the brute-force kNN "
    "baseline (broadcast anchors, partitioned corpus, per-anchor "
    "row_number top-k) plus the label-mismatch predicate pushed into "
    "the join; at 100 TB the anchors broadcast and only k rows per "
    "anchor survive the final shuffle.",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    q = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        e.where(F.col("vec_id") >= 5)
        .join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .select(
            "q_id",
            "q_label",
            F.col("vec_id").alias("neg_id"),
            F.col("label").alias("neg_label"),
            F.round(cosine(F.col("q_emb"), F.col("emb")), 6).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neg_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("q_id", "q_label", "neg_id", "neg_label", "cosine_sim")
    )


@register(
    "cluster_balanced_sample",
    f"""
    WITH b AS (
      SELECT doc_id, lang,
             {_BUCKET_SQL.format(key="doc_id")} % 16 AS cluster_id,
             substr(md5('cbs-' || CAST(doc_id AS VARCHAR)), 1, 8) AS rank_key
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY rank_key, doc_id) AS rn
      FROM b
    )
    SELECT cluster_id, CAST(rn AS BIGINT) AS sample_rank, doc_id, lang
    FROM r WHERE rn <= 5
    ORDER BY cluster_id, sample_rank
    """,
    sort=("cluster_id", "sample_rank"),
    doc="Cluster-balanced corpus sampling (the DCLM/SemDeDup recipe "
    "shape): docs are bucketed into clusters (md5 hash buckets stand in "
    "for k-means cluster ids — the assignment column is the pluggable "
    "part) and each cluster contributes an EQUAL quota of k docs, "
    "ranked by a second independent md5 key — uniform-over-clusters "
    "instead of uniform-over-docs, which upweights rare clusters the "
    "way balanced curation intends. One shuffle on cluster_id; the "
    "per-cluster window never sees more than a cluster's rows, and at "
    "100 TB the quota keeps the output answer-sized.",
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (hash_bucket(F.col("doc_id"), 1 << 24) % 16).alias("cluster_id"),
        F.substring(
            F.md5(F.concat(F.lit("cbs-"), F.col("doc_id").cast("string"))), 1, 8
        ).alias("rank_key"),
    )
    w = W.partitionBy("cluster_id").orderBy("rank_key", "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "cluster_id",
            F.col("rn").cast("long").alias("sample_rank"),
            "doc_id",
            "lang",
        )
    )


@register(
    "dp_noised_histogram",
    f"""
    WITH c AS (
      SELECT event_type, count(*) AS true_count FROM events GROUP BY event_type
    ),
    u AS (
      SELECT event_type, true_count,
             ({_BUCKET_SQL.format(key="'dp-' || event_type")} + 0.5)
               / 16777216.0 AS u
      FROM c
    )
    SELECT event_type,
           CAST(true_count AS BIGINT) AS true_count,
           round(CASE WHEN u < 0.5 THEN ln(2 * u) ELSE -ln(2 * (1 - u)) END, 6)
             AS laplace_noise,
           round(true_count +
                 round(CASE WHEN u < 0.5 THEN ln(2 * u)
                       ELSE -ln(2 * (1 - u)) END, 6), 6) AS released_count
    FROM u
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Differentially-private histogram release (Laplace mechanism, "
    "eps=1, sensitivity 1 => scale b=1): per-key noise is drawn by "
    "inverse-CDF from a DETERMINISTIC md5 uniform — the package's "
    "seeded-randomness contract, so the 'draw' replays identically on "
    "any cluster layout and in the oracle. The transcendental ln is "
    "rounded to 6dp before adding (the repo's cross-engine convention "
    "for libm outputs). Completes the privacy family next to the "
    "k-anonymity / l-diversity audits: those gate quasi-identifier "
    "joins, this one releases aggregate stats. Shape: one groupBy "
    "shuffle, noise is per-GROUP (answer-sized) column math.",
)
def dp_noised_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("true_count"))
    u = (
        hash_bucket(F.concat(F.lit("dp-"), F.col("event_type")), 1 << 24)
        + F.lit(0.5)
    ) / F.lit(16777216.0)
    noise = F.round(
        F.when(u < 0.5, F.log(2 * u)).otherwise(-F.log(2 * (1 - u))), 6
    )
    return c.select(
        "event_type",
        F.col("true_count").cast("long").alias("true_count"),
        noise.alias("laplace_noise"),
        F.round(F.col("true_count") + noise, 6).alias("released_count"),
    )


@register(
    "token_budget_plan",
    """
    WITH t AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split_regex(lower(text), '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents WHERE text IS NOT NULL GROUP BY source
    ),
    tot AS (SELECT sum(n_tokens) AS total_tokens FROM t)
    SELECT t.source, t.n_docs, t.n_tokens,
           CAST(t.n_tokens * 1000000 // tot.total_tokens AS BIGINT)
             AS share_ppm,
           CAST(1000000 * t.n_tokens // tot.total_tokens AS BIGINT)
             AS alloc_tokens,
           CAST((1000000 * t.n_tokens // tot.total_tokens) * 1000
                // t.n_tokens AS BIGINT) AS epochs_x1000
    FROM t CROSS JOIN tot
    ORDER BY t.source
    """,
    sort=("source",),
    doc="Token-budget plan (the Chinchilla-style pre-run accounting): "
    "per-source document and whitespace-token counts, corpus share in "
    "integer ppm, the token allocation a 1M-token training budget gives "
    "each source under proportional mixing, and the implied epoch count "
    "x1000 (allocation / available tokens). ALL integer floor-division "
    "— no float shares to drift cross-engine (the gotcha-log rule: "
    "Spark div truncates, DuckDB // floors; every operand here is "
    "non-negative so they agree). One groupBy shuffle; the totals row "
    "is a broadcast 1-row aggregate.",
)
def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # answer-sized (one row per source) — pin it so the grand-total
    # aggregate consumes the computed rows instead of re-scanning and
    # re-tokenizing the corpus (scan-audit policy: 2 scans -> 1)
    t = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.lower(F.col("text")), r"\s+")))
            .cast("long")
            .alias("n_tokens"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    tot = t.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    # long-only `div` end-to-end: floor over a DOUBLE
    # division can disagree with exact integer floor once 1/total drops
    # below half-ulp of the quotient; `div` keeps the math in int64 on
    # both engines (operands non-negative, so truncate == floor).
    alloc = F.expr("n_tokens * 1000000L div total_tokens")
    return (
        t.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000000L div total_tokens")
            .cast("long")
            .alias("share_ppm"),
            alloc.cast("long").alias("alloc_tokens"),
            F.expr(
                "(n_tokens * 1000000L div total_tokens) * 1000L div n_tokens"
            )
            .cast("long")
            .alias("epochs_x1000"),
        )
    )
