r"""Serving-side retrieval compositions: the end-to-end
retrieve -> rerank -> evaluate flows that the standalone pieces
(text_ops.bm25_query_scores, retrieval_ops.reciprocal_rank_fusion,
operators/similarity.py, eval_ops) were building toward — each as ONE
oracle-checked query rather than three independent readouts.

Reference parity note: the reference has no retrieval surface
(main_etl_pipeline.py is ETL only); this closes the last thin family of
the declared north-star training/serving pipeline.

Query/corpus framing: the first five embedding rows (vec_id < 5, which
align 1:1 with documents.doc_id) act as queries; everything else is the
corpus. Relevance ground truth is the embedding table's label column
(corpus doc relevant iff it carries the query's label) — deterministic,
so both engines derive the identical qrels.

Float discipline (repo rule): lexical scores are integer Jaccard ppm;
semantic scores use the in-order-fold cosine whose double is
bit-identical cross-engine (the reciprocal_rank_fusion precedent);
every metric is integer ppm with `div`, so the output is BIGINT-only.

Scale shape: queries broadcast; the only corpus-sized work is one pass
per retriever (at 100 TB the lexical side is an inverted-index token
join and the semantic side an ANN probe from operators/similarity.py —
here the exact full-corpus forms keep the oracle checkable); everything
after candidate generation is candidate- or answer-sized.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.similarity import cosine
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.queries.llm_ops import _COS_SQL
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

_N_QUERIES = 5  # vec_id/doc_id < 5 are the query set
_RRF_K = 60  # the standard RRF dampening constant
_CAND_K = 25  # candidates per query surviving lexical retrieval
_EVAL_K = 10  # metrics cutoff

# NDCG discount weights, INTEGER by construction: w_i = round(1e6 /
# log2(i+1)) is computed ONCE here in Python and embedded as literal
# constants in BOTH the Spark plan and the DuckDB oracle, so neither
# engine evaluates a log at query time and the metric is exact integer
# math end-to-end (the repo's float-discipline rule). _NDCG_CUM[k-1] is
# the ideal DCG for k relevant docs (binary gains => ideal ranking
# packs all relevant docs first).
_NDCG_W = tuple(
    round(1_000_000 / math.log2(i + 1)) for i in range(1, _EVAL_K + 1)
)
_NDCG_CUM = tuple(sum(_NDCG_W[: k + 1]) for k in range(_EVAL_K))

# distinct whitespace tokens — set semantics so Jaccard is well-defined
_TOKSET_SQL = (
    "list_distinct(list_filter("
    "string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))"
)

# Shared CTE skeleton: every (query, corpus-doc) pair with the lexical
# integer Jaccard (ppm) and the in-order-fold cosine. Both oracles
# build on this so the two compositions cannot drift apart.
_PAIRS_CTES = f"""
    docs AS (
      SELECT doc_id, {_TOKSET_SQL} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    anch AS (
      SELECT d.doc_id AS q_id, e.label AS q_label, d.toks AS q_toks,
             e.embedding::DOUBLE[] AS q_emb
      FROM docs d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.doc_id < {_N_QUERIES}
    ),
    corp AS (
      SELECT d.doc_id, e.label, d.toks, e.embedding::DOUBLE[] AS emb
      FROM docs d JOIN embeddings e ON e.vec_id = d.doc_id
      WHERE d.doc_id >= {_N_QUERIES}
    ),
    pairs AS (
      SELECT a.q_id, c.doc_id,
             CASE WHEN c.label = a.q_label THEN 1 ELSE 0 END AS is_rel,
             CAST(len(list_intersect(c.toks, a.q_toks)) AS BIGINT) AS overlap,
             CAST(len(list_intersect(c.toks, a.q_toks)) * 1000000
                  // (len(a.q_toks) + len(c.toks)
                      - len(list_intersect(c.toks, a.q_toks)))
                  AS BIGINT) AS jacc_ppm,
             {_COS_SQL.format(a="a.q_emb", b="c.emb")} AS cos
      FROM anch a CROSS JOIN corp c
    )
"""


# Shared fused-ranking CTEs (appended after _PAIRS_CTES): per-query
# lexical and semantic ranks fused by RRF into rank_final. Used by the
# hybrid eval AND the NDCG readout so the two metrics grade the SAME
# ranking.
_FUSED_CTES = f"""
    lex AS (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY jacc_ppm DESC, doc_id) AS lex_rank
      FROM pairs WHERE overlap >= 1
    ),
    sem AS (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
               ORDER BY cos DESC, doc_id) AS sem_rank
      FROM pairs
    ),
    fused AS (
      SELECT s.q_id, s.doc_id,
             row_number() OVER (PARTITION BY s.q_id
               ORDER BY 1.0 / ({_RRF_K} + s.sem_rank)
                      + coalesce(1.0 / ({_RRF_K} + l.lex_rank), 0) DESC,
                        s.doc_id) AS rank_final
      FROM sem s LEFT JOIN lex l
        ON l.q_id = s.q_id AND l.doc_id = s.doc_id
    )
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of the pairs CTE: (q_id, q_label, doc_id, is_rel,
    overlap, jacc_ppm, cos). Queries broadcast against the partitioned
    corpus — one corpus pass; pinned because both retriever branches
    and the metric joins consume it (diamond policy; q_label rides
    along so the final projection never re-scans embeddings)."""
    tokset = F.array_distinct(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: x != "",
        )
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", tokset.alias("toks"))
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        "label",
    )
    joined = docs.join(emb, docs.doc_id == emb.vec_id)
    anch = joined.where(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("toks").alias("q_toks"),
        F.col("emb").alias("q_emb"),
    )
    corp = joined.where(F.col("doc_id") >= _N_QUERIES).select(
        "doc_id", "label", "toks", "emb"
    )
    overlap = F.size(F.array_intersect(F.col("toks"), F.col("q_toks")))
    union_sz = F.size(F.col("q_toks")) + F.size(F.col("toks")) - overlap
    return (
        corp.crossJoin(F.broadcast(anch))
        .select(
            "q_id",
            F.col("q_label").cast("long").alias("q_label"),
            "doc_id",
            (F.col("label") == F.col("q_label")).cast("int").alias("is_rel"),
            overlap.cast("long").alias("overlap"),
            (overlap.cast("long") * 1000000).alias("_onum"),
            union_sz.cast("long").alias("_usz"),
            cosine(F.col("q_emb"), F.col("emb")).alias("cos"),
        )
        .withColumn("jacc_ppm", F.expr("_onum div _usz").cast("long"))
        .drop("_onum", "_usz")
        .localCheckpoint()
    )


def _fused(pairs: DataFrame) -> DataFrame:
    """Spark twin of _FUSED_CTES: (q_id, doc_id, rank_final) — the RRF
    fusion of the lexical and semantic rank lists. Shared by the hybrid
    eval and the NDCG readout so both metrics grade the SAME ranking."""
    lex = pairs.where(F.col("overlap") >= 1).select(
        "q_id",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.desc("jacc_ppm"), "doc_id"))
        .alias("lex_rank"),
    )
    sem = pairs.select(
        "q_id",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(F.desc("cos"), "doc_id"))
        .alias("sem_rank"),
    )
    rrf = F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rank")), F.lit(0.0)
    )
    return sem.join(lex, ["q_id", "doc_id"], "left").select(
        "q_id",
        "doc_id",
        F.row_number()
        .over(W.partitionBy("q_id").orderBy(rrf.desc(), "doc_id"))
        .alias("rank_final"),
    )


@register(
    "hybrid_retrieval_eval",
    f"""
    WITH {_PAIRS_CTES},
    {_FUSED_CTES},
    rel AS (
      SELECT q_id, CAST(sum(is_rel) AS BIGINT) AS n_rel_corpus
      FROM pairs GROUP BY q_id
    ),
    m AS (
      SELECT f.q_id,
             CAST(sum(p.is_rel) AS BIGINT) AS n_rel10,
             min(CASE WHEN p.is_rel = 1 THEN f.rank_final END) AS best_rank
      FROM fused f
      JOIN pairs p ON p.q_id = f.q_id AND p.doc_id = f.doc_id
      WHERE f.rank_final <= {_EVAL_K}
      GROUP BY f.q_id
    )
    SELECT a.q_id, CAST(a.q_label AS BIGINT) AS q_label,
           r.n_rel_corpus, m.n_rel10,
           CAST(m.n_rel10 * 1000000 // {_EVAL_K} AS BIGINT) AS prec10_ppm,
           CAST(m.n_rel10 * 1000000 // r.n_rel_corpus AS BIGINT)
             AS recall10_ppm,
           CAST(coalesce(1000000 // m.best_rank, 0) AS BIGINT) AS mrr_ppm
    FROM anch a JOIN rel r USING (q_id) JOIN m USING (q_id)
    ORDER BY q_id
    """,
    sort=("q_id",),
    doc="End-to-end HYBRID retrieval with evaluation, as one flow: a "
    "lexical retriever (distinct-token Jaccard in integer ppm) and a "
    "semantic retriever (in-order-fold cosine to the query embedding) "
    "each rank the corpus per query; ranks fuse by reciprocal-rank "
    "fusion (k=60, union semantics — docs missed by the lexical side "
    "still score on the semantic term); the fused top-10 is judged "
    "against label qrels into per-query precision@10, recall@10 and "
    "MRR, all integer ppm. Composes the separate RRF/ANN/eval pieces. "
    "Scale: queries broadcast, one corpus pass "
    "per retriever (inverted index / ANN probe at 100 TB), and "
    "everything after the rank lists is answer-sized.",
)
def hybrid_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    fused = _fused(pairs)
    rel = pairs.groupBy("q_id", "q_label").agg(
        F.sum("is_rel").cast("long").alias("n_rel_corpus")
    )
    m = (
        fused.where(F.col("rank_final") <= _EVAL_K)
        .join(pairs.select("q_id", "doc_id", "is_rel"), ["q_id", "doc_id"])
        .groupBy("q_id")
        .agg(
            F.sum("is_rel").cast("long").alias("n_rel10"),
            F.min(
                F.when(F.col("is_rel") == 1, F.col("rank_final"))
            ).alias("best_rank"),
        )
    )
    return (
        rel.join(m, "q_id")
        .select(
            "q_id",
            "q_label",
            "n_rel_corpus",
            "n_rel10",
            F.expr(f"n_rel10 * 1000000L div {_EVAL_K}")
            .cast("long")
            .alias("prec10_ppm"),
            F.expr("n_rel10 * 1000000L div n_rel_corpus")
            .cast("long")
            .alias("recall10_ppm"),
            F.coalesce(
                F.expr("1000000L div best_rank"), F.lit(0)
            )
            .cast("long")
            .alias("mrr_ppm"),
        )
    )


@register(
    "rerank_eval_lift",
    f"""
    WITH {_PAIRS_CTES},
    cand AS (
      SELECT q_id, doc_id, is_rel, cos,
             row_number() OVER (PARTITION BY q_id
               ORDER BY jacc_ppm DESC, doc_id) AS lex_rank
      FROM pairs WHERE overlap >= 1
      QUALIFY lex_rank <= {_CAND_K}
    ),
    rr AS (
      SELECT q_id, doc_id, is_rel, lex_rank,
             row_number() OVER (PARTITION BY q_id
               ORDER BY round(cos, 6) DESC, doc_id) AS rr_rank
      FROM cand
    )
    SELECT q_id,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN lex_rank <= {_EVAL_K} THEN is_rel ELSE 0 END)
                * 100000 AS BIGINT) AS prec10_lex_ppm,
           CAST(sum(CASE WHEN rr_rank <= {_EVAL_K} THEN is_rel ELSE 0 END)
                * 100000 AS BIGINT) AS prec10_rerank_ppm,
           CAST((sum(CASE WHEN rr_rank <= {_EVAL_K} THEN is_rel ELSE 0 END)
                 - sum(CASE WHEN lex_rank <= {_EVAL_K} THEN is_rel ELSE 0 END))
                * 100000 AS BIGINT) AS lift_ppm,
           CAST(coalesce(
             1000000 // min(CASE WHEN is_rel = 1 THEN rr_rank END), 0)
             AS BIGINT) AS mrr_rerank_ppm
    FROM rr GROUP BY q_id
    ORDER BY q_id
    """,
    sort=("q_id",),
    doc="Retrieve -> rerank -> evaluate, the serving cascade: a cheap "
    "lexical retriever (integer Jaccard ppm) generates top-25 "
    "candidates per query, an expensive exact-cosine reranker (the "
    "cross-encoder stand-in) reorders ONLY those candidates, and the "
    "eval stage reports precision@10 under each ordering plus the "
    "rerank lift and reranked MRR — the number that justifies (or "
    "kills) the second stage. This is the 100 TB cascade shape: the "
    "corpus-sized pass is the cheap retriever; the costly scorer "
    "touches candidates x queries rows only. Cosine is rounded to 6dp "
    "BEFORE ranking (hard_negative_mining precedent); ties break on "
    "doc_id, so ranks are cross-engine exact.",
)
def rerank_eval_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    cand = (
        pairs.where(F.col("overlap") >= 1)
        .select(
            "q_id",
            "doc_id",
            "is_rel",
            "cos",
            F.row_number()
            .over(
                W.partitionBy("q_id").orderBy(F.desc("jacc_ppm"), "doc_id")
            )
            .alias("lex_rank"),
        )
        .where(F.col("lex_rank") <= _CAND_K)
    )
    rr = cand.select(
        "q_id",
        "is_rel",
        "lex_rank",
        F.row_number()
        .over(
            W.partitionBy("q_id").orderBy(
                F.desc(F.round(F.col("cos"), 6)), "doc_id"
            )
        )
        .alias("rr_rank"),
    )
    hit_lex = F.sum(
        F.when(F.col("lex_rank") <= _EVAL_K, F.col("is_rel")).otherwise(0)
    )
    hit_rr = F.sum(
        F.when(F.col("rr_rank") <= _EVAL_K, F.col("is_rel")).otherwise(0)
    )
    return (
        rr.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            (hit_lex * 100000).cast("long").alias("prec10_lex_ppm"),
            (hit_rr * 100000).cast("long").alias("prec10_rerank_ppm"),
            ((hit_rr - hit_lex) * 100000).cast("long").alias("lift_ppm"),
            F.min(
                F.when(F.col("is_rel") == 1, F.col("rr_rank"))
            ).alias("_best"),
        )
        .select(
            "q_id",
            "n_candidates",
            "prec10_lex_ppm",
            "prec10_rerank_ppm",
            "lift_ppm",
            F.coalesce(F.expr("1000000L div _best"), F.lit(0))
            .cast("long")
            .alias("mrr_rerank_ppm"),
        )
    )


_W_CASE = "CASE f.rank_final " + " ".join(
    f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
) + " END"
_IDCG_CASE = f"CASE least(r.n_rel_corpus, {_EVAL_K}) " + " ".join(
    f"WHEN {k + 1} THEN {c}" for k, c in enumerate(_NDCG_CUM)
) + " ELSE 0 END"


@register(
    "ndcg_fused_eval",
    f"""
    WITH {_PAIRS_CTES},
    {_FUSED_CTES},
    rel AS (
      SELECT q_id, CAST(sum(is_rel) AS BIGINT) AS n_rel_corpus
      FROM pairs GROUP BY q_id
    ),
    dcg AS (
      SELECT f.q_id,
             CAST(sum(CASE WHEN p.is_rel = 1 THEN {_W_CASE} ELSE 0 END)
                  AS BIGINT) AS dcg_w
      FROM fused f
      JOIN pairs p ON p.q_id = f.q_id AND p.doc_id = f.doc_id
      WHERE f.rank_final <= {_EVAL_K}
      GROUP BY f.q_id
    )
    SELECT a.q_id, CAST(a.q_label AS BIGINT) AS q_label,
           r.n_rel_corpus, d.dcg_w,
           CAST({_IDCG_CASE} AS BIGINT) AS idcg_w,
           CAST(CASE WHEN r.n_rel_corpus = 0 THEN 0
                ELSE d.dcg_w * 1000000 // ({_IDCG_CASE}) END
                AS BIGINT) AS ndcg10_ppm
    FROM anch a JOIN rel r USING (q_id) JOIN dcg d USING (q_id)
    ORDER BY q_id
    """,
    sort=("q_id",),
    doc="NDCG@10 over the SAME RRF-fused ranking hybrid_retrieval_eval "
    "grades (shared _FUSED_CTES / _fused(), so the two metrics cannot "
    "drift apart). Exact integer end-to-end: the log2 discount weights "
    "round(1e6/log2(i+1)) are computed once in Python and embedded as "
    "literals in both engines, binary gains make the ideal ranking a "
    "prefix, so IDCG is a precomputed cumulative-sum lookup on "
    "least(n_rel, 10) and ndcg10_ppm = dcg*1e6 div idcg — no query-time "
    "float anywhere. Scale: identical to the hybrid eval (queries "
    "broadcast, one corpus pass per retriever, metric joins are "
    "top-10-sized).",
)
def ndcg_fused_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    fused = _fused(pairs)
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W])
    cum_arr = F.array(*[F.lit(c) for c in _NDCG_CUM])
    dcg = (
        fused.where(F.col("rank_final") <= _EVAL_K)
        .join(pairs.select("q_id", "doc_id", "is_rel"), ["q_id", "doc_id"])
        .groupBy("q_id")
        .agg(
            F.sum(
                F.when(
                    F.col("is_rel") == 1,
                    F.element_at(w_arr, F.col("rank_final").cast("int")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dcg_w")
        )
    )
    rel = pairs.groupBy("q_id", "q_label").agg(
        F.sum("is_rel").cast("long").alias("n_rel_corpus")
    )
    idcg = F.when(F.col("n_rel_corpus") == 0, F.lit(0)).otherwise(
        F.element_at(
            cum_arr, F.least(F.col("n_rel_corpus"), F.lit(_EVAL_K)).cast("int")
        )
    )
    return (
        rel.join(dcg, "q_id")
        .withColumn("idcg_w", idcg.cast("long"))
        .select(
            "q_id",
            "q_label",
            "n_rel_corpus",
            "dcg_w",
            "idcg_w",
            F.when(F.col("idcg_w") == 0, F.lit(0))
            .otherwise(F.expr("dcg_w * 1000000L div idcg_w"))
            .cast("long")
            .alias("ndcg10_ppm"),
        )
    )
