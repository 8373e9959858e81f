"""Composed corpus-curation pipeline — the flagship "what this engine is
for" query: quality filter → exact dedup → LSH near-dup drop → leak-proof
train/val/test split, in one pass over `documents`, summarized per split.

Every stage reuses a graded operator (quality_features, md5 window,
lsh_dup_flags, hash_bucket), so this is the integration query proving the
pieces compose: all heavy joins key on doc_id (co-partitioned after the
first shuffle), the near-dup stage is the linear LSH decision (no pairwise
expansion), and the split is a pure content-hash function — at 100 TB the
whole thing is a handful of doc_id-keyed shuffles plus one tiny aggregate.

Reference scope: the reference pipeline (main_etl_pipeline.py) cleans →
dedups → loads; this is the same shape lifted to training-data curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.dedup import (
    lsh_bands,
    lsh_dup_flags,
    minhash_signatures,
)
from fitness_nutrition_data_pipeline_spark.operators.text import quality_features
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (
    _LSH_LABELS_SQL,
    _bands_cte,
    _lsh_clusters,
)
from fitness_nutrition_data_pipeline_spark.queries.sampling import hash_bucket
from fitness_nutrition_data_pipeline_spark.queries.text_ops import _STOPWORDS
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPWORDS)

_CURATION_SQL = (
    _bands_cte()
    + f"""
    , mins AS (
      SELECT band_id, band_key, min(doc_id) AS bucket_min
      FROM bands GROUP BY band_id, band_key
    ),
    near AS (
      SELECT b.doc_id,
             max(CASE WHEN b.doc_id > m.bucket_min THEN 1 ELSE 0 END) AS is_near
      FROM bands b JOIN mins m USING (band_id, band_key)
      GROUP BY b.doc_id
    ),
    feats AS (
      SELECT doc_id, n_chars,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END AS is_exact,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 10 AS bucket
      FROM documents
    ),
    flags AS (
      SELECT f.doc_id, f.n_chars, f.is_exact,
             CASE WHEN len(toks) >= 10
                   AND CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
                         AS DOUBLE) / len(toks) BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS q,
             COALESCE(n.is_near, 0) AS is_near,
             CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM feats f LEFT JOIN near n USING (doc_id)
    )
    SELECT split,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_fail,
           CAST(sum(is_exact) AS BIGINT) AS n_exact_dup,
           CAST(sum(is_near) AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN q = 1 AND is_exact = 0 AND is_near = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN q = 1 AND is_exact = 0 AND is_near = 0
                    THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
    FROM flags GROUP BY split
    ORDER BY split
    """
)


@register(
    "corpus_curation_pipeline",
    _CURATION_SQL,
    sort=("split",),
    doc="End-to-end curation decision table: C4-style quality filter + "
    "exact dedup (min-id survivor per content hash) + LSH near-dup drop "
    "(linear bucket-min decision) + deterministic 80/10/10 split, "
    "aggregated per split. The integration query composing the graded "
    "operators; all joins key on doc_id, no pairwise expansion anywhere.",
)
def corpus_curation_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    near = lsh_dup_flags(
        lsh_bands(minhash_signatures(d, "doc_id", "text"), "doc_id"), "doc_id"
    )
    is_exact = (
        F.col("doc_id") > F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).cast("int")
    bucket = hash_bucket(F.col("doc_id"), 10)
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    # quality_features is a pure narrow projection (no shuffle), so it
    # rides the SAME scan as the split/exact-dup flags — the old shape
    # computed it as a separate branch and hash-joined it back to this
    # scan on doc_id: one full extra documents scan plus a join shuffle
    # for columns that were available in place
    flags = (
        quality_features(d, "text", _STOPWORDS)
        .select(
            "doc_id", "n_chars", "text", "passes_quality",
            split.alias("split"),
        )
        .withColumn("is_exact", is_exact)
        .drop("text")
        .join(near, "doc_id", "left")
        .withColumn("is_near", F.coalesce(F.col("is_dup_candidate"), F.lit(0)))
    )
    kept = (
        (F.col("passes_quality") == 1)
        & (F.col("is_exact") == 0)
        & (F.col("is_near") == 0)
    )
    return flags.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("passes_quality") == 0, 1).otherwise(0)).alias(
            "n_quality_fail"
        ),
        F.sum("is_exact").cast("long").alias("n_exact_dup"),
        F.sum("is_near").cast("long").alias("n_near_dup"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
    )


_SURVIVOR_SQL = (
    _LSH_LABELS_SQL
    + f"""
    , sizes AS (
      SELECT label AS cluster_id, count(*) AS n_docs
      FROM labels GROUP BY label HAVING count(*) >= 2
    ),
    scored AS (
      SELECT l.label AS cluster_id, d.doc_id, d.n_chars,
             CASE WHEN len(string_split_regex(lower(trim(d.text)), '\\s+')) >= 10
                   AND CAST(len(list_filter(
                         string_split_regex(lower(trim(d.text)), '\\s+'),
                         t -> t IN ({_STOP_SQL}))) AS DOUBLE)
                       / len(string_split_regex(lower(trim(d.text)), '\\s+'))
                       BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS q
      FROM labels l JOIN documents d USING (doc_id) JOIN sizes s ON s.cluster_id = l.label
    )
    SELECT cluster_id, n_docs AS cluster_size,
           CAST(doc_id AS BIGINT) AS survivor_doc_id,
           q AS survivor_quality, CAST(n_chars AS BIGINT) AS survivor_chars
    FROM (
      SELECT s.*, z.n_docs,
             row_number() OVER (PARTITION BY cluster_id
                                ORDER BY q DESC, n_chars DESC, doc_id) AS rn
      FROM scored s JOIN sizes z USING (cluster_id)
    ) WHERE rn = 1
    ORDER BY cluster_id
    """
)


@register(
    "cluster_survivor_selection",
    _SURVIVOR_SQL,
    sort=("cluster_id",),
    doc="Quality-aware dedup survivor: within each duplicate cluster "
    "(lsh_dedup_clusters), keep the document that passes the quality "
    "filter, breaking ties by length then id — the keep-BEST policy "
    "real curation uses instead of keep-min-id. One row_number window "
    "per cluster; clusters are tiny, so the window partition never "
    "skews. Completes dedup end-to-end: buckets → clusters → survivor.",
)
def cluster_survivor_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    # ONE corpus scan: the quality flags are computed per doc row
    # BEFORE the shingle explode and carried through the minhash partial
    # aggregation as narrow first() columns, so the signature pass and
    # the quality pass share a single read of the text. The doc-grain
    # result (id + 8 sig strings + 2 ints — never text) is pinned once
    # and feeds both the LSH bands and the survivor-scoring join; the
    # old shape re-scanned + re-tokenized the whole corpus just to
    # recompute n_chars/passes_quality for the clustered docs. Docs with
    # <2 tokens have no shingles and drop from `sigs`, but they also
    # have no bands, hence no cluster membership — the survivor join
    # only ever looks up clustered docs, so the result set is identical
    # (value-equality witnessed at sf0.1, oracle green at 3 SFs).
    dq = quality_features(d, "text", _STOPWORDS)
    sigs = minhash_signatures(
        dq, "doc_id", "text", carry_cols=("n_chars", "passes_quality")
    ).localCheckpoint()
    q = sigs.select("doc_id", "n_chars", "passes_quality")
    # size and rank are two windows over one cluster partitioning, so the
    # clusters are computed once (a sizes aggregate joined back would
    # run the connected-components finish a second time)
    scored = _lsh_clusters(sigs).join(q, "doc_id")
    w = W.partitionBy("cluster_id")
    ranked = w.orderBy(F.desc("passes_quality"), F.desc("n_chars"), "doc_id")
    return (
        scored.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(ranked))
        .where((F.col("rn") == 1) & (F.col("cluster_size") >= 2))
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("passes_quality").alias("survivor_quality"),
            F.col("n_chars").alias("survivor_chars"),
        )
    )


def _rag_pipeline_sql() -> str:
    from fitness_nutrition_data_pipeline_spark.queries.corpus_ops import (
        _CHUNK,
        _STRIDE,
    )

    return f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ctoks,
             string_split_regex(lower(trim(text)), '\\s+') AS qtoks,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END AS is_exact
      FROM documents WHERE text IS NOT NULL
    ),
    flags AS (
      SELECT doc_id, source, ctoks, is_exact,
             CASE WHEN len(qtoks) >= 10
                   AND CAST(len(list_filter(qtoks, t -> t IN ({_STOP_SQL})))
                         AS DOUBLE) / len(qtoks) BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS q
      FROM d
    ),
    kept AS (
      SELECT source, ctoks, len(ctoks) AS toks,
             CASE WHEN len(ctoks) = 0 THEN 0
                  WHEN len(ctoks) <= {_CHUNK} THEN 1
                  ELSE 1 + (len(ctoks) - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE}
             END AS nc
      FROM flags WHERE is_exact = 0 AND q = 1
    ),
    gen AS (
      SELECT source, ctoks, toks, unnest(range(nc)) AS i
      FROM kept WHERE nc > 0
    ),
    emit AS (
      SELECT source,
             md5(array_to_string(
               list_slice(ctoks, i * {_STRIDE} + 1,
                          least(i * {_STRIDE} + {_CHUNK}, toks)), ' '))
               AS chunk_hash,
             least(i * {_STRIDE} + {_CHUNK}, toks) - i * {_STRIDE} AS n_tokens
      FROM gen
    ),
    docstats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(is_exact) AS BIGINT) AS n_exact_dup,
             CAST(sum(CASE WHEN is_exact = 0 AND q = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quality_fail,
             CAST(sum(CASE WHEN is_exact = 0 AND q = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept
      FROM flags GROUP BY source
    ),
    chunkstats AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_unique_chunks,
             CAST(sum(n_tokens) AS BIGINT) AS emitted_tokens
      FROM emit GROUP BY source
    )
    SELECT d.source, d.n_docs, d.n_exact_dup, d.n_quality_fail, d.n_kept,
           CAST(coalesce(c.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(coalesce(c.n_unique_chunks, 0) AS BIGINT) AS n_unique_chunks,
           CAST(coalesce(c.emitted_tokens, 0) AS BIGINT) AS emitted_tokens
    FROM docstats d LEFT JOIN chunkstats c USING (source)
    ORDER BY d.source
    """


@register(
    "rag_corpus_pipeline",
    _rag_pipeline_sql(),
    sort=("source",),
    doc="The RAG ingestion pipeline as ONE composed flow: "
    "quality filter + exact dedup (min-id survivor per "
    "content hash) gate the corpus, the EXECUTABLE chunker "
    "(operators/text.py::chunk_documents, 64/48 sliding window) emits "
    "chunks for every kept doc, and chunk-grain exact dedup "
    "(distinct md5 over chunk text) measures the cross-document "
    "redundancy the overlap window creates — reported per source as "
    "the table an ingestion run ships to its vector-index stage. "
    "Oracle re-derives every stage independently in SQL (closed-form "
    "chunk counts + list_slice emission), so a divergence in ANY "
    "stage — filter, survivor choice, boundary math, slice bounds, "
    "hash — fails the hash. Scale: the filter/dedup stages are "
    "doc_id-keyed (one content-hash shuffle), the chunker adds ZERO "
    "exchanges (posexplode in the map stage), and chunk dedup is one "
    "hash-keyed distinct — the whole pipeline is three shuffles at "
    "any scale.",
)
def rag_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.text import (
        chunk_documents,
    )
    from fitness_nutrition_data_pipeline_spark.queries.corpus_ops import (
        _CHUNK,
        _STRIDE,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
    )
    is_exact = (
        F.col("doc_id") > F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).cast("int")
    q = quality_features(d, "text", _STOPWORDS).select(
        "doc_id", F.col("passes_quality").alias("q")
    )
    # doc-grain flags feed BOTH the per-source doc rollup and the
    # chunker's kept set — pin the diamond so documents scans once (a
    # real 100 TB curation run materializes the filtered corpus
    # between stages anyway; this is that boundary)
    flags = (
        d.withColumn("is_exact", is_exact)
        .join(q, "doc_id")
        .localCheckpoint()
    )
    docstats = flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("is_exact").cast("long").alias("n_exact_dup"),
        F.sum(F.when((F.col("is_exact") == 0) & (F.col("q") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_quality_fail"),
        F.sum(F.when((F.col("is_exact") == 0) & (F.col("q") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
    )
    kept = flags.where((F.col("is_exact") == 0) & (F.col("q") == 1)).select(
        "doc_id", "source", "text"
    )
    chunks = chunk_documents(kept, size=_CHUNK, stride=_STRIDE)
    chunkstats = (
        chunks.join(kept.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct(F.md5("chunk_text"))
            .cast("long")
            .alias("n_unique_chunks"),
            F.sum("n_tokens").cast("long").alias("emitted_tokens"),
        )
    )
    return (
        docstats.join(chunkstats, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_exact_dup",
            "n_quality_fail",
            "n_kept",
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_unique_chunks", F.lit(0))
            .cast("long")
            .alias("n_unique_chunks"),
            F.coalesce("emitted_tokens", F.lit(0))
            .cast("long")
            .alias("emitted_tokens"),
        )
    )


# -- pretraining mix plan: the train-side composition (the serving-side
#    sibling is serving_ops; the ingestion sibling is rag_corpus_pipeline)

_SEQ_LEN = 1024  # packed sequence length (tokens)
_SHARD_SEQS = 32  # sequences per output shard
_MIX_BUDGET = 100_000  # global token budget to allocate across sources


@register(
    "pretraining_mix_plan",
    f"""
    WITH feats AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY md5(text))
                  THEN 1 ELSE 0 END AS is_exact
      FROM documents
    ),
    kept AS (
      SELECT source, len(toks) AS n_toks
      FROM feats
      WHERE is_exact = 0
        AND len(toks) >= 10
        AND CAST(len(list_filter(toks, t -> t IN ({_STOP_SQL})))
              AS DOUBLE) / len(toks) BETWEEN 0.01 AND 0.6
    ),
    src AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs_kept,
             CAST(sum(n_toks) AS BIGINT) AS tokens_kept
      FROM kept GROUP BY source
    ),
    w AS (
      SELECT source, n_docs_kept, tokens_kept,
             CAST(round(pow(tokens_kept, 0.7) * 1000) AS BIGINT)
               AS weight_q
      FROM src
    ),
    t AS (SELECT CAST(sum(weight_q) AS BIGINT) AS tot FROM w),
    alloc AS (
      SELECT w.source, w.n_docs_kept, w.tokens_kept, w.weight_q,
             CAST({_MIX_BUDGET} * w.weight_q // t.tot AS BIGINT)
               AS budget_tokens
      FROM w CROSS JOIN t
    )
    SELECT source, n_docs_kept, tokens_kept, weight_q, budget_tokens,
           CAST((budget_tokens + {_SEQ_LEN - 1}) // {_SEQ_LEN} AS BIGINT)
             AS n_sequences,
           CAST(((budget_tokens + {_SEQ_LEN - 1}) // {_SEQ_LEN}
                 + {_SHARD_SEQS - 1}) // {_SHARD_SEQS} AS BIGINT)
             AS n_shards
    FROM alloc
    ORDER BY source
    """,
    sort=("source",),
    doc="The TRAIN-side composition closing the pipeline triangle "
    "(ingestion = rag_corpus_pipeline, serving = serving_ops): curation "
    "survivors (quality rule + exact-dedup min-id window, the exact "
    "stages corpus_curation_pipeline grades) fold to source grain, then "
    "temperature mixing (weight = pow(tokens, 0.7) quantized x1000 to "
    "an integer immediately — the source_temperature_mix precedent; "
    "x1000 not ppm so BUDGET * weight stays inside int64 up to ~4e15 "
    "tokens per source, review-caught overflow headroom), a global "
    "token budget allocated by integer div, and ceil-div packing into "
    "1024-token sequences and 32-sequence shards. Everything after the "
    "one doc-grain pass is source-grain; the 1-row weight total "
    "broadcasts; all outputs BIGINT. At 100 TB this is the planning "
    "query a training-data job runs FIRST — the budgets/shard counts "
    "it emits drive the actual shard writer (training_shard_assignment).",
)
def pretraining_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    is_exact = (
        F.col("doc_id")
        > F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    ).cast("int")
    q = quality_features(
        d.select("doc_id", "source", "text").withColumn("is_exact", is_exact),
        "text",
        _STOPWORDS,
    )
    kept = q.where(
        (F.col("is_exact") == 0) & (F.col("passes_quality") == 1)
    )
    src = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
    )
    w = src.withColumn(
        "weight_q",
        F.round(F.pow(F.col("tokens_kept"), F.lit(0.7)) * 1000)
        .cast("long"),
    )
    tot = w.agg(F.sum("weight_q").cast("long").alias("tot"))
    return (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget_tokens",
            F.expr(f"{_MIX_BUDGET}L * weight_q div tot").cast("long"),
        )
        .withColumn(
            "n_sequences",
            F.expr(f"(budget_tokens + {_SEQ_LEN - 1}) div {_SEQ_LEN}")
            .cast("long"),
        )
        .withColumn(
            "n_shards",
            F.expr(
                f"(n_sequences + {_SHARD_SEQS - 1}) div {_SHARD_SEQS}"
            ).cast("long"),
        )
        .select(
            "source",
            "n_docs_kept",
            "tokens_kept",
            "weight_q",
            "budget_tokens",
            "n_sequences",
            "n_shards",
        )
    )


@register(
    "capped_waterfill_allocation",
    """
    WITH caps AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS cap
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(cap) AS BIGINT) AS total,
             CAST(sum(cap) // 2 AS BIGINT) AS budget,
             CAST(count(*) AS BIGINT) AS m
      FROM caps
    ),
    ranked AS (
      SELECT source, cap,
             row_number() OVER (ORDER BY cap, source) AS rn,
             sum(cap) OVER (ORDER BY cap, source
                            ROWS UNBOUNDED PRECEDING) AS pfx
      FROM caps
    ),
    kk AS (
      SELECT coalesce(max(CASE WHEN r.pfx + (t.m - r.rn) * r.cap <= t.budget
                                THEN r.rn END), 0) AS k
      FROM ranked r CROSS JOIN tot t
    ),
    lvl AS (
      SELECT kk.k,
             (t.budget - coalesce((SELECT pfx FROM ranked WHERE rn = kk.k), 0))
                 // (t.m - kk.k) AS t_level,
             (t.budget - coalesce((SELECT pfx FROM ranked WHERE rn = kk.k), 0))
                 % (t.m - kk.k) AS rem
      FROM kk CROSS JOIN tot t
    )
    SELECT r.source, r.cap AS cap_chars,
           CAST(CASE WHEN r.rn <= l.k THEN r.cap
                     WHEN r.rn - l.k <= l.rem THEN l.t_level + 1
                     ELSE l.t_level END AS BIGINT) AS alloc_chars,
           CAST(CASE WHEN r.rn <= l.k THEN 1 ELSE 0 END AS BIGINT)
               AS is_capped
    FROM ranked r CROSS JOIN lvl l
    ORDER BY r.source
    """,
    sort=("source",),
    doc="Capped water-filling allocation — the budget split a training "
    "mix needs when sources have hard capacity ceilings: spend a "
    "global char budget (half the corpus) so every source gets an "
    "EQUAL level except sources whose whole capacity fits under it "
    "(those are fully funded). Closed form over the cap-sorted prefix "
    "sums: k = largest rank whose own cap works as a feasible level "
    "(pfx_k + (m-k)*cap_k <= B), level = (B - pfx_k) div (m-k), and "
    "the mod-remainder bumps the first r uncapped sources by one unit "
    "(deterministic cap-then-name order; maximality of k guarantees "
    "the bump never exceeds a cap). Integer arithmetic end to end, "
    "and the allocations sum to the budget EXACTLY — the oracle "
    "re-derives every branch, so the hash proves the waterfill "
    "algebra, not a float approximation. One source-grain aggregate "
    "touches data; the allocation runs on the source-count relation.",
)
def capped_waterfill_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # caps fans out into FOUR consumers (tot, ranked -> kk / pfx_k /
    # final projection) — unpinned, the executed plan re-scanned
    # documents 9 times for one source-grain aggregate
    # (tools/audit_reuse.py). The relation is answer-sized
    # (|sources| rows), so localCheckpoint is admissible by the repo
    # rule and cuts the plan to ONE documents scan; every downstream
    # step (the unpartitioned-but-bounded rank window, the feasibility
    # scan, the level algebra) runs on the pinned source-count relation.
    caps = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("cap"))
        .localCheckpoint()
    )
    tot = caps.agg(
        F.sum("cap").cast("long").alias("total"),
        F.expr("CAST(sum(cap) DIV 2 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    w_ord = Window.orderBy("cap", "source")
    ranked = caps.select(
        "source",
        "cap",
        F.row_number().over(w_ord).alias("rn"),
        F.sum("cap").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "pfx"
        ),
    ).crossJoin(F.broadcast(tot))
    kk = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pfx") + (F.col("m") - F.col("rn")) * F.col("cap")
                    <= F.col("budget"),
                    F.col("rn"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    pfx_k = (
        ranked.join(F.broadcast(kk), F.col("rn") == F.col("k"))
        .select(F.col("pfx").alias("pfx_k"))
    )
    lvl = (
        kk.crossJoin(F.broadcast(tot))
        .crossJoin(
            F.broadcast(
                pfx_k.unionByName(
                    ranked.sparkSession.createDataFrame([(0,)], "pfx_k long")
                ).agg(F.max("pfx_k").alias("pfx_k"))
            )
        )
        .select(
            "k",
            F.expr("(budget - pfx_k) DIV (m - k)").alias("t_level"),
            F.expr("(budget - pfx_k) % (m - k)").alias("rem"),
        )
    )
    return ranked.crossJoin(F.broadcast(lvl)).select(
        "source",
        F.col("cap").alias("cap_chars"),
        F.when(F.col("rn") <= F.col("k"), F.col("cap"))
        .when(F.col("rn") - F.col("k") <= F.col("rem"), F.col("t_level") + 1)
        .otherwise(F.col("t_level"))
        .cast("long")
        .alias("alloc_chars"),
        F.when(F.col("rn") <= F.col("k"), 1).otherwise(0)
        .cast("long")
        .alias("is_capped"),
    )
