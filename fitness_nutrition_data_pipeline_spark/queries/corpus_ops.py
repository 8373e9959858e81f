r"""Corpus-administration operators: the bookkeeping queries a training-
data team runs over a petabyte corpus before a tokenization run — a
per-source data card, a capped inverted-index sample, prefix-duplicate
(truncation) auditing, and per-dimension embedding health.

Complements the curation/dedup/sampling families: those decide what to
keep; this family describes what is there, in the shapes (bounded
outputs, hash-sampled postings, dimension-grain rollups) that stay
answer-sized no matter how large the corpus grows.

Reference parity note: the reference pipeline's profiling surface is the
validation corpus (validation.sql:1-462 — row counts, domains, ranges);
these queries are the LLM-corpus analogue of that same "describe the
warehouse before shipping it" stage.

Tokenization parity with the text suite: lowercase, split on ``\s+``,
drop empties — identical expressions both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.queries.sampling import (
    _BUCKET_SQL,
    hash_bucket,
)
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "inverted_index_postings",
    rf"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        FROM documents)
      WHERE tok <> ''
    ),
    df AS (SELECT tok, count(*) AS df FROM pairs GROUP BY tok),
    top AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 20),
    posts AS (
      SELECT tok, count(*) AS n_sampled,
             array_to_string(list_sort(list(doc_id)), ',') AS sampled_postings
      FROM pairs
      WHERE {_BUCKET_SQL.format(key="doc_id")} % 10 = 0
        AND tok IN (SELECT tok FROM top)
      GROUP BY tok
    )
    SELECT t.tok AS term, t.df,
           CAST(COALESCE(p.n_sampled, 0) AS BIGINT) AS n_sampled,
           COALESCE(p.sampled_postings, '') AS sampled_postings
    FROM top t LEFT JOIN posts p USING (tok)
    ORDER BY df DESC, term
    """,
    doc="Inverted-index build, serving-sample edition: document frequency "
    "per term (exact, map-side partial count) for the top-20 terms, plus "
    "a DETERMINISTIC ~10 percent hash-sampled posting list (md5-bucketed on "
    "doc_id, the sampling.py portability contract). The cap is the scale "
    "story: exact df is a bounded agg at any corpus size, while full "
    "posting lists for stopword-class terms would be corpus-sized — the "
    "hash sample keeps every group's collected state at about df/10 of "
    "a 20-term subset with no rand() and no skew surprise, and the same "
    "predicate prunes at the scan when postings are materialized "
    "per-partition.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    df = pairs.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # pin the 20-row top-k: it is consumed twice (posting semi-join +
    # final enrich), and unpinned each consumer re-runs the whole
    # explode+distinct+count pass (audited: 3 parquet scans -> 2)
    top = df.orderBy(F.desc("df"), "tok").limit(20).localCheckpoint()
    # restrict to the top terms BEFORE collecting postings: the posting
    # agg then has ≤20 groups (broadcastable by construction) instead of
    # vocab-sized state, and the collected lists are 1/10-sampled
    posts = (
        pairs.where(hash_bucket(F.col("doc_id"), 10) == 0)
        .join(F.broadcast(top.select("tok")), "tok")
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("sampled_postings"),
        )
    )
    return (
        top.join(F.broadcast(posts), "tok", "left")
        .select(
            F.col("tok").alias("term"),
            "df",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("sampled_postings", F.lit("")).alias("sampled_postings"),
        )
        .orderBy(F.desc("df"), "term")
    )


@register(
    "corpus_datacard",
    r"""
    WITH docs AS (
      SELECT * FROM documents
      WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL
    ),
    base AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS ws_tokens,
             round(CAST(avg(length(text)) AS DOUBLE), 2) AS avg_chars
      FROM docs GROUP BY source
    ),
    dup AS (
      SELECT source, CAST(sum(c - 1) AS BIGINT) AS exact_dup_docs
      FROM (SELECT source, md5(text) AS h, count(*) AS c
            FROM docs GROUP BY source, md5(text))
      GROUP BY source
    ),
    langtop AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang) AS rn
        FROM docs GROUP BY source, lang)
      WHERE rn = 1
    )
    SELECT b.source, b.n_docs, b.n_langs, l.top_lang,
           b.ws_tokens, b.avg_chars, d.exact_dup_docs
    FROM base b JOIN dup d USING (source) JOIN langtop l USING (source)
    ORDER BY source
    """,
    doc="Per-source data card — the datasheet table published alongside a "
    "training corpus: doc count, language spread and majority language "
    "(deterministic argmax: count desc, lang asc tie-break), whitespace-"
    "token mass, mean doc length, and the within-source exact-duplicate "
    "count (sum(c-1) over md5(text) groups). The text column is scanned "
    "and tokenized exactly ONCE into a materialized doc-grain stats "
    "relation (localCheckpoint — per-branch column pruning would "
    "otherwise defeat exchange reuse and re-scan per statistic family); "
    "every rollup then reads that tiny metadata table, reduces to source "
    "grain, and joins broadcast-sized. The argmax window partitions on "
    "(source) over lang-grain rows, never data-grain.",
    sort=("source",),
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-scan diamond: ONE pass builds the (source, lang, text-hash)
    # grain with everything the card needs (count, token/char mass); the
    # rollups below consume the materialized grain (pinned by
    # tests/test_plans.py::test_corpus_datacard_window_on_lang_grain).
    # NULL contract, explicit on BOTH engines: cards describe well-formed
    # docs only (non-null text/lang/source) — without the filter the two
    # sides diverge on how NULLs enter averages and distinct counts
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
        & F.col("lang").isNotNull()
        & F.col("source").isNotNull()
    )
    grain = d.groupBy(
        "source", "lang", F.md5("text").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("toks"),
        F.sum(F.length("text")).alias("chars"),
    )
    # materialize the doc-grain stats ONCE: per-branch column pruning
    # gives each rollup a different partial-agg payload, so Spark cannot
    # reuse the exchange across them and would re-scan (and re-tokenize)
    # the text column per statistic family — the checkpoint turns that
    # into one heavy pass + three reads of a tiny metadata relation,
    # exactly how a warehouse materializes a stats table before reporting
    grain = grain.localCheckpoint()
    base = grain.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("toks").alias("ws_tokens"),
        F.round(F.sum("chars") / F.sum("c"), 2).alias("avg_chars"),
    )
    # dup grain is (source, h) REGARDLESS of lang label — re-rolled from
    # the shared grain, matching the oracle's GROUP BY source, md5(text)
    dup = (
        grain.groupBy("source", "h")
        .agg(F.sum("c").alias("ch"))
        .groupBy("source")
        .agg(F.sum(F.col("ch") - 1).cast("long").alias("exact_dup_docs"))
    )
    lang_counts = grain.groupBy("source", "lang").agg(F.sum("c").alias("c"))
    # n_langs from the lang-grain rollup, NOT countDistinct in `base`:
    # a distinct aggregate plans its own expansion path and breaks the
    # shared-exchange diamond (re-scanning documents a second time)
    nlangs = lang_counts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs")
    )
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(F.desc("c"), "lang")
    )
    langtop = (
        lang_counts.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        base.join(dup, "source")
        .join(nlangs, "source")
        .join(langtop, "source")
        .select(
            "source", "n_docs", "n_langs", "top_lang",
            "ws_tokens", "avg_chars", "exact_dup_docs",
        )
    )


@register(
    "prefix_dup_groups",
    """
    WITH p AS (
      SELECT doc_id, source, md5(substr(text, 1, 64)) AS h, md5(text) AS fh
      FROM documents WHERE length(text) >= 64
    ),
    g AS (
      SELECT h, count(*) AS c,
             count(DISTINCT source) AS ns,
             count(DISTINCT fh) AS nv
      FROM p GROUP BY h
    )
    SELECT CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_docs_in_groups,
           CAST(max(c) AS BIGINT) AS largest_group,
           CAST(sum(CASE WHEN c >= 2 AND ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS cross_source_groups,
           CAST(sum(CASE WHEN c >= 2 AND nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS truncation_suspects
    FROM g
    """,
    doc="Prefix-duplicate audit: documents sharing an identical 64-char "
    "prefix (md5 of the prefix, one shuffle on the prefix hash) form a "
    "group; groups whose FULL texts differ are truncation suspects — the "
    "copy-then-truncate failure mode exact dedup misses and near-dup "
    "pipelines pay quadratic candidates to find. Group stats reduce to "
    "one row; distinct-source and distinct-fulltext counts detect "
    "cross-source leakage and real truncation respectively. At 100 TB "
    "the prefix hash is computed in the scan projection, so the shuffle "
    "carries 3 short hash/source columns, never text.",
)
def prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    p = d.where(F.length("text") >= 64).select(
        "source",
        F.md5(F.substring("text", 1, 64)).alias("h"),
        F.md5("text").alias("fh"),
    )
    g = p.groupBy("h").agg(
        F.count(F.lit(1)).alias("c"),
        F.countDistinct("source").alias("ns"),
        F.countDistinct("fh").alias("nv"),
    )
    dup = F.col("c") >= 2
    return g.agg(
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_groups"),
        F.sum(F.when(dup, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_docs_in_groups"),
        F.max("c").cast("long").alias("largest_group"),
        F.sum(F.when(dup & (F.col("ns") > 1), 1).otherwise(0))
        .cast("long")
        .alias("cross_source_groups"),
        F.sum(F.when(dup & (F.col("nv") > 1), 1).otherwise(0))
        .cast("long")
        .alias("truncation_suspects"),
    )


@register(
    "token_length_percentiles",
    r"""
    WITH lens AS (
      SELECT lang, len(string_split_regex(trim(text), '\s+')) AS n_tok
      FROM documents
      WHERE text IS NOT NULL
    ),
    hist AS (
      SELECT lang, n_tok, count(*) AS c FROM lens GROUP BY lang, n_tok
    ),
    cdf AS (
      SELECT lang, n_tok, c,
             sum(c) OVER (PARTITION BY lang ORDER BY n_tok
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY lang) AS n
      FROM hist
    )
    SELECT lang,
           CAST(max(n) AS BIGINT) AS n_docs,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN n_tok END) AS BIGINT)
             AS p50_tokens,
           CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN n_tok END) AS BIGINT)
             AS p90_tokens,
           CAST(min(CASE WHEN cum >= (99 * n + 99) // 100 THEN n_tok END) AS BIGINT)
             AS p99_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens
    FROM cdf GROUP BY lang
    ORDER BY lang
    """,
    doc="Per-language token-length percentiles (nearest-rank p50/p90/p99) "
    "for sequence-packing and truncation planning — computed EXACTLY at "
    "any scale via the value-grain histogram CDF: lengths collapse to a "
    "(lang, n_tok) histogram first (map-side combine), the cumulative "
    "window runs over histogram rows (bounded by max doc length, never "
    "data grain), and thresholds are pure integer ceil-division — no "
    "float boundary, no per-group data sort, unlike percentile()/"
    "quantile_cont which sort each group's raw values "
    "(percentile_stats documents that trade). ",
    sort=("lang",),
)
def token_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # text IS NOT NULL on both sides (ADVICE r5): a NULL-text doc gets a
    # NULL n_tok, which Spark's CDF window sorts FIRST but DuckDB sorts
    # LAST — shifting every cumulative count. The NULL-contract filter
    # removes the latent divergence (corpus_datacard pattern).
    lens = d.where(F.col("text").isNotNull()).select(
        "lang",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok"),
    )
    hist = lens.groupBy("lang", "n_tok").agg(F.count(F.lit(1)).alias("c"))
    w_cdf = (
        W.partitionBy("lang")
        .orderBy("n_tok")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cdf = hist.select(
        "lang",
        "n_tok",
        F.sum("c").over(w_cdf).alias("cum"),
        F.sum("c").over(W.partitionBy("lang")).alias("n"),
    )

    def rank_at(num: int, den: int, alias: str):
        thr = F.expr(f"({num} * n + {num}) div {den}")
        return (
            F.min(F.when(F.col("cum") >= thr, F.col("n_tok")))
            .cast("long")
            .alias(alias)
        )

    return cdf.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_docs"),
        rank_at(1, 2, "p50_tokens"),
        rank_at(9, 10, "p90_tokens"),
        rank_at(99, 100, "p99_tokens"),
        F.max("n_tok").cast("long").alias("max_tokens"),
    )


@register(
    "embedding_coverage_check",
    """
    WITH e AS (
      SELECT vec_id,
             CASE WHEN len(embedding) = 64 THEN 0 ELSE 1 END AS bad_dim
      FROM embeddings WHERE vec_id IS NOT NULL
    ),
    d0 AS (
      SELECT doc_id, source FROM documents
      WHERE doc_id IS NOT NULL AND source IS NOT NULL
    ),
    per_src AS (
      SELECT d.source,
             count(*) AS n_docs,
             CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_with_vec,
             CAST(sum(COALESCE(e.bad_dim, 0)) AS BIGINT) AS n_bad_dim,
             round(100.0 * sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                   / count(*), 4) AS coverage_pct
      FROM d0 d LEFT JOIN e ON e.vec_id = d.doc_id
      GROUP BY d.source
    ),
    orphans AS (
      SELECT '__orphan_vecs__' AS source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(0 AS BIGINT) AS n_with_vec,
             CAST(COALESCE(sum(bad_dim), 0) AS BIGINT) AS n_bad_dim,
             CAST(0.0 AS DOUBLE) AS coverage_pct
      FROM e WHERE vec_id NOT IN (SELECT doc_id FROM d0)
    )
    SELECT * FROM per_src UNION ALL SELECT * FROM orphans
    ORDER BY source
    """,
    doc="Cross-modal integrity: per-source embedding coverage of the "
    "document table (left-join grain), malformed-vector count (dimension "
    "≠ 64), and a summary row counting orphan vectors with no backing "
    "document (anti-join) — the referential checks run before trusting "
    "a (text, vector) pair table for dedup or ANN. One id-keyed join "
    "plus one anti-join, both reducing to source grain; the orphan row "
    "keeps the result a single relation for the report sink.",
    sort=("source",),
)
def embedding_coverage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same NULL contract as the oracle's d0/e CTEs: null ids and null
    # sources are excluded explicitly rather than falling into engine-
    # specific NOT IN / full-outer NULL semantics
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .where(F.col("doc_id").isNotNull() & F.col("source").isNotNull())
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isNotNull())
        .select(
            "vec_id",
            F.when(F.size("embedding") == 64, 0).otherwise(1).alias("bad_dim"),
        )
    )
    # ONE full-outer join feeds both the per-source rows and the orphan
    # summary (orphan vectors fall into a synthetic source key) — the
    # left-join + anti-join formulation scans both tables twice
    # (audited: 4 parquet scans -> 2, one per table)
    joined = d.join(e, d.doc_id == e.vec_id, "full_outer")
    grp = F.coalesce("source", F.lit("__orphan_vecs__"))
    is_orphan = F.col("source").isNull()
    has_vec = F.col("vec_id").isNotNull() & ~is_orphan
    per_grp = joined.groupBy(grp.alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(has_vec, 1).otherwise(0)).cast("long").alias("n_with_vec"),
        F.sum(F.coalesce("bad_dim", F.lit(0))).cast("long").alias("n_bad_dim"),
        F.when(
            F.max(F.when(is_orphan, 1).otherwise(0)) == 1, F.lit(0.0)
        )
        .otherwise(
            F.round(
                100.0
                * F.sum(F.when(has_vec, 1).otherwise(0))
                / F.count(F.lit(1)),
                4,
            )
        )
        .alias("coverage_pct"),
    )
    # keep the orphan summary row present even when there are no orphans
    empty_orphan = spark.createDataFrame(
        [("__orphan_vecs__", 0, 0, 0, 0.0)],
        "source string, n_docs long, n_with_vec long, n_bad_dim long, "
        "coverage_pct double",
    )
    dedup_w = W.partitionBy("source").orderBy(F.desc("n_docs"))
    return (
        per_grp.unionByName(empty_orphan)
        .withColumn("_rn", F.row_number().over(dedup_w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "embedding_dim_variance",
    """
    WITH dims AS (
      SELECT generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS x
      FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings)
    )
    SELECT i,
           round(CAST(avg(x) AS DOUBLE), 6) AS mean_val,
           round(CAST(var_samp(x) AS DOUBLE), 6) AS var_val,
           round(CAST(min(x) AS DOUBLE), 6) AS min_val,
           round(CAST(max(x) AS DOUBLE), 6) AS max_val,
           CASE WHEN var_samp(x) < 0.0001 THEN 1 ELSE 0 END AS is_dead
    FROM dims GROUP BY i
    ORDER BY i
    """,
    doc="Per-dimension embedding health: mean, sample variance, range, "
    "and a dead-dimension flag (variance < 1e-4) per coordinate — the "
    "feature-collapse check run before trusting an embedding column for "
    "dedup/ANN (a dead or near-constant dimension adds index cost but no "
    "discrimination; a drifted mean breaks quantization offsets computed "
    "on an older snapshot, see embedding_quantization_params). One "
    "posexplode + dimension-grain agg: only n_dims rows cross the "
    "shuffle regardless of corpus size.",
    sort=("i",),
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    return dims.groupBy("i").agg(
        F.round(F.avg("x"), 6).alias("mean_val"),
        F.round(F.var_samp("x"), 6).alias("var_val"),
        F.round(F.min("x"), 6).alias("min_val"),
        F.round(F.max("x"), 6).alias("max_val"),
        F.when(F.var_samp("x") < 0.0001, 1).otherwise(0).alias("is_dead"),
    )
