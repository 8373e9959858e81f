r"""Corpus-administration operators: the bookkeeping queries a training-
data team runs over a petabyte corpus before a tokenization run — a
per-source data card, a capped inverted-index sample, prefix-duplicate
(truncation) auditing, per-dimension embedding health — and the
RAG/ingestion planning readouts beside them: fixed-stride chunk planning,
an ordered quality-rule funnel with first-failing-rule attribution,
tokenizer-fertility estimation and character-class composition.

Complements the curation/dedup/sampling families: those decide what to
keep; this family describes what is there, in the shapes (bounded
outputs, hash-sampled postings, dimension-grain rollups) that stay
answer-sized no matter how large the corpus grows.

Reference parity note: the reference pipeline's profiling surface is the
validation corpus (validation.sql:1-462 — row counts, domains, ranges);
these queries are the LLM-corpus analogue of that same "describe the
warehouse before shipping it" stage. The planning readouts have no
reference analogue.

Float discipline: every rule threshold and ratio is integer math until
the final projection — counts, char sums and integer-ppm shares cross
engines exactly; the few reported ratios are decimal-quantized then cast
DOUBLE (the ks_stat pattern, and the only types the output allowlist
admits).

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
    # text IS NOT NULL on both sides: a NULL-text doc gets a
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


# ---------------------------------------------------------------------------
# RAG/ingestion planning: chunk plan, quality-rule funnel, tokenizer
# fertility, character-class composition
# ---------------------------------------------------------------------------


# whitespace-token count without an explode: split, drop empties, size.
# Stays a scalar expression per row — the scan's only shuffle is the
# final source-grain groupBy. A FUNCTION, not a module constant:
# building a Column needs a live SparkContext, and query modules must
# import before any session exists (registry walks at collection time).
def _tok_spark():
    return F.size(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda x: x != "",
        )
    )
_TOK_SQL = (
    "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "x -> x <> ''))"
)

_CHUNK = 64  # tokens per chunk
_STRIDE = 48  # tokens advanced per chunk (overlap = CHUNK - STRIDE = 16)


@register(
    "rag_chunk_plan",
    f"""
    WITH d AS (
      SELECT source, {_TOK_SQL} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT source, toks,
             CASE WHEN toks = 0 THEN 0
                  WHEN toks <= {_CHUNK} THEN 1
                  ELSE 1 + (toks - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE}
             END AS n_chunks
      FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
           CAST(sum(toks + {_CHUNK - _STRIDE} * (n_chunks - 1)) AS BIGINT)
             AS emitted_tokens,
           CAST(sum(toks + {_CHUNK - _STRIDE} * (n_chunks - 1)) * 1000000
                // sum(toks) AS BIGINT) AS expansion_ppm
    FROM c GROUP BY source
    ORDER BY source
    """,
    sort=("source",),
    doc=f"RAG-ingestion chunk plan: slide a {_CHUNK}-token window with "
    f"stride {_STRIDE} (overlap {_CHUNK - _STRIDE}) over each document "
    "and report, per source, the chunk count and the token volume the "
    "chunker will EMIT — overlap re-emits tokens, and emitted = "
    "original + overlap x (chunks - 1) exactly, so the expansion "
    "ratio (integer ppm) is the storage/compute multiplier the "
    "embedding stage pays. Chunk counts are closed-form integer math "
    "per row (no per-chunk explode): the corpus scans once into a "
    "source-grain aggregate with map-side partials. At 100 TB the "
    "plan is the cheap pass you run BEFORE the chunker job; the "
    "chunker itself is the same expression exploded with "
    "posexplode_outer over a sequence(), one shuffle-free map stage.",
)
def rag_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    c = d.select(
        "source", _tok_spark().cast("long").alias("toks")
    ).select(
        "source",
        "toks",
        F.when(F.col("toks") == 0, F.lit(0))
        .when(F.col("toks") <= _CHUNK, F.lit(1))
        .otherwise(
            F.lit(1)
            + F.expr(f"(toks - {_CHUNK} + {_STRIDE} - 1) div {_STRIDE}")
        )
        .cast("long")
        .alias("n_chunks"),
    )
    overlap = _CHUNK - _STRIDE
    emitted = F.sum(
        F.col("toks") + overlap * (F.col("n_chunks") - F.lit(1))
    )
    return (
        c.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.sum("n_chunks").cast("long").alias("total_chunks"),
            emitted.cast("long").alias("emitted_tokens"),
            F.expr(
                f"sum(toks + {overlap} * (n_chunks - 1)) * 1000000 "
                "div sum(toks)"
            )
            .cast("long")
            .alias("expansion_ppm"),
        )
        .orderBy("source")
    )


# Ordered quality gate, Gopher-rule style. Every predicate is an
# INTEGER comparison (mean-word-length bounds become cross-multiplied
# integer inequalities) so first-failing-rule attribution is bit-exact
# cross-engine. nonspace = characters left after deleting whitespace;
# digits = characters left after deleting non-digits.
_RULES_DOC = (
    "r1 n_chars>=64; r2 words>=10; r3 mean word length in [3,10] "
    "(3*words <= nonspace <= 10*words); r4 digit share < 20% "
    "(5*digits < nonspace)"
)


@register(
    "filter_funnel_attribution",
    f"""
    WITH d AS (
      SELECT n_chars,
             {_TOK_SQL} AS words,
             length(regexp_replace(lower(trim(text)), '\\s', '', 'g'))
               AS nonspace,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
      FROM documents WHERE text IS NOT NULL
    ),
    staged AS (
      SELECT CASE
               WHEN NOT (n_chars >= 64) THEN 1
               WHEN NOT (words >= 10) THEN 2
               WHEN NOT (3 * words <= nonspace AND nonspace <= 10 * words)
                 THEN 3
               WHEN NOT (5 * digits < nonspace) THEN 4
               ELSE 0
             END AS first_fail
      FROM d
    ),
    drops AS (
      SELECT first_fail, count(*) AS n FROM staged
      WHERE first_fail > 0 GROUP BY first_fail
    ),
    tot AS (SELECT count(*) AS n_docs FROM staged)
    SELECT g.stage,
           g.rule,
           CAST(coalesce(drops.n, 0) AS BIGINT) AS dropped_here,
           CAST(tot.n_docs
                - sum(coalesce(drops.n, 0))
                  OVER (ORDER BY g.stage) AS BIGINT) AS surviving,
           CAST((tot.n_docs
                 - sum(coalesce(drops.n, 0)) OVER (ORDER BY g.stage))
                * 1000000 // tot.n_docs AS BIGINT) AS survival_ppm
    FROM (VALUES (1, 'min_chars_64'), (2, 'min_words_10'),
                 (3, 'mean_word_len_3_10'), (4, 'digit_share_lt_20pct'))
         AS g(stage, rule)
    LEFT JOIN drops ON drops.first_fail = g.stage
    CROSS JOIN tot
    ORDER BY g.stage
    """,
    sort=("stage",),
    doc="Quality-gate funnel with first-failing-rule attribution — the "
    "readout every corpus-cleaning pipeline publishes (which rule costs "
    f"how much, in order): {_RULES_DOC}. Each document is assigned the "
    "FIRST rule it fails (0 = survives all), so per-stage drops sum "
    "exactly to total drops and the survivor curve is monotone — "
    "unlike independent per-rule counts, which double-count docs "
    "failing several rules. Complements length_filter_survivorship "
    "(threshold grid on ONE rule) with the ordered multi-rule "
    "waterfall. All predicates are integer comparisons; one corpus "
    "scan folds to a 4-group aggregate, and the funnel window runs on "
    "4 rows. Scale note: at 100 TB this is the same one scan — the "
    "attribution CASE is codegen, the rollup is rule-grain.",
)
def filter_funnel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "n_chars",
        _tok_spark().cast("long").alias("words"),
        F.length(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s", "")
        )
        .cast("long")
        .alias("nonspace"),
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
        .cast("long")
        .alias("digits"),
    )
    first_fail = (
        F.when(~(F.col("n_chars") >= 64), F.lit(1))
        .when(~(F.col("words") >= 10), F.lit(2))
        .when(
            ~(
                (3 * F.col("words") <= F.col("nonspace"))
                & (F.col("nonspace") <= 10 * F.col("words"))
            ),
            F.lit(3),
        )
        .when(~(5 * F.col("digits") < F.col("nonspace")), F.lit(4))
        .otherwise(F.lit(0))
    )
    staged = d.select(first_fail.alias("first_fail"))
    # rule-grain relation feeds the drop counts AND the total — pin it
    # (5 rows max) so the corpus scans once (diamond policy)
    counts = (
        staged.groupBy("first_fail")
        .agg(F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .localCheckpoint()
    )
    tot = counts.agg(F.sum("n").cast("long").alias("n_docs"))
    grid = spark.createDataFrame(
        [
            (1, "min_chars_64"),
            (2, "min_words_10"),
            (3, "mean_word_len_3_10"),
            (4, "digit_share_lt_20pct"),
        ],
        "stage int, rule string",
    )
    from pyspark.sql.window import Window as W

    funnel = (
        grid.join(
            counts.where(F.col("first_fail") > 0),
            grid.stage == counts.first_fail,
            "left",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "rule",
            F.coalesce("n", F.lit(0)).cast("long").alias("dropped_here"),
            "n_docs",
        )
    )
    cum = F.sum("dropped_here").over(
        W.orderBy("stage").rowsBetween(W.unboundedPreceding, 0)
    )
    return funnel.select(
        "stage",
        "rule",
        "dropped_here",
        (F.col("n_docs") - cum).cast("long").alias("surviving"),
        F.expr(
            "(n_docs - sum(dropped_here) OVER "
            "(ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND "
            "CURRENT ROW)) * 1000000 div n_docs"
        )
        .cast("long")
        .alias("survival_ppm"),
    ).orderBy("stage")


@register(
    "tokenizer_fertility_by_source",
    f"""
    WITH w AS (
      SELECT source,
             unnest(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS word
      FROM documents WHERE text IS NOT NULL
    ),
    t AS (
      SELECT source, length(word) AS wlen,
             greatest(1, (length(word) + 3) // 4) AS est_toks
      FROM w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(wlen) AS BIGINT) AS word_chars,
           CAST(sum(est_toks) AS BIGINT) AS est_subword_tokens,
           CAST(sum(est_toks) * 1000 // count(*) AS BIGINT)
             AS fertility_x1000,
           CAST(sum(wlen) * 1000 // sum(est_toks) AS BIGINT)
             AS chars_per_token_x1000
    FROM t GROUP BY source
    ORDER BY source
    """,
    sort=("source",),
    doc="Tokenizer-fertility estimate per source (tokens-per-word x1000 "
    "and chars-per-token x1000) under the standard ~4-chars-per-token "
    "subword proxy: each word costs max(1, ceil(len/4)) tokens. "
    "Fertility is THE cross-lingual cost planner — a source whose "
    "fertility runs high (long/agglutinative words) consumes "
    "proportionally more of a fixed token budget than its byte share "
    "suggests, which is what token_budget_plan's proportional mixing "
    "needs correcting by. ALL integer math (ceil as (len+3)//4, "
    "ratios as integer x1000) — bit-exact cross-engine. One explode "
    "to word grain, then a single source-keyed aggregate with "
    "map-side partials; nothing wider than source x distinct-word-"
    "length ever shuffles.",
)
def tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    w = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda x: x != "",
            )
        ).alias("word"),
    )
    t = w.select(
        "source",
        F.length("word").cast("long").alias("wlen"),
        F.greatest(
            F.lit(1), F.expr("(length(word) + 3) div 4")
        )
        .cast("long")
        .alias("est_toks"),
    )
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("wlen").cast("long").alias("word_chars"),
            F.sum("est_toks").cast("long").alias("est_subword_tokens"),
            F.expr("sum(est_toks) * 1000 div count(1)")
            .cast("long")
            .alias("fertility_x1000"),
            F.expr("sum(wlen) * 1000 div sum(est_toks)")
            .cast("long")
            .alias("chars_per_token_x1000"),
        )
        .orderBy("source")
    )


@register(
    "char_class_profile",
    """
    WITH d AS (
      SELECT source,
             length(text) AS total,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
             length(text)
               - length(regexp_replace(text, '\\s', '', 'g')) AS space
      FROM documents WHERE text IS NOT NULL
    )
    SELECT source,
           CAST(sum(total) AS BIGINT) AS total_chars,
           CAST(sum(alpha) AS BIGINT) AS alpha_chars,
           CAST(sum(digit) AS BIGINT) AS digit_chars,
           CAST(sum(space) AS BIGINT) AS space_chars,
           CAST(sum(total - alpha - digit - space) AS BIGINT)
             AS other_chars,
           CAST(sum(alpha) * 1000000 // sum(total) AS BIGINT)
             AS alpha_ppm,
           CAST(sum(total - alpha - digit - space) * 1000000 // sum(total)
                AS BIGINT) AS other_ppm
    FROM d GROUP BY source
    ORDER BY source
    """,
    sort=("source",),
    doc="Character-class composition per source — alpha / digit / "
    "whitespace / other counts and integer-ppm shares. The cheap "
    "script-and-noise screen that runs BEFORE language ID: a source "
    "whose 'other' share spikes is markup, mojibake or a non-Latin "
    "script the downstream lang-ID lens (lang_id_scores) must be "
    "pointed at, and a digit-heavy source is tables/logs that quality "
    "rules treat separately. Class counts are regexp_replace-and-"
    "length scalar expressions (codegen, no explode, no UDF); the "
    "corpus scans once into a source-grain aggregate. All integer, "
    "bit-exact cross-engine.",
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "source",
        F.length("text").cast("long").alias("total"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        .cast("long")
        .alias("alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", ""))
        .cast("long")
        .alias("digit"),
        (
            F.length("text") - F.length(F.regexp_replace("text", r"\s", ""))
        )
        .cast("long")
        .alias("space"),
    )
    other = F.sum(
        F.col("total") - F.col("alpha") - F.col("digit") - F.col("space")
    )
    return (
        d.groupBy("source")
        .agg(
            F.sum("total").cast("long").alias("total_chars"),
            F.sum("alpha").cast("long").alias("alpha_chars"),
            F.sum("digit").cast("long").alias("digit_chars"),
            F.sum("space").cast("long").alias("space_chars"),
            other.cast("long").alias("other_chars"),
            F.expr("sum(alpha) * 1000000 div sum(total)")
            .cast("long")
            .alias("alpha_ppm"),
            F.expr(
                "sum(total - alpha - digit - space) * 1000000 "
                "div sum(total)"
            )
            .cast("long")
            .alias("other_ppm"),
        )
        .orderBy("source")
    )


@register(
    "feature_hashing_collisions",
    rf"""
    WITH terms AS (
      SELECT DISTINCT unnest(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '')) AS term
      FROM documents WHERE text IS NOT NULL
    ),
    hashed AS (
      SELECT term,
             CAST(('0x' || substr(md5(term), 1, 6)) AS BIGINT) AS h
      FROM terms
    ),
    occupancy AS (
      SELECT k.bits,
             count(DISTINCT h % (1 << k.bits)) AS occupied,
             count(*) AS n_terms
      FROM hashed
      CROSS JOIN (VALUES (8), (10), (12), (14)) AS k(bits)
      GROUP BY k.bits
    )
    SELECT bits,
           CAST(1 << bits AS BIGINT) AS n_buckets,
           CAST(n_terms AS BIGINT) AS n_terms,
           CAST(occupied AS BIGINT) AS occupied_buckets,
           CAST(n_terms - occupied AS BIGINT) AS collided_terms,
           CAST(n_terms * 1000000 // (1 << bits) AS BIGINT)
             AS load_factor_ppm
    FROM occupancy
    ORDER BY bits
    """,
    sort=("bits",),
    doc="Feature-hashing (hashing-trick) sizing curve: hash the distinct "
    "vocabulary into 2^bits buckets at several widths and report "
    "occupancy, terms lost to collisions, and the load factor — the "
    "table that picks a feature-vector width BEFORE the featurizer "
    "job burns a pass (collided terms alias gradients; the curve "
    "shows where collisions stop paying for the dimension savings). "
    "md5-deterministic, identical both engines. The corpus folds to "
    "its DISTINCT vocabulary first (vocab-sized, not corpus-sized); "
    "the 4-point width grid joins that fold, and each width's "
    "occupancy is a distinct-count over vocab grain.",
)
def feature_hashing_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    terms = (
        d.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("term")
        )
        .distinct()
    )
    hashed = terms.select(
        F.conv(F.substring(F.md5("term"), 1, 6), 16, 10)
        .cast("long")
        .alias("h")
    )
    # vocab-sized relation feeds all four widths — pin it so the
    # corpus explode+distinct runs once (diamond policy)
    hashed = hashed.localCheckpoint()
    grid = spark.createDataFrame([(8,), (10,), (12,), (14,)], "bits int")
    return (
        hashed.crossJoin(F.broadcast(grid))
        .groupBy("bits")
        .agg(
            F.countDistinct(F.expr("h % shiftleft(1, bits)"))
            .cast("long")
            .alias("occupied"),
            F.count(F.lit(1)).cast("long").alias("n_terms"),
        )
        .select(
            "bits",
            F.expr("shiftleft(1, bits)").cast("long").alias("n_buckets"),
            F.col("n_terms"),
            F.col("occupied").alias("occupied_buckets"),
            (F.col("n_terms") - F.col("occupied"))
            .cast("long")
            .alias("collided_terms"),
            F.expr("n_terms * 1000000 div (shiftleft(1, bits))")
            .cast("long")
            .alias("load_factor_ppm"),
        )
        .orderBy("bits")
    )


@register(
    "rag_chunk_emit_audit",
    f"""
    WITH d AS (
      SELECT source, {_TOK_SQL} AS toks
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (
      SELECT source, toks,
             CASE WHEN toks = 0 THEN 0
                  WHEN toks <= {_CHUNK} THEN 1
                  ELSE 1 + (toks - {_CHUNK} + {_STRIDE} - 1) // {_STRIDE}
             END AS n_chunks
      FROM d
    )
    SELECT source,
           CAST(sum(n_chunks) AS BIGINT) AS total_chunks,
           CAST(sum(toks + {_CHUNK - _STRIDE} * (n_chunks - 1)) AS BIGINT)
             AS emitted_tokens,
           CAST(sum(CASE WHEN n_chunks > 0
                         THEN least(toks, {_CHUNK})
                         ELSE 0 END) AS BIGINT) AS first_chunk_tokens
    FROM c GROUP BY source
    ORDER BY source
    """,
    sort=("source",),
    doc="The EXECUTABLE chunker (operators/text.py::chunk_documents) "
    "audited against the closed form, under the hash: actually emit "
    "every chunk (posexplode over per-row sequences — one map stage, "
    "zero exchanges before the rollup), then aggregate per source "
    "what was EMITTED — chunk count, emitted token volume, and the "
    "first-chunk token mass — while the oracle computes the same "
    "totals from rag_chunk_plan's closed-form arithmetic WITHOUT "
    "chunking anything. A hash match proves plan == execution: an "
    "off-by-one in the window walk, a dropped short tail, or a "
    "mis-sliced overlap diverges. The explode is the one data-growth "
    "stage (bounded by the ~1.33x emitted/original ratio); the "
    "rollup is source-grain with map-side partials.",
)
def rag_chunk_emit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.text import chunk_documents

    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    chunks = chunk_documents(
        d.select("doc_id", "source", "text"),
        size=_CHUNK,
        stride=_STRIDE,
    )
    # re-attach source (chunker keys by doc_id); documents is the dim
    # side here and the join stays on the id grain
    src = d.select("doc_id", "source")
    return (
        chunks.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_chunks"),
            F.sum("n_tokens").cast("long").alias("emitted_tokens"),
            F.sum(F.when(F.col("chunk_id") == 0, F.col("n_tokens")))
            .cast("long")
            .alias("first_chunk_tokens"),
        )
        .orderBy("source")
    )
