"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (BASELINE.json north star): tokenization,
quality scoring, language ID, fingerprinting, TF-IDF, winnowing,
vocabulary inventory.

Each registered query binds a reusable operator from
``operators/text.py`` to the testdata schema and pairs it with a DuckDB
oracle. All hot-path logic is JVM-side Column expressions — no Python
UDFs; hashing uses md5 (identical hex in Spark and DuckDB) so every op
stays oracle-verifiable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.text import (
    language_scores,
    quality_features,
    tfidf_scores,
    token_counts,
    winnowing_fingerprint_summary,
    winnowing_match_pairs,
)
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

# Marker words per language for the n-gram/stopword scorer. On the synthetic
# corpus these verify the *computation* (the driver's `lang` column is
# metadata, not derivable from the text).
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "de", "et", "un"),
    "de": ("der", "die", "und", "das", "ein"),
}

_STOPWORDS = ("the", "a", "an", "of", "and", "or", "is", "to", "in")


@register(
    "vocab_inventory",
    r"""
    SELECT word,
           count(*) AS total_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_frequency
    FROM (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS word
      FROM documents
    ) t
    WHERE word <> ''
    GROUP BY word
    ORDER BY word
    """,
    sort=("word",),
    doc="Multi-value blob → explode → distinct inventory: the "
    "_clean_text_list + blob-dim pattern (main_etl_pipeline.py:129-135, "
    "473-482; F1/A3) as split+explode+groupBy.",
)
def vocab_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize=False (r18, VERDICT r17 fix #2): this query's first
    # operation collapses rows map-side (tokenize → partial (word, doc_id)
    # aggregate), so the loader's doc_id exchange shipped the FULL TEXT
    # payload to buy map parallelism the partial aggregate doesn't need —
    # the one structurally-changed r17 headline regression (0.585→0.883 s
    # driver; interleaved A/B r18: raw med 0.905 s vs repartitioned 1.18 s).
    # At cluster scale the gate self-disables anyway (multi-file scans).
    d = load_table(spark, sf_dir, "documents", parallelize=False)
    # two-level aggregation instead of count(DISTINCT doc_id): the per-
    # (word, doc) pre-aggregate replaces Spark's Expand-based distinct with
    # two ordinary partial-agg shuffles — cheaper and skew-tolerant at scale
    per_doc = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_doc.groupBy("word").agg(
        F.sum("_n").alias("total_occurrences"),
        F.count(F.lit(1)).alias("doc_frequency"),
    )


@register(
    "token_count",
    r"""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS INT)
               AS bpe_ish_tokens,
           n_chars
    FROM documents
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Token counting: whitespace tokens + a BPE-ish regex tokenizer "
    "(alnum runs / single punct) — north-star text-analysis op, all "
    "JVM-side via split/regexp_extract_all.",
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_counts(load_table(spark, sf_dir, "documents"), "text").select(
        "doc_id", "ws_tokens", "bpe_ish_tokens", "n_chars"
    )


@register(
    "doc_quality_score",
    r"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n,
             string_split_regex(lower(trim(text)), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           round(CAST(length(array_to_string(toks, '')) AS DOUBLE)
                 / len(toks), 4) AS avg_token_len,
           round(CAST(len(list_filter(toks,
                     t -> t IN ('the','a','an','of','and','or','is','to','in')))
                   AS DOUBLE) / len(toks), 4) AS stopword_ratio,
           CASE WHEN len(toks) >= 10
                 AND CAST(len(list_filter(toks,
                     t -> t IN ('the','a','an','of','and','or','is','to','in')))
                   AS DOUBLE) / len(toks) BETWEEN 0.01 AND 0.6
                THEN 1 ELSE 0 END AS passes_quality
    FROM feats
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Heuristic document quality scoring (length / avg token length / "
    "stopword ratio + pass flag) — the C4/Gopher-style filter re-expressed "
    "as pure Column algebra; north-star text op.",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_features(load_table(spark, sf_dir, "documents"), "text", _STOPWORDS).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "passes_quality"
    )


@register(
    "lang_id_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS t
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
             CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS s_es,
             CAST(len(list_filter(t, x -> x IN ('le','la','de','et','un'))) AS BIGINT) AS s_fr,
             CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS s_de
      FROM toks
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                WHEN s_fr >= s_de THEN 'fr'
                ELSE 'de' END AS predicted_lang,
           s_en, s_es, s_fr, s_de
    FROM scores
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Language ID via per-language marker-word scoring with a "
    "deterministic argmax (fixed tie order en>es>fr>de) — north-star text "
    "op; on real corpora the marker lists widen, the plan is identical.",
)
def lang_id_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").withColumnRenamed("lang", "labeled_lang")
    return language_scores(d, "text", _LANG_MARKERS).select(
        "doc_id", "labeled_lang", "predicted_lang", "s_en", "s_es", "s_fr", "s_de"
    )


@register(
    "doc_fingerprint",
    r"""
    SELECT md5(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS fingerprint,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
    FROM documents
    GROUP BY 1
    ORDER BY fingerprint
    """,
    sort=("fingerprint",),
    doc="Document fingerprinting: normalize (lower, collapse non-alnum) → "
    "md5 → group = exact-dup clusters with first-seen canonical "
    "(north-star dedup building block; md5 is identical across engines).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    return d.groupBy(fp.alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("canonical_doc_id"),
    )


@register(
    "winnowing_fingerprints",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8) AS h,
             len(t) - 2 AS n_grams
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos, n_grams
      FROM grams
    )
    SELECT doc_id, CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
           min(fp) AS min_fingerprint
    FROM wins WHERE pos <= n_grams - 3
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Winnowing document fingerprints (MOSS): 3-gram hashes → sliding "
    "window-of-4 minima → distinct selected fingerprints per doc. Window "
    "min is a rows-frame aggregate (partition-local, linear); guarantees "
    "any shared run ≥ window+gram covers a shared fingerprint.",
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return winnowing_fingerprint_summary(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", gram=3, window=4
    )


@register(
    "winnowing_cross_matches",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8) AS h,
             len(t) - 2 AS n_grams
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    wins AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
             pos, n_grams
      FROM grams
    ),
    sel AS (
      SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= n_grams - 3
    ),
    keep AS (
      SELECT fp FROM sel GROUP BY fp HAVING count(*) BETWEEN 2 AND 10
    ),
    pruned AS (SELECT s.doc_id, s.fp FROM sel s JOIN keep USING (fp))
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           count(*) AS n_shared
    FROM pruned a JOIN pruned b ON a.fp = b.fp AND b.doc_id > a.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 2
    ORDER BY doc_id_a, doc_id_b
    """,
    sort=("doc_id_a", "doc_id_b"),
    doc="Cross-document winnowing matches — the MOSS detection step on "
    "top of winnowing_fingerprints: document pairs sharing >= 2 selected "
    "fingerprints (a shared run of >= window+gram-1 tokens GUARANTEES a "
    "shared fingerprint, so real clones can't hide). Pairs are generated "
    "inside fingerprint posting lists with stop-fingerprints (> 10 docs) "
    "dropped first, bounding the quadratic term per fingerprint — the "
    "substring-level near-dup detector that n-gram Jaccard's bag-of-"
    "shingles view misses.",
)
def winnowing_cross_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = winnowing_match_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        gram=3, window=4, max_postings=10, min_shared=2,
    )
    return pairs.select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        "n_shared",
    )


@register(
    "tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term), n
    )
    SELECT doc_id, term, tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3 AND doc_id < 50
    ORDER BY doc_id, term
    """,
    sort=("doc_id", "term"),
    doc="TF-IDF scoring + top-3 terms per document: tf and df as two "
    "aggregations over one token explode, idf via a broadcast scalar, "
    "ranked window per doc. Ranking on the rounded score (4dp) with a term "
    "tie-break keeps the selection engine-independent despite ln() ulp "
    "differences.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = tfidf_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") <= 3) & (F.col("doc_id") < 50))
        .select("doc_id", "term", "tfidf")
    )


@register(
    "lang_confusion_matrix",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS t
      FROM documents
    ),
    scores AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS s_en,
             CAST(len(list_filter(t, x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS s_es,
             CAST(len(list_filter(t, x -> x IN ('le','la','de','et','un'))) AS BIGINT) AS s_fr,
             CAST(len(list_filter(t, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS s_de
      FROM toks
    ),
    pred AS (
      SELECT lang AS labeled_lang,
             CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                  WHEN s_fr >= s_de THEN 'fr'
                  ELSE 'de' END AS predicted_lang
      FROM scores
    )
    SELECT labeled_lang, predicted_lang, count(*) AS n_docs
    FROM pred GROUP BY labeled_lang, predicted_lang
    ORDER BY labeled_lang, predicted_lang
    """,
    sort=("labeled_lang", "predicted_lang"),
    doc="Language-ID confusion matrix: the classifier-quality rollup of "
    "lang_id_scores (labeled vs predicted counts) — the eval op run after "
    "every marker-list change; a 16-cell aggregate, map-side partial.",
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").withColumnRenamed("lang", "labeled_lang")
    return (
        language_scores(d, "text", _LANG_MARKERS)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "bm25_query_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    dl AS (
      SELECT doc_id, count(*) AS dlen FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    q(term) AS (VALUES ('data'), ('model'), ('system')),
    tf AS (
      SELECT doc_id, tok AS term, count(*) AS tf
      FROM toks JOIN q ON q.term = toks.tok
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT t.doc_id,
             ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1)
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dlen / s.avgdl)) AS sc
      FROM tf t
      JOIN df f USING (term)
      JOIN dl d USING (doc_id)
      CROSS JOIN stats s
    )
    SELECT doc_id, round(sum(sc), 4) AS bm25_score,
           CAST(count(*) AS INT) AS n_terms_hit
    FROM scored GROUP BY doc_id
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="BM25 relevance scoring of a fixed query ('data model system') "
    "over the corpus (k1=1.2, b=0.75): corpus stats are a broadcast "
    "1-row aggregate, df a tiny per-term count, tf one shuffle on "
    "(doc, term) — the retrieval primitive for data curation search. "
    "Scores are summed then rounded (never ranked on raw ln output — "
    "ulp parity).",
)
def bm25_query_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    k1, b = 1.2, 0.75
    terms = ["data", "model", "system"]
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    # doc-length table feeds the corpus stats AND the score join; the
    # query-term tf table feeds df AND the scores — both pinned so the
    # token explode runs once per representation (audit: 4 scans -> 2;
    # dl and tf read genuinely different slices of the explode)
    dl = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dlen")
    ).localCheckpoint()
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    tf = (
        toks.where(F.col("tok").isin(terms))
        .groupBy("doc_id", F.col("tok").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    denom = F.col("tf") + k1 * (1 - b + b * F.col("dlen") / F.col("avgdl"))
    sc = idf * (F.col("tf") * (k1 + 1)) / denom
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", sc.alias("sc"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("sc"), 4).alias("bm25_score"),
        F.count(F.lit(1)).cast("int").alias("n_terms_hit"),
    )
