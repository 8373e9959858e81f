r"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (BASELINE.json north star): tokenization,
quality scoring, language ID, fingerprinting, TF-IDF, winnowing,
vocabulary inventory; the hygiene passes a pipeline runs between raw
scrape and training shard (PII scan/redaction, benchmark contamination,
repetition profiling); and the per-document language-model and lexical
diversity features a pretraining pipeline computes before sampling.

Each registered query binds a reusable operator from
``operators/text.py`` to the testdata schema and pairs it with a DuckDB
oracle. All hot-path logic is JVM-side Column expressions — no Python
UDFs; hashing uses md5 (identical hex in Spark and DuckDB) so every op
stays oracle-verifiable. Tokenization is the same expression on both
sides (lowercase, split on ``\s+``, drop empties), so token multisets
match exactly and only float rounding (6 digits, far above libm drift)
separates the engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.text import (
    language_scores,
    ngram_contamination,
    pii_scan,
    quality_features,
    repetition_features,
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
    # parallelize=False: this query's first
    # operation collapses rows map-side (tokenize → partial (word, doc_id)
    # aggregate), so the loader's doc_id exchange shipped the FULL TEXT
    # payload to buy map parallelism the partial aggregate doesn't need —
    # 0.585→0.883 s driver with it (interleaved A/B: raw median 0.905 s
    # vs repartitioned 1.18 s).
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


# ---------------------------------------------------------------------------
# Training-data hygiene: PII scan/redaction, benchmark-contamination
# checking, within-document repetition profiling
# ---------------------------------------------------------------------------


# Patterns applied to lower-cased text. The slimmed customer table has no
# phone/email columns, so the demo blob carries the PII-shaped values it
# does have — the 'Customer#NNNN' identifier and a money amount — plus an
# email pattern exercising the zero-hit path. The operator is
# pattern-agnostic; production runs swap in phone/email/SSN regexes.
_PII_PATTERNS = {
    "custid": r"customer#\d+",
    "money": r"\d+\.\d\d",
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
}

_BENCH_MAX_DOC = 25  # doc_id < 25 plays the held-out benchmark set


@register(
    "pii_scan_redact",
    r"""
    WITH blobs AS (
      SELECT c_custkey,
             concat_ws(' ', c_name, 'balance',
                       printf('%.2f', c_acctbal),
                       'segment', c_mktsegment) AS blob
      FROM customer
    )
    SELECT c_custkey,
           CAST(len(regexp_extract_all(blob, '(?i)customer#\d+')) AS INT)
               AS n_custid,
           CAST(len(regexp_extract_all(blob, '\d+\.\d\d')) AS INT) AS n_money,
           CAST(len(regexp_extract_all(blob,
               '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(blob, '(?i)customer#\d+'))
              + len(regexp_extract_all(blob, '\d+\.\d\d'))
              + len(regexp_extract_all(blob,
                  '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS pii_total,
           regexp_replace(
             regexp_replace(
               regexp_replace(blob, '(?i)customer#\d+', '[CUSTID]', 'g'),
               '\d+\.\d\d', '[MONEY]', 'g'),
             '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g') AS redacted
    FROM blobs
    ORDER BY c_custkey
    """,
    sort=("c_custkey",),
    doc="PII detection + redaction over free text (configurable regex "
    "patterns, per-pattern counts, redacted copy) — the training-data "
    "hygiene pass; pure regexp Column expressions, linear scan, no "
    "shuffle. The money amount is %.2f-formatted on both engines so the "
    "blob is bit-identical; patterns are (?i) so the redacted copy keeps the original casing.",
)
def pii_scan_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat_ws(
            " ",
            "c_name",
            F.lit("balance"),
            F.format_string("%.2f", "c_acctbal"),
            F.lit("segment"),
            "c_mktsegment",
        ).alias("blob"),
    )
    return pii_scan(cust, "blob", _PII_PATTERNS).select(
        "c_custkey", "n_custid", "n_money", "n_email", "pii_total", "redacted"
    )


@register(
    "contamination_check",
    rf"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    bench AS (
      SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4] AS gram
      FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
      WHERE doc_id < {_BENCH_MAX_DOC}
    ),
    cg AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                              t[i+3] || ' ' || t[i+4] AS gram
      FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
      WHERE doc_id >= {_BENCH_MAX_DOC}
    ),
    ng AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
    hits AS (
      SELECT cg.doc_id, count(*) AS n_contaminated
      FROM cg JOIN bench USING (gram) GROUP BY cg.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(ng.n_grams, 0) AS INT) AS n_grams,
           CAST(coalesce(hits.n_contaminated, 0) AS BIGINT) AS n_contaminated,
           CASE WHEN coalesce(ng.n_grams, 0) > 0
                THEN round(CAST(coalesce(hits.n_contaminated, 0) AS DOUBLE)
                           / ng.n_grams, 4)
           END AS contamination_ratio
    FROM documents d
    LEFT JOIN ng USING (doc_id) LEFT JOIN hits USING (doc_id)
    WHERE d.doc_id >= {_BENCH_MAX_DOC}
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Benchmark-contamination (decontamination) check: distinct 5-gram "
    "overlap of every corpus doc against a held-out benchmark set. The "
    "benchmark gram set is broadcast — the corpus side never shuffles; "
    "only per-doc counts aggregate. The pass run before training on "
    "scraped data.",
)
def contamination_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") < _BENCH_MAX_DOC)
    corpus = docs.where(F.col("doc_id") >= _BENCH_MAX_DOC)
    return ngram_contamination(corpus, bench, "doc_id", "text", n=5)


@register(
    "repetition_profile",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
    ),
    base AS (
      SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
             round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 4)
                 AS distinct_token_ratio
      FROM toks
    ),
    bi AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
      FROM toks, unnest(range(1, len(t))) AS u(i)
    ),
    bc AS (SELECT doc_id, bigram, count(*) AS c FROM bi GROUP BY doc_id, bigram),
    tops AS (SELECT doc_id, max(c) AS top_c, sum(c) AS total FROM bc GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens, b.distinct_token_ratio,
           CASE WHEN coalesce(tops.total, 0) > 0
                THEN round(CAST(tops.top_c AS DOUBLE) / tops.total, 4)
                ELSE 0.0 END AS top_bigram_share,
           CASE WHEN b.distinct_token_ratio < 0.5
                  OR (CASE WHEN coalesce(tops.total, 0) > 0
                           THEN round(CAST(tops.top_c AS DOUBLE) / tops.total, 4)
                           ELSE 0.0 END) >= 0.2
                THEN 1 ELSE 0 END AS is_repetitive
    FROM base b LEFT JOIN tops USING (doc_id)
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Within-document repetition profile (Gopher-style quality "
    "signals): distinct-token ratio via per-row array ops, most-frequent-"
    "bigram share via one explode → two-level map-side-combined "
    "aggregation, and a repetitiveness flag.",
)
def repetition_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_features(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_HYG_PATTERNS = {"cust": "customer", "sort": "sort"}


@register(
    "hygiene_batch_replay",
    rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      WHERE text IS NOT NULL AND doc_id >= {_BENCH_MAX_DOC}
    ),
    btoks AS (
      SELECT string_split_regex(lower(text), '\s+') AS t FROM documents
      WHERE text IS NOT NULL AND doc_id < {_BENCH_MAX_DOC}
    ),
    bench AS (
      SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                      t[i+3] || ' ' || t[i+4] AS gram
      FROM btoks, unnest(range(1, len(t) - 3)) AS u(i)
    ),
    ctoks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM corpus
    ),
    cg AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' ||
                              t[i+3] || ' ' || t[i+4] AS gram
      FROM ctoks, unnest(range(1, len(t) - 3)) AS u(i)
    ),
    alerts AS (
      SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS n_alert_grams
      FROM cg JOIN bench USING (gram) GROUP BY cg.doc_id
    )
    SELECT c.doc_id, a.n_alert_grams,
           CAST(len(regexp_extract_all(c.text, '(?i)customer')) AS INT)
             AS n_cust,
           CAST(len(regexp_extract_all(c.text, '(?i)sort')) AS INT) AS n_sort,
           CAST(len(regexp_extract_all(c.text, '(?i)customer'))
              + len(regexp_extract_all(c.text, '(?i)sort')) AS INT)
             AS pii_total,
           md5(regexp_replace(
                 regexp_replace(c.text, '(?i)customer', '[CUST]', 'g'),
                 '(?i)sort', '[SORT]', 'g')) AS redacted_md5
    FROM corpus c JOIN alerts a USING (doc_id)
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Batch replay of the hygiene module (streaming/hygiene.py), two "
    "functions composed: pii_scan (per-pattern counts + redacted copy, "
    "hash-pinned here via md5 so the oracle checks the redacted BYTES, "
    "not just counts) feeding contamination_alerts (distinct-5-gram "
    "explode probed against the broadcast benchmark gram set; one row "
    "per matched gram, here re-aggregated per doc). Both are row-local "
    "projections/broadcast joins. The oracle re-derives tokenization, "
    "gram distinctness, alert join, regexp counts and the redacted md5 "
    "in pure SQL.",
)
def hygiene_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.streaming.hygiene import (
        contamination_alerts,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    bench = docs.where(F.col("doc_id") < _BENCH_MAX_DOC)
    corpus = docs.where(F.col("doc_id") >= _BENCH_MAX_DOC).select("doc_id", "text")
    red = pii_scan(corpus, "text", _HYG_PATTERNS).select(
        "doc_id",
        "text",
        "n_cust",
        "n_sort",
        "pii_total",
        F.md5("redacted").alias("redacted_md5"),
    )
    alerts = contamination_alerts(red, bench, "doc_id", "text", n=5)
    return (
        alerts.groupBy("doc_id", "n_cust", "n_sort", "pii_total", "redacted_md5")
        .agg(F.count(F.lit(1)).alias("n_alert_grams"))
        .select(
            "doc_id", "n_alert_grams", "n_cust", "n_sort", "pii_total",
            "redacted_md5",
        )
    )


@register(
    "cdc_chunk_dedup",
    r"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS tok
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS a
            FROM documents)
    ),
    g AS (
      SELECT doc_id, pos, tok,
             md5(concat_ws(' ', tok,
                 lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                 lead(tok, 3) OVER w)) AS h
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    c AS (
      SELECT doc_id, pos, tok,
             sum(CASE WHEN CAST('0x' || substr(h, 1, 2) AS BIGINT) % 8 = 0
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS chunk_id
      FROM g
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
             count(*) AS n_toks
      FROM c GROUP BY doc_id, chunk_id
    )
    SELECT count(*) AS total_chunks,
           CAST(count(DISTINCT chunk_hash) AS BIGINT) AS distinct_chunks,
           count(*) - CAST(count(DISTINCT chunk_hash) AS BIGINT) AS dup_chunks,
           round(avg(n_toks), 4) AS avg_chunk_tokens
    FROM chunks
    """,
    doc="Content-defined chunking dedup (operators/text.py::cdc_chunks): "
    "Rabin-style rolling 4-gram hash opens a chunk boundary at hash%8==0, "
    "anchoring chunks to content so shared spans between edited/mirrored "
    "documents dedup even when offsets shift — the span-level dedup class "
    "that whole-doc and shingle methods miss. Per-doc windows → "
    "embarrassingly parallel; corpus-wide distinct-hash count is one "
    "map-side-partial aggregate.",
)
def cdc_chunk_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunks(docs, "doc_id", "text", gram=4, mask=8)
    total = F.count(F.lit(1))
    distinct = F.countDistinct("chunk_hash")
    return chunks.agg(
        total.alias("total_chunks"),
        distinct.alias("distinct_chunks"),
        (total - distinct).alias("dup_chunks"),
        F.round(F.avg("n_toks"), 4).alias("avg_chunk_tokens"),
    )


@register(
    "boilerplate_chunks",
    r"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(a, 1) AS pos, unnest(a) AS tok
      FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS a
            FROM documents)
    ),
    g AS (
      SELECT doc_id, pos, tok,
             md5(concat_ws(' ', tok,
                 lead(tok, 1) OVER w, lead(tok, 2) OVER w,
                 lead(tok, 3) OVER w)) AS h
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    c AS (
      SELECT doc_id, pos, tok,
             sum(CASE WHEN CAST('0x' || substr(h, 1, 2) AS BIGINT) % 8 = 0
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS chunk_id
      FROM g
    ),
    chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash,
             count(*) AS n_toks
      FROM c GROUP BY doc_id, chunk_id
    )
    SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           count(*) AS n_occurrences,
           CAST(max(n_toks) AS BIGINT) AS chunk_tokens
    FROM chunks
    GROUP BY chunk_hash
    HAVING count(DISTINCT doc_id) >= 3
    ORDER BY n_occurrences DESC, chunk_hash
    LIMIT 20
    """,
    doc="Boilerplate detector: the content-defined chunks "
    "(operators/text.py::cdc_chunks) that recur across >= 3 distinct "
    "documents, ranked by occurrence — headers/footers/disclaimers that "
    "span-level curation strips before training. Chunk-hash groupBy is "
    "map-side partial; top-20 is a TakeOrdered, so only 20 rows reach "
    "the driver no matter the corpus size.",
)
def boilerplate_chunks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunks(docs, "doc_id", "text", gram=4, mask=8)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("n_toks").alias("chunk_tokens"),
        )
        .where(F.col("n_docs") >= 3)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Corpus language-model scoring and lexical diversity (complements
# doc_quality_score / lang_id_scores / tfidf_top_terms)
# ---------------------------------------------------------------------------


def _toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, tok) — one row per token occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")


@register(
    "unigram_logprob_docs",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    clean AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    lm AS (
      SELECT tok, count(*) AS c FROM clean GROUP BY tok
    ),
    tot AS (SELECT sum(c) AS n FROM lm)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(CAST(avg(ln(CAST(c AS DOUBLE) / n)) AS DOUBLE), 6)
             AS avg_logprob
    FROM clean JOIN lm USING (tok), tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Corpus-unigram LM score per document: train p(tok)=c/N on the "
    "whole corpus, score each doc by mean log-probability — the cheapest "
    "perplexity proxy for quality filtering (low = rare/garbled text). "
    "Token counts shuffle once to build the LM; scoring is a shuffle join "
    "on tok (the LM is vocab-sized — broadcastable when the vocab fits, "
    "bucketed join otherwise) followed by a doc-grain rollup.",
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _toks(spark, sf_dir).select("doc_id", "tok")
    lm = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = lm.agg(F.sum("c").alias("n"))
    return (
        toks.join(lm, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("c").cast("double") / F.col("n"))), 6
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


@register(
    "type_token_ratio",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(count(DISTINCT tok) AS BIGINT) AS n_types,
           round(CAST(count(DISTINCT tok) AS DOUBLE) / count(*), 6) AS ttr
    FROM toks WHERE tok <> ''
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Type-token ratio (lexical diversity) per document — low TTR "
    "flags templated/repetitive text for down-sampling. Single explode → "
    "doc-grain groupBy with a distinct aggregate; partial aggregation "
    "keeps the shuffle at doc grain.",
)
def type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _toks(spark, sf_dir)
    return (
        toks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_types"),
            F.round(
                F.countDistinct("tok").cast("double") / F.count(F.lit(1)), 6
            ).alias("ttr"),
        )
        .orderBy("doc_id")
    )


@register(
    "hapax_ratio_by_source",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT source, tok, count(*) AS c
      FROM toks WHERE tok <> ''
      GROUP BY source, tok
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS hapax_ratio
    FROM vocab
    GROUP BY source
    ORDER BY source
    """,
    doc="Hapax-legomena ratio per source: share of the vocabulary seen "
    "exactly once — high hapax = rich/noisy long tail, near-zero = "
    "templated output. Two map-side-combined shuffles, both on bounded "
    "keys ((source,tok) then source).",
)
def hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _toks(spark, sf_dir)
    vocab = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        vocab.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
            F.round(
                F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


@register(
    "bpe_merge_candidates",
    r"""
    WITH words AS (
      SELECT tok, count(*) AS wf
      FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
            FROM documents)
      WHERE tok <> '' AND length(tok) >= 2
      GROUP BY tok
    ),
    pairs AS (
      SELECT substr(tok, CAST(i AS INT), 2) AS pair, wf
      FROM words, unnest(range(1, length(tok))) AS u(i)
    )
    SELECT pair, CAST(sum(wf) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
    doc="One BPE tokenizer-training round: adjacent-symbol pair frequencies "
    "over the word-frequency table (classic BPE counts pairs within word "
    "boundaries, weighted by how often the word occurs) — the top pair is "
    "the next merge. The heavy explode runs over DISTINCT words (vocab "
    "grain, not corpus grain: each word's pairs are generated once and "
    "weighted by its count), so the pair stage is bounded by vocab size "
    "× word length regardless of corpus size — the property that makes "
    "distributed BPE training feasible at 100 TB. Iterating re-runs this "
    "with merged symbols; the plan shape is identical each round.",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _toks(spark, sf_dir)
    words = (
        toks.where(F.length("tok") >= 2)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wf"))
    )
    # positions 1..len-1; Spark sequence() would run DESCENDING for
    # len < 2, hence the length filter above (DuckDB range() is empty)
    pairs = words.select(
        F.posexplode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("_p", "i"),
        "tok",
        "wf",
    ).select(F.expr("substring(tok, i, 2)").alias("pair"), "wf")
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


@register(
    "lang_id_kappa",
    r"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(lower(text), '\s+') AS t
      FROM documents
    ),
    pred AS (
      SELECT lang AS labeled,
             CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                  WHEN s_fr >= s_de THEN 'fr'
                  ELSE 'de' END AS predicted
      FROM (
        SELECT doc_id, lang,
               len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS s_en,
               len(list_filter(t, x -> x IN ('el','la','de','que','y'))) AS s_es,
               len(list_filter(t, x -> x IN ('le','la','de','et','un'))) AS s_fr,
               len(list_filter(t, x -> x IN ('der','die','und','das','ein'))) AS s_de
        FROM toks
      )
    ),
    n AS (SELECT count(*) AS n FROM pred),
    po AS (
      SELECT CAST(sum(CASE WHEN labeled = predicted THEN 1 ELSE 0 END) AS DOUBLE)
             / max(n.n) AS po
      FROM pred, n
    ),
    pe AS (
      SELECT sum(lm * pm) AS pe FROM (
        SELECT CAST(count(*) AS DOUBLE) / max(n.n) AS lm, labeled AS cls
        FROM pred, n GROUP BY labeled
      ) l JOIN (
        SELECT CAST(count(*) AS DOUBLE) / max(n.n) AS pm, predicted AS cls
        FROM pred, n GROUP BY predicted
      ) p USING (cls)
    )
    SELECT round(po.po, 6) AS observed_agreement,
           round(pe.pe, 6) AS expected_agreement,
           round((po.po - pe.pe) / (1 - pe.pe), 6) AS cohens_kappa
    FROM po, pe
    ORDER BY cohens_kappa
    """,
    sort=("cohens_kappa",),
    doc="Cohen's kappa between the labeled and predicted language — the "
    "chance-corrected agreement scalar on top of lang_confusion_matrix "
    "(the standard acceptance metric for any labeling/classifier stage "
    "in a data pipeline). Marginals are two tiny aggregates joined on "
    "class; everything after the per-doc scoring pass is broadcast-"
    "sized. The same query shape scores inter-annotator agreement when "
    "two label columns come from different raters.",
)
def lang_id_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.queries.text_ops import (
        _LANG_MARKERS,
        language_scores,
    )

    d = load_table(spark, sf_dir, "documents").withColumnRenamed("lang", "labeled")
    pred = language_scores(d, "text", _LANG_MARKERS).select(
        "labeled", F.col("predicted_lang").alias("predicted")
    )
    # Diamond restructure (fix-ladder rung 1): every statistic below is a
    # function of the CLASS-GRAIN confusion matrix, so aggregate once to
    # the ≤|L|² cell table (answer-sized, pinned) and derive n / po /
    # marginals from it — the lang-id scoring lineage runs ONE pass over
    # the corpus instead of four (tools/audit_reuse.py: 6 scans -> 1).
    cm = (
        pred.groupBy("labeled", "predicted")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint()
    )
    n = cm.agg(F.sum("c").alias("n"))
    po = cm.agg(
        F.sum(F.when(F.col("labeled") == F.col("predicted"), F.col("c"))
              .otherwise(0.0)).alias("n_agree")
    ).crossJoin(F.broadcast(n)).select(
        (F.col("n_agree") / F.col("n")).alias("po")
    )
    lm = (
        cm.groupBy(F.col("labeled").alias("cls"))
        .agg(F.sum("c").alias("lc"))
        .crossJoin(F.broadcast(n))
        .select("cls", (F.col("lc") / F.col("n")).alias("lm"))
    )
    pm = (
        cm.groupBy(F.col("predicted").alias("cls"))
        .agg(F.sum("c").alias("pc"))
        .crossJoin(F.broadcast(n))
        .select("cls", (F.col("pc") / F.col("n")).alias("pm"))
    )
    pe = lm.join(pm, "cls").agg(F.sum(F.col("lm") * F.col("pm")).alias("pe"))
    return (
        po.crossJoin(F.broadcast(pe))
        .select(
            F.round("po", 6).alias("observed_agreement"),
            F.round("pe", 6).alias("expected_agreement"),
            F.round((F.col("po") - F.col("pe")) / (1 - F.col("pe")), 6).alias(
                "cohens_kappa"
            ),
        )
    )


@register(
    "bigram_pmi_collocations",
    r"""
    WITH docs_t AS (
      SELECT list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    uni AS (
      SELECT tok, count(*) AS c FROM (
        SELECT unnest(t) AS tok FROM docs_t) GROUP BY tok
    ),
    nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uni),
    bg AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i AS INT) + 1] AS w2,
             count(*) AS c_ab
      FROM docs_t, unnest(range(1, len(t))) AS u(i)
      WHERE len(t) >= 2
      GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bg FROM bg)
    SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
           round(CAST(ln((CAST(c_ab AS DOUBLE) / n_bg)
                 / ((CAST(a.c AS DOUBLE) / n_uni)
                    * (CAST(b.c AS DOUBLE) / n_uni))) AS DOUBLE), 6) AS pmi
    FROM bg JOIN uni a ON a.tok = w1 JOIN uni b ON b.tok = w2, nu, nb
    WHERE c_ab >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 20
    """,
    doc="Pointwise mutual information over adjacent token bigrams (min "
    "support 5): pmi = ln(p(ab) / (p(a)p(b))) with p(ab) over the full "
    "bigram mass and p(w) over the unigram mass — the classic "
    "collocation extractor for building phrase vocabularies before "
    "tokenizer training. Bigram and unigram tables are one explode + "
    "count each (map-side combined); the enrichment joins key on vocab "
    "tokens (vocab-sized, shuffle join that AQE turns broadcast when it "
    "fits), the two mass scalars ride as broadcast 1-row aggregates, "
    "and the result is a TakeOrdered top-20. Support filtering happens "
    "AFTER the mass totals so probabilities stay true corpus "
    "frequencies.",
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "")
    dt = docs.select(t.alias("t"))
    # materialize the two count tables once (vocab- and bigram-grain —
    # tiny next to the corpus): each is consumed by both its mass total
    # and the enrichment joins, and without pinning, every consumer
    # re-runs the corpus explode+count pass (audited: 5 parquet scans)
    uni = (
        dt.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    nu = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    pairs = (
        dt.where(F.size("t") >= 2)
        .select(
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"), "t"
        )
        .select(
            F.element_at("t", F.col("i")).alias("w1"),
            F.element_at("t", F.col("i") + 1).alias("w2"),
        )
    )
    bg_all = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint()
    )
    nb = bg_all.agg(F.sum("c_ab").cast("double").alias("n_bg"))
    a = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    b = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    return (
        bg_all.where(F.col("c_ab") >= 5)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("n_bg"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n_uni"))
                        * (F.col("c_b").cast("double") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


def _clean_toks(text_col: str = "text"):
    """Empty-filtered lowercase whitespace tokens — these queries filter
    empties BEFORE position assignment so Spark positions and DuckDB list
    indices agree even when a document has leading/trailing whitespace."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != F.lit("")
    )


@register(
    "skipgram_cooccurrence_topk",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    toks AS (
      SELECT doc_id,
             unnest(tk) AS tok,
             unnest(range(1, len(tk) + 1)) AS pos
      FROM t
    ),
    pairs AS (
      SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
    )
    SELECT w1, w2, count(*) AS n_pairs
    FROM pairs GROUP BY w1, w2
    ORDER BY n_pairs DESC, w1, w2
    LIMIT 20
    """,
    doc="Skip-gram co-occurrence counts (word2vec-style preprocessing): "
    "token pairs within a +-2 position window, canonically unordered, "
    "global top-20. The non-equi window condition is turned into an "
    "EQUI-join by exploding the bounded offset set {1,2} on the left "
    "side (pos_b = pos_a + d), so Catalyst plans a hash join keyed on "
    "(doc_id, position) instead of a per-document nested loop — at "
    "100 TB the pair stream shards by document with no quadratic term "
    "(window size is a constant). Counts are exact integers.",
)
def skipgram_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(_clean_toks()).alias("pos", "tok")
    )
    left = toks.withColumn(
        "d", F.explode(F.array(F.lit(1), F.lit(2)))
    ).select(
        "doc_id", F.col("tok").alias("tok_a"), (F.col("pos") + F.col("d")).alias("pos_b")
    )
    right = toks.select("doc_id", F.col("tok").alias("tok_b"), F.col("pos").alias("pos_b"))
    pairs = left.join(right, ["doc_id", "pos_b"]).select(
        F.least("tok_a", "tok_b").alias("w1"),
        F.greatest("tok_a", "tok_b").alias("w2"),
    )
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "w1", "w2")
        .limit(20)
    )


@register(
    "log_odds_ratio_terms",
    r"""
    WITH toks AS (
      SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'other' END AS corpus,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    cnt AS (SELECT corpus, tok, count(*) AS y FROM toks GROUP BY corpus, tok),
    -- single-row conditional aggregate, NOT per-corpus scalar subqueries:
    -- on a monolingual slice a (SELECT n FROM tot WHERE corpus='en')
    -- relation is EMPTY and the comma-join wipes the result, while the
    -- Spark side's global agg emits one row with NULL n1 — this shape
    -- degenerates identically on both engines
    tot AS (SELECT sum(CASE WHEN corpus = 'en' THEN y END) AS n1,
                   sum(CASE WHEN corpus = 'other' THEN y END) AS n2,
                   count(DISTINCT tok) AS v
            FROM cnt),
    wide AS (
      SELECT t.tok,
             coalesce(max(CASE WHEN t.corpus = 'en' THEN y END), 0) AS y1,
             coalesce(max(CASE WHEN t.corpus = 'other' THEN y END), 0) AS y2
      FROM cnt t GROUP BY t.tok
    ),
    scored AS (
      SELECT w.tok, w.y1, w.y2,
             round(CAST(
               (ln((w.y1 + 1.0) / (t.n1 + t.v - w.y1 - 1.0))
                - ln((w.y2 + 1.0) / (t.n2 + t.v - w.y2 - 1.0)))
               / sqrt(1.0 / (w.y1 + 1.0) + 1.0 / (w.y2 + 1.0))
             AS DOUBLE), 6) AS z
      FROM wide w, tot t
    ),
    final AS (
      SELECT tok, CAST(y1 AS BIGINT) AS y_en, CAST(y2 AS BIGINT) AS y_other, z
      FROM scored
    )
    SELECT * FROM (
      (SELECT * FROM final ORDER BY z DESC, tok LIMIT 10)
      UNION ALL
      (SELECT * FROM final ORDER BY z ASC, tok LIMIT 10)
    ) ORDER BY z, tok
    """,
    sort=("z", "tok"),
    doc="Monroe-style log-odds-ratio with a flat +1 Dirichlet prior, "
    "z-scored: which terms are most over-represented in the English "
    "corpus vs everything else (the classic corpus-comparison statistic "
    "for curation/mixing decisions). Term counts are exact integers; "
    "ln/sqrt touch only the final scalar per term, rounded to 6 digits "
    "before ranking so both engines select identical rows. One shuffle "
    "to (corpus, term) counts with map-side combine; totals and vocab "
    "size are broadcast scalars; the two top-10 windows run on the "
    "term-grain relation (vocabulary-bounded, not data-bounded).",
)
def log_odds_ratio_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.when(F.col("lang") == "en", F.lit("en")).otherwise(F.lit("other")).alias("corpus"),
        F.explode(_clean_toks()).alias("tok"),
    )
    cnt = toks.groupBy("corpus", "tok").agg(F.count(F.lit(1)).alias("y"))
    wide = cnt.groupBy("tok").agg(
        F.coalesce(F.max(F.when(F.col("corpus") == "en", F.col("y"))), F.lit(0)).alias("y1"),
        F.coalesce(F.max(F.when(F.col("corpus") == "other", F.col("y"))), F.lit(0)).alias("y2"),
    )
    tot = cnt.groupBy().agg(
        F.sum(F.when(F.col("corpus") == "en", F.col("y"))).alias("n1"),
        F.sum(F.when(F.col("corpus") == "other", F.col("y"))).alias("n2"),
        F.countDistinct("tok").alias("v"),
    )
    scored = wide.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.col("y1").cast("long").alias("y_en"),
        F.col("y2").cast("long").alias("y_other"),
        F.round(
            (
                F.log((F.col("y1") + 1.0) / (F.col("n1") + F.col("v") - F.col("y1") - 1.0))
                - F.log((F.col("y2") + 1.0) / (F.col("n2") + F.col("v") - F.col("y2") - 1.0))
            )
            / F.sqrt(1.0 / (F.col("y1") + 1.0) + 1.0 / (F.col("y2") + 1.0)),
            6,
        ).alias("z"),
    )
    # materialize the vocab-grain scored relation once (two top-k branches
    # read it), then take each extreme with orderBy+limit — Catalyst plans
    # TakeOrderedAndProject (per-partition heap + driver merge), never a
    # single-task global window
    scored = scored.localCheckpoint()
    top = scored.orderBy(F.desc("z"), "tok").limit(10)
    bot = scored.orderBy(F.asc("z"), "tok").limit(10)
    return top.unionByName(bot)


@register(
    "ngram_novelty_curve",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(tk) - 1),
                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
      FROM t WHERE len(tk) >= 3
    ),
    firsts AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s),
    per_doc AS (
      SELECT sh.doc_id,
             count(*) AS n_total,
             sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS n_novel
      FROM sh JOIN firsts f ON sh.s = f.s
      GROUP BY sh.doc_id
    ),
    mx AS (SELECT max(doc_id) + 1 AS m FROM documents)
    SELECT CAST(floor(d.doc_id * 10.0 / mx.m) AS INT) AS bucket,
           CAST(sum(n_total) AS BIGINT) AS shingles_total,
           CAST(sum(n_novel) AS BIGINT) AS shingles_novel,
           round(CAST(sum(n_novel) AS DOUBLE) / sum(n_total), 6) AS novelty_rate
    FROM per_doc d, mx
    GROUP BY 1 ORDER BY 1
    """,
    doc="Corpus novelty curve: per ingestion-order decile, the fraction "
    "of distinct word trigrams never seen in any earlier document — the "
    "diminishing-returns diagnostic a pretraining pipeline reads before "
    "deciding whether the next crawl slice adds information or "
    "duplicates. first-occurrence attribution is a min(doc_id) groupBy "
    "on the shingle key (one shuffle, map-side partial min) followed by "
    "a shingle-keyed join back — both shard by shingle, no window over "
    "data-sized grain. Integer counts; one final division rounded 6dp.",
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _clean_toks()
    length = F.greatest(F.array_size(toks) - 2, F.lit(0))
    g1 = F.slice(toks, 1, length)
    g2 = F.slice(toks, 2, length)
    g3 = F.slice(toks, 3, length)
    tri = F.array_distinct(
        F.zip_with(F.zip_with(g1, g2, lambda a, b: F.concat_ws(" ", a, b)),
                   g3, lambda ab, c: F.concat_ws(" ", ab, c))
    )
    sh = docs.select("doc_id", F.explode(tri).alias("s"))
    firsts = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        sh.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    mx = docs.agg((F.max("doc_id") + 1).alias("m"))
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .groupBy(
            F.floor(F.col("doc_id") * 10.0 / F.col("m")).cast("int").alias("bucket")
        )
        .agg(
            F.sum("n_total").cast("long").alias("shingles_total"),
            F.sum("n_novel").cast("long").alias("shingles_novel"),
            F.round(
                F.sum("n_novel").cast("double") / F.sum("n_total"), 6
            ).alias("novelty_rate"),
        )
        .orderBy("bucket")
    )
