"""Reusable text-analysis operators over arbitrary DataFrames (north-star
text surface). Pure Column-expression implementations — every function
here whole-stage-codegens; nothing crosses into Python.

The testdata-facing registered queries (queries/text_ops.py) are thin
bindings of these operators; library users call them directly on their
own tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def whitespace_tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.lower(c), r"\s+")


def word_shingles(col: Column | str, n: int = 2, *, distinct: bool = True) -> Column:
    """n-word shingles of a text column.

    Built with ``zip_with`` over slices — NOT ``element_at`` inside a
    ``transform`` lambda, which re-evaluates the underlying split per
    element (O(tokens²) per row).
    """
    toks = whitespace_tokens(col)
    size = F.array_size(toks)
    # clamp: docs with < n tokens yield an empty shingle array, not a
    # negative slice length (F.slice throws on negative length)
    length = F.greatest(size - (n - 1), F.lit(0))
    out = F.slice(toks, 1, length)
    for i in range(1, n):
        nxt = F.slice(toks, i + 1, length)
        out = F.zip_with(out, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(out) if distinct else out


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + BPE-ish regex token counts per row."""
    return df.withColumn(
        "ws_tokens", F.array_size(F.split(F.trim(F.col(text_col)), r"\s+"))
    ).withColumn(
        "bpe_ish_tokens",
        F.array_size(
            F.regexp_extract_all(
                F.lower(text_col), F.lit(r"[a-z0-9]+|[^a-z0-9\s]"), F.lit(0)
            )
        ),
    )


def quality_features(
    df: DataFrame, text_col: str = "text", stopwords: tuple[str, ...] = ()
) -> DataFrame:
    """Length / avg-token-length / stopword-ratio features + pass flag
    (C4/Gopher-style heuristic filter)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    stop_arr = F.array(*[F.lit(s) for s in stopwords])
    n_toks = F.array_size(toks)
    stop_count = F.array_size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    ratio = stop_count.cast("double") / n_toks
    return (
        df.withColumn("n_tokens", n_toks)
        .withColumn(
            "avg_token_len",
            F.round(F.length(F.array_join(toks, "")).cast("double") / n_toks, 4),
        )
        .withColumn("stopword_ratio", F.round(ratio, 4))
        .withColumn(
            "passes_quality",
            F.when((n_toks >= 10) & ratio.between(0.01, 0.6), 1).otherwise(0),
        )
    )


def language_scores(
    df: DataFrame, text_col: str, markers: dict[str, tuple[str, ...]]
) -> DataFrame:
    """Per-language marker-word hit counts (columns s_<lang>) + a
    deterministic argmax ``predicted_lang`` (tie order = dict order)."""
    toks = F.split(F.lower(text_col), r"\s+")

    def count_in(words):
        arr = F.array(*[F.lit(m) for m in words])
        return F.array_size(F.filter(toks, lambda t: F.array_contains(arr, t))).cast("long")

    out = df
    for lang, words in markers.items():
        out = out.withColumn(f"s_{lang}", count_in(words))
    langs = list(markers)
    predicted = None
    for i, lang in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        predicted = (
            F.when(cond, lang) if predicted is None else predicted.when(cond, lang)
        )
    predicted = predicted.otherwise(langs[-1])
    return out.withColumn("predicted_lang", predicted)


def winnowing_fingerprint_set(
    df: DataFrame, id_col: str, text_col: str, *, gram: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection: gram-hash sequence →
    rows-frame window minima → DISTINCT (id, fp) rows. The shared core
    of the per-doc summary and the cross-document matcher."""
    from pyspark.sql import Window as W

    grams = word_shingles(text_col, gram, distinct=False)
    rows = df.select(
        id_col,
        F.posexplode(grams).alias("pos", "gram"),
    ).select(id_col, "pos", F.substring(F.md5("gram"), 1, 8).alias("h"))
    counts = rows.groupBy(id_col).agg(F.max("pos").alias("_max_pos"))
    w = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    wins = rows.withColumn("fp", F.min("h").over(w)).join(counts, id_col)
    return (
        wins.where(F.col("pos") <= F.col("_max_pos") - (window - 1))
        .select(id_col, "fp")
        .distinct()
    )


def winnowing_fingerprint_summary(
    df: DataFrame, id_col: str, text_col: str, *, gram: int = 3, window: int = 4
) -> DataFrame:
    """Per-document rollup of the winnowing fingerprint set."""
    return (
        winnowing_fingerprint_set(df, id_col, text_col, gram=gram, window=window)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.min("fp").alias("min_fingerprint"),
        )
    )


def winnowing_match_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram: int = 3,
    window: int = 4,
    max_postings: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Cross-document winnowing matches (the MOSS detection step): pairs
    of documents sharing ≥ ``min_shared`` selected fingerprints.

    The pair space is generated WITHIN fingerprint posting lists, and
    lists longer than ``max_postings`` are dropped first (boilerplate
    "stop fingerprints" — shared by everything, discriminative of
    nothing), so the quadratic term is bounded by max_postings² per
    fingerprint, never corpus². One shuffle on fp for the posting lists,
    one on the pair key for the shared counts."""
    # the fingerprint relation feeds THREE branches (posting sizes + both
    # self-join sides); without pinning, each branch re-runs the whole
    # winnowing lineage over the corpus (tools/audit_reuse.py: 8 corpus
    # scans). Pinned: winnowing runs once — exactly what production does
    # by persisting the fingerprint index as a table.
    fps = winnowing_fingerprint_set(
        df, id_col, text_col, gram=gram, window=window
    ).localCheckpoint()
    sizes = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .where((F.col("_nd") >= 2) & (F.col("_nd") <= max_postings))
        .select("fp")
    )
    pruned = fps.join(sizes, "fp")
    a = pruned.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = pruned.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_b") > F.col("id_a"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def pii_scan(
    df: DataFrame,
    text_col: str,
    patterns: dict[str, str],
) -> DataFrame:
    """PII detection/redaction over a free-text column (training-data
    hygiene pass): per-pattern match counts ``n_<name>``, a ``pii_total``,
    and a ``redacted`` copy with every match replaced by
    ``[<NAME>]``. Pure regexp Column expressions — linear scan, no
    shuffle, no Python. Patterns are applied case-insensitively (``(?i)``)
    against the ORIGINAL text, so the redacted copy preserves the
    document's casing everywhere outside the redacted spans; redaction
    applies them in dict order."""
    out = df
    total = F.lit(0)
    for name, pat in patterns.items():
        cnt = F.regexp_count(F.col(text_col), F.lit(f"(?i){pat}"))
        out = out.withColumn(f"n_{name}", cnt)
        total = total + cnt
    out = out.withColumn("pii_total", total)
    red = F.col(text_col)
    for name, pat in patterns.items():
        red = F.regexp_replace(red, f"(?i){pat}", f"[{name.upper()}]")
    return out.withColumn("redacted", red)


def benchmark_gram_set(benchmark: DataFrame, text_col: str, *, n: int = 5) -> DataFrame:
    """The benchmark side's distinct word n-grams — the ONE definition of
    "what counts as a contamination hit", shared by the batch pass
    (``ngram_contamination``) and its streaming twin
    (streaming/hygiene.py::contamination_alerts) so the two can never
    silently diverge on tokenization or distinctness."""
    return benchmark.select(
        F.explode(word_shingles(text_col, n)).alias("gram")
    ).distinct()


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination check: for each corpus doc, how many of its
    distinct word n-grams appear anywhere in the benchmark set
    (the decontamination pass run before training on scraped data).

    The benchmark's distinct gram set is broadcast — eval suites are tiny
    next to a training corpus, so the corpus never shuffles; each partition
    probes the broadcast hash table and only per-doc counts aggregate."""
    bench_grams = benchmark_gram_set(benchmark, text_col, n=n)
    grams = corpus.select(id_col, word_shingles(text_col, n).alias("_grams"))
    hits = (
        grams.select(id_col, F.explode("_grams").alias("gram"))
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    # NULL text → NULL shingle array; report 0 grams, same as a short doc
    n_grams = F.coalesce(F.array_size("_grams"), F.lit(0))
    out = grams.select(id_col, n_grams.alias("n_grams")).join(hits, id_col, "left")
    n_cont = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long")
    ratio = F.when(
        F.col("n_grams") > 0,
        F.round(n_cont.cast("double") / F.col("n_grams"), 4),
    )
    return out.select(
        id_col,
        "n_grams",
        n_cont.alias("n_contaminated"),
        ratio.alias("contamination_ratio"),
    )


def repetition_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Within-document repetition profile (Gopher-style quality signals):
    distinct-token ratio and the share of the most frequent bigram.
    Token-level stats are per-row array ops; the bigram mode is one
    explode → two-level partial aggregation (codegen, map-side combined)."""
    toks = whitespace_tokens(text_col)
    base = df.select(
        id_col,
        F.array_size(toks).alias("n_tokens"),
        F.round(
            F.array_size(F.array_distinct(toks)).cast("double")
            / F.array_size(toks),
            4,
        ).alias("distinct_token_ratio"),
        word_shingles(text_col, 2, distinct=False).alias("_bi"),
    )
    bi_counts = (
        base.select(id_col, F.explode("_bi").alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(F.max("_c").alias("_top"), F.sum("_c").alias("_total"))
    )
    share = F.when(
        F.coalesce(F.col("_total"), F.lit(0)) > 0,
        F.round(F.col("_top").cast("double") / F.col("_total"), 4),
    ).otherwise(F.lit(0.0))
    return (
        base.join(bi_counts, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "distinct_token_ratio",
            share.alias("top_bigram_share"),
        )
        .withColumn(
            "is_repetitive",
            F.when(
                (F.col("distinct_token_ratio") < 0.5)
                | (F.col("top_bigram_share") >= 0.2),
                1,
            ).otherwise(0),
        )
    )


def tfidf_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tfidf) with tfidf = tf · ln(N/df), rounded 4dp so ranking
    on it is engine-independent.

    Document frequency derives FROM the tf relation (one row per
    (doc, term), so a plain count per term == countDistinct docs)
    instead of a second aggregation over the raw token explode: the raw
    token stream is exploded and shuffled once, and df's term-shuffle
    reads the much smaller deduped (doc, term) grain. Both tf consumers
    (the join left side and the df rollup) contain the IDENTICAL
    partial-count -> Exchange(doc, term) subtree, which ReuseExchange
    collapses to one physical shuffle (scan bound gated in
    tests/test_plans.py)."""
    toks = df.select(id_col, F.explode(whitespace_tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    gram: int = 4,
    mask: int = 8,
) -> DataFrame:
    """Content-defined chunking (Rabin-style): a chunk boundary opens
    wherever the rolling ``gram``-token hash ≡ 0 (mod ``mask``), so
    boundaries are anchored to CONTENT, not offsets — inserting one
    token early in a document shifts every fixed-size block but leaves
    all CDC chunks after the edit identical. Chunk-hash dedup therefore
    catches large shared spans between revisions/mirrors that
    whole-document hashing misses (the storage-dedup classic applied to
    corpus curation).

    Returns (id_col, chunk_id, chunk_hash, n_toks). Plan: posexplode →
    per-doc window (lead ×(gram−1), running boundary sum) → per-chunk
    groupBy. Both windows partition by document, so the work is
    embarrassingly parallel across docs; expected chunk length is
    ``mask`` tokens (geometric).
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(id_col).orderBy("pos")
    toks = df.select(
        id_col, F.posexplode(F.split(F.lower(text_col), r"\s+")).alias("pos", "tok")
    )
    leads = toks.select(
        id_col,
        "pos",
        "tok",
        *[F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, gram)],
    )
    gh = F.md5(
        F.concat_ws(" ", F.col("tok"), *[F.col(f"t{i}") for i in range(1, gram)])
    )
    flagged = leads.withColumn(
        "boundary",
        (F.conv(F.substring(gh, 1, 2), 16, 10).cast("long") % mask == 0).cast("int"),
    )
    numbered = flagged.withColumn(
        "chunk_id", F.sum("boundary").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    ordered_toks = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]
    )
    return numbered.groupBy(id_col, "chunk_id").agg(
        F.md5(F.array_join(ordered_toks, " ")).alias("chunk_hash"),
        F.count(F.lit(1)).alias("n_toks"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """The RAG chunker itself — the executable counterpart of
    queries/corpus_ops.py::rag_chunk_plan's closed-form accounting:
    slide a ``size``-token window advancing ``stride`` tokens (overlap
    = size - stride) over each document's whitespace tokens and emit
    one row per chunk: (id, chunk_id, n_tokens, chunk_text).

    Shuffle-free by construction: tokens -> a per-row
    ``sequence(0, n_chunks-1)`` -> ``posexplode`` -> ``slice`` of the
    token array, all inside one map stage (codegen; no UDF, no
    window). At 100 TB this is the shape that matters — the chunker
    adds zero exchanges to whatever scan feeds it, so it fuses with
    the embedding stage's repartition rather than paying its own.

    Invariants (pinned in tests/test_cleaning.py): chunk count equals
    the closed form 1 + ceil((toks - size)/stride) for toks > size,
    1 for 0 < toks <= size; every chunk except the last has exactly
    ``size`` tokens; total emitted tokens = toks + overlap*(chunks-1);
    concatenating chunks with the overlap removed reproduces the
    document's token stream exactly.
    """
    if not (0 < stride <= size):
        raise ValueError("need 0 < stride <= size")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    n = F.size(toks)
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= size, F.lit(1))
        .otherwise(F.lit(1) + F.ceil((n - F.lit(size)) / F.lit(stride)))
    )
    base = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        n.alias("_n"),
        n_chunks.cast("int").alias("_nc"),
    ).where(F.col("_nc") > 0)
    exploded = base.select(
        id_col,
        "_toks",
        "_n",
        F.posexplode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias(
            "chunk_id", "_"
        ),
    )
    start = F.col("chunk_id") * stride  # 0-based token offset
    piece = F.slice(F.col("_toks"), start + 1, size)
    return exploded.select(
        id_col,
        "chunk_id",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
