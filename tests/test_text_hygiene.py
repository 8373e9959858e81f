"""Unit tests for the training-data hygiene operators (pii_scan,
ngram_contamination, repetition_features), the shingling and winnowing
operators on documents shorter than the gram, and the log-odds query on
a degenerate (monolingual) corpus."""

from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.text import (
    ngram_contamination,
    pii_scan,
    repetition_features,
    winnowing_fingerprint_summary,
    word_shingles,
)

PATTERNS = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "phone": r"\d{3}-\d{4}",
}


def test_pii_scan_counts_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at Bob@Example.COM or call 555-1234"),
            (2, "no pii here"),
            (3, "a@b.io c@d.net 111-2222 333-4444"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in pii_scan(df, "text", PATTERNS).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].pii_total) == (1, 1, 2)
    assert (out[2].n_email, out[2].n_phone, out[2].pii_total) == (0, 0, 0)
    assert (out[3].n_email, out[3].n_phone, out[3].pii_total) == (2, 2, 4)
    assert out[1].redacted == "mail me at [EMAIL] or call [PHONE]"
    assert out[2].redacted == "no pii here"
    assert "[EMAIL]" in out[3].redacted and "[PHONE]" in out[3].redacted
    assert "@" not in out[3].redacted


def test_ngram_contamination_known_overlap(spark):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            # shares the benchmark trigrams "alpha beta gamma", "beta gamma delta"
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta eta theta iota"),
            (3, "xy"),  # < n tokens → 0 grams, NULL ratio
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_contamination(corpus, bench, "doc_id", "text", n=3).collect()
    }
    assert (out[1].n_grams, out[1].n_contaminated) == (3, 2)
    assert abs(out[1].contamination_ratio - round(2 / 3, 4)) < 1e-9
    assert (out[2].n_grams, out[2].n_contaminated) == (2, 0)
    assert out[2].contamination_ratio == 0.0
    assert (out[3].n_grams, out[3].n_contaminated) == (0, 0)
    assert out[3].contamination_ratio is None


def test_ngram_contamination_broadcasts_benchmark(spark):
    docs = spark.createDataFrame(
        [(i, "a b c d e f") for i in range(10)], "doc_id long, text string"
    )
    plan = ngram_contamination(
        docs, docs.limit(2), "doc_id", "text", n=3
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_repetition_features(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "solo"),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in repetition_features(df, "id", "text").collect()}
    # doc 1: 5 tokens, 1 distinct, bigram "spam spam" ×4 of 4 → share 1.0
    assert out[1].n_tokens == 5
    assert abs(out[1].distinct_token_ratio - 0.2) < 1e-9
    assert out[1].top_bigram_share == 1.0
    assert out[1].is_repetitive == 1
    # doc 2: all distinct, every bigram unique → share 1/9
    assert out[2].distinct_token_ratio == 1.0
    assert abs(out[2].top_bigram_share - round(1 / 9, 4)) < 1e-9
    assert out[2].is_repetitive == 0
    # doc 3: single token → no bigrams → share 0
    assert out[3].top_bigram_share == 0.0
    assert out[3].is_repetitive == 0


def test_random_hyperplane_lsh_groups_similar_vectors(spark):
    """Same-direction vectors must share a bucket; opposite vectors must
    not (every sign bit flips). Deterministic planes → stable buckets."""
    from fitness_nutrition_data_pipeline_spark.operators.similarity import (
        random_hyperplane_lsh,
    )

    base = [1.0, -0.5, 2.0, 0.25] * 4  # dim 16
    scaled = [x * 3.0 for x in base]  # same direction → same half-spaces
    flipped = [-x for x in base]
    df = spark.createDataFrame(
        [(1, base), (2, scaled), (3, flipped)], "id long, vec array<double>"
    )
    out = {
        r.id: r.bucket_id
        for r in random_hyperplane_lsh(df, "id", "vec", n_planes=8, dim=16).collect()
    }
    assert out[1] == out[2]
    # flipped vector inverts every sign bit → bitwise complement bucket
    assert out[3] == (2**8 - 1) - out[1]


def test_random_hyperplane_lsh_broadcasts_planes(spark):
    from fitness_nutrition_data_pipeline_spark.operators.similarity import (
        random_hyperplane_lsh,
    )

    df = spark.createDataFrame(
        [(i, [float(i)] * 16) for i in range(4)], "id long, vec array<double>"
    )
    plan = (
        random_hyperplane_lsh(df, "id", "vec", n_planes=4, dim=16)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_pii_redaction_preserves_casing(spark):
    """Redaction must replace only the matched spans; all other content
    keeps its ORIGINAL casing (patterns apply case-insensitively)."""
    from fitness_nutrition_data_pipeline_spark.operators.text import pii_scan

    df = spark.createDataFrame(
        [("Dear Bob, mail Alice@Example.COM about The Project",)], "t string"
    )
    out = pii_scan(
        df, "t", {"email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"}
    ).first()
    assert out.n_email == 1
    assert out.redacted == "Dear Bob, mail [EMAIL] about The Project"


def test_contamination_null_text_reports_zero_grams(spark):
    """NULL-text docs report n_grams=0 like short docs, not NULL."""
    from fitness_nutrition_data_pipeline_spark.operators.text import (
        ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [(1, None), (2, "a b"), (3, "one two three four five six")],
        "id long, t string",
    )
    bench = spark.createDataFrame([("one two three four five",)], "t string")
    out = {r.id: r for r in ngram_contamination(corpus, bench, "id", "t").collect()}
    assert out[1].n_grams == 0 and out[1].n_contaminated == 0
    assert out[2].n_grams == 0
    assert out[3].n_contaminated == 1


def test_word_shingles_short_docs_no_crash(spark):
    """Docs with fewer tokens than the shingle width must yield empty
    shingle arrays (negative slice length crashes Spark)."""
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"), (4, "one two three four")],
        "id long, text string",
    )
    rows = {
        r.id: r.sh
        for r in df.select("id", word_shingles("text", 3).alias("sh")).collect()
    }
    assert rows[2] == []
    assert rows[3] == []
    assert rows[4] == ["one two three", "two three four"]


def test_winnowing_short_docs_no_crash(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "one two"),
         (4, "a b c d e f g h i j k l")],
        "id long, text string",
    )
    out = winnowing_fingerprint_summary(df, "id", "text", gram=3, window=4)
    got = {r.id: r.n_fingerprints for r in out.collect()}
    # short docs simply produce no fingerprints (absent from the groupBy)
    assert 4 in got and got[4] >= 1
    assert 1 not in got and 2 not in got and 3 not in got


def test_log_odds_oracle_degenerates_like_spark(spark, tmp_path):
    """ADVICE r13 #4: on a MONOLINGUAL corpus slice the old oracle's
    per-corpus scalar subqueries produced an empty relation and wiped
    the result through the comma-join, while the Spark side's global
    agg emits one row with NULL totals and 20 null-z rows — a strict
    hash-mismatch waiting on any single-language data slice. Both
    engines must now degenerate identically."""
    import duckdb
    import pandas as pd

    from fitness_nutrition_data_pipeline_spark.queries import all_specs

    docs = pd.DataFrame(
        {
            "doc_id": range(30),
            "text": [f"alpha beta w{i} gamma" for i in range(30)],
            "lang": ["en"] * 30,  # no 'other' corpus at all
            "source": ["s"] * 30,
            "n_chars": [20] * 30,
        }
    )
    docs.to_parquet(str(tmp_path / "documents.parquet"))

    spec = all_specs()["log_odds_ratio_terms"]
    got = spec.builder(spark, str(tmp_path)).toPandas()

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet'"
    )
    want = con.execute(spec.oracle).df()
    assert len(got) == len(want) == 20
    assert got["z"].isna().all() and want["z"].isna().all()
    assert sorted(got["tok"]) == sorted(want["tok"])
