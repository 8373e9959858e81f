"""Smoke + invariant tests for every registered query at sf0.001.

The full value-level oracle check runs in tools/verify_queries.py (and the
driver's own gate at sf0.01); here we pin cheap invariants that catch
regressions fast: every query plans and executes, row counts are sane, and
operator-specific properties hold.
"""

import ast
import warnings
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark import queries as queries_pkg
from fitness_nutrition_data_pipeline_spark.queries import all_specs

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_runs(spark, sf_dir, name):
    df = SPECS[name].builder(spark, sf_dir)
    assert df.columns, name
    assert df.count() >= 0


def test_every_query_has_doc():
    for name, spec in SPECS.items():
        assert spec.doc, f"{name} missing doc"


def test_oracle_coverage():
    """Every query carries a non-empty DuckDB oracle."""
    missing = [n for n, s in SPECS.items() if not (s.oracle or "").strip()]
    assert not missing, f"queries without oracle: {missing}"


def test_every_public_builder_is_registered():
    """A public top-level ``(spark, sf_dir, ...)`` function in queries/ is a
    query builder, so it must be ``@register``ed: an unregistered builder
    is out of the oracle sweep and the plan-digest map, and runs nowhere
    but in its own tests. Helpers with that signature stay private."""
    pkg = Path(queries_pkg.__file__).parent
    unregistered = []
    for path in sorted(pkg.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            params = [a.arg for a in node.args.posonlyargs + node.args.args]
            registered = any(
                isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in node.decorator_list
            )
            if params[:2] == ["spark", "sf_dir"] and not registered:
                unregistered.append(f"{path.stem}.{node.name}")
    assert unregistered == [], f"unregistered query builders: {unregistered}"


def test_date_dimension_shape(spark, sf_dir):
    df = SPECS["date_dimension"].builder(spark, sf_dir)
    assert df.count() == 366  # 2016 is a leap year
    row = df.where(F.col("full_date") == "2016-01-04").first()
    assert row.day_of_week == 0  # Monday, pandas convention
    assert row.day_name == "Monday"
    assert row.date_key == 20160104


def test_surrogate_keys_dense(spark, sf_dir):
    df = SPECS["surrogate_key_assignment"].builder(spark, sf_dir)
    keys = [r.segment_key for r in df.collect()]
    assert keys == list(range(1, len(keys) + 1))


def test_pk_check_consistency(spark, sf_dir):
    row = SPECS["pk_uniqueness_check"].builder(spark, sf_dir).first()
    assert row.total_rows == row.unique_keys + row.duplicate_keys


def test_knn_returns_k_per_query(spark, sf_dir):
    df = SPECS["embedding_knn_bruteforce"].builder(spark, sf_dir)
    per_q = {r.q_id: r.n for r in df.groupBy("q_id").agg(F.count("*").alias("n")).collect()}
    assert set(per_q) == {0, 1, 2, 3, 4}
    assert all(v == 3 for v in per_q.values())


@pytest.mark.parametrize(
    "name",
    ["cep_batch_replay", "heavy_hitters_batch_replay", "ratelimit_batch_replay"],
)
def test_grouped_map_builds_emit_no_user_warning(spark, sf_dir, name):
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        SPECS[name].builder(spark, sf_dir)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]


def test_jaccard_bounds(spark, sf_dir):
    df = SPECS["ngram_jaccard_pairs"].builder(spark, sf_dir)
    row = df.agg(F.min("jaccard").alias("lo"), F.max("jaccard").alias("hi")).first()
    assert 0.0 <= row.lo <= row.hi <= 1.0


def test_simhash_within_16_bits(spark, sf_dir):
    df = SPECS["simhash_signatures"].builder(spark, sf_dir)
    row = df.agg(F.min("simhash16").alias("lo"), F.max("simhash16").alias("hi")).first()
    assert 0 <= row.lo and row.hi < (1 << 16)


def test_scd2_history_partitions_time(spark, sf_dir):
    """Each customer's SCD2 rows tile time: exactly one current row, and
    every non-current row's valid_to equals the next row's valid_from."""
    rows = (
        SPECS["scd2_priority_history"]
        .builder(spark, sf_dir)
        .orderBy("o_custkey", "valid_from")
        .collect()
    )
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    assert by_cust
    for hist in by_cust.values():
        assert sum(r.is_current for r in hist) == 1
        assert hist[-1].is_current == 1 and hist[-1].valid_to is None
        for prev, nxt in zip(hist, hist[1:]):
            assert prev.valid_to == nxt.valid_from
            # runs were collapsed: adjacent intervals differ in attribute
            assert prev.o_orderpriority != nxt.o_orderpriority


def test_winsorized_mean_is_robust(spark, sf_dir):
    df = SPECS["winsorized_price_stats"].builder(spark, sf_dir)
    for r in df.collect():
        assert r.n_clipped < r.n_orders
        # clipping both tails of a right-skewed price pulls the mean down
        assert r.winsorized_mean != r.raw_mean or r.n_clipped == 0


def test_dsir_weights_favor_target_lang(spark, sf_dir):
    """English docs must score higher on average than non-English ones —
    the whole point of importance weighting toward a target distribution."""
    df = SPECS["dsir_importance_weights"].builder(spark, sf_dir)
    means = {
        r.is_en: r.m
        for r in df.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("dsir_weight").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_no_query_module_import_failures():
    """all_specs isolates module imports; in THIS environment every module
    must have registered (a populated IMPORT_FAILURES means real breakage
    that the isolation would otherwise soften into silence)."""
    from fitness_nutrition_data_pipeline_spark.queries import IMPORT_FAILURES

    assert IMPORT_FAILURES == {}


def test_strict_import_mode_reraises(monkeypatch):
    """SPARK_GRAFT_STRICT_IMPORTS must re-raise instead of recording —
    exercised by injecting a module name that cannot import."""
    import fitness_nutrition_data_pipeline_spark.queries as Q

    monkeypatch.setenv("SPARK_GRAFT_STRICT_IMPORTS", "1")
    monkeypatch.setattr(Q, "_QUERY_MODULES", ("definitely_not_a_module",))
    import pytest as _pytest

    with _pytest.raises(ModuleNotFoundError):
        Q.all_specs()
    monkeypatch.delenv("SPARK_GRAFT_STRICT_IMPORTS")
    monkeypatch.undo()
    # lenient mode records instead
    monkeypatch.setattr(Q, "_QUERY_MODULES", ("definitely_not_a_module",))
    Q.all_specs()
    assert "definitely_not_a_module" in Q.IMPORT_FAILURES
    Q.IMPORT_FAILURES.clear()


def test_inverted_index_postings_sample_bounded(spark, sf_dir):
    """The hash-sampled posting list must never exceed the exact df, and
    the rendered postings must agree with n_sampled (deterministic ~10%
    sample of a term's documents, not the full corpus-sized list)."""
    rows = SPECS["inverted_index_postings"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.n_sampled <= r.df, r.term
        n_listed = len(r.sampled_postings.split(",")) if r.sampled_postings else 0
        assert n_listed == r.n_sampled, r.term
        # postings render sorted ascending — deterministic serialization
        if n_listed > 1:
            ids = [int(x) for x in r.sampled_postings.split(",")]
            assert ids == sorted(ids), r.term


def test_corpus_datacard_consistency(spark, sf_dir):
    """Data-card invariants: one row per source, doc counts add back to
    the corpus size, the majority language is one of the source's
    languages, and dup counts never exceed n_docs - 1."""
    df = SPECS["corpus_datacard"].builder(spark, sf_dir)
    rows = df.collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()
    langs = {
        (r.source, r.lang)
        for r in docs.select("source", "lang").distinct().collect()
    }
    for r in rows:
        assert (r.source, r.top_lang) in langs
        assert 0 <= r.exact_dup_docs <= r.n_docs - 1
        assert 1 <= r.n_langs


def test_prefix_dup_groups_arithmetic(spark, sf_dir):
    """Every dup group holds ≥2 docs, so the member count is bounded
    below by 2×groups; cross-source/truncation splits are subsets."""
    row = SPECS["prefix_dup_groups"].builder(spark, sf_dir).first()
    assert row.n_docs_in_groups >= 2 * row.n_groups
    assert row.cross_source_groups <= row.n_groups
    assert row.truncation_suspects <= row.n_groups
    if row.n_groups:
        assert row.largest_group >= 2


def test_embedding_dim_variance_shape(spark, sf_dir):
    """One row per dimension; the synthetic embeddings are unit-norm with
    no collapsed coordinate, so every dim carries real variance."""
    rows = SPECS["embedding_dim_variance"].builder(spark, sf_dir).collect()
    assert len(rows) == 64
    for r in rows:
        assert r.min_val <= r.mean_val <= r.max_val
        assert r.var_val > 0
        assert r.is_dead == 0


def test_token_length_percentiles_monotone(spark, sf_dir):
    """Nearest-rank percentiles are order statistics: p50 ≤ p90 ≤ p99 ≤
    max per language, and each is an actually-occurring length."""
    rows = SPECS["token_length_percentiles"].builder(spark, sf_dir).collect()
    assert rows
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lens = {
        (r.lang, r.n_tok)
        for r in docs.select(
            "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok")
        ).collect()
    }
    for r in rows:
        assert r.p50_tokens <= r.p90_tokens <= r.p99_tokens <= r.max_tokens
        for p in (r.p50_tokens, r.p90_tokens, r.p99_tokens):
            assert (r.lang, p) in lens


def test_bigram_pmi_support_floor(spark, sf_dir):
    """Every reported collocation meets min support and has finite PMI."""
    import math

    rows = SPECS["bigram_pmi_collocations"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.c_ab >= 5
        assert math.isfinite(r.pmi)
    # descending pmi with deterministic tie-break
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_embedding_coverage_full_on_fixture(spark, sf_dir):
    """The synthetic tables are id-aligned: every source fully covered,
    no orphan vectors, no malformed dimensions — the all-green baseline
    this check exists to defend."""
    rows = SPECS["embedding_coverage_check"].builder(spark, sf_dir).collect()
    orphan = [r for r in rows if r.source == "__orphan_vecs__"]
    assert len(orphan) == 1 and orphan[0].n_docs == 0
    for r in rows:
        if r.source != "__orphan_vecs__":
            assert r.coverage_pct == 100.0
            assert r.n_with_vec == r.n_docs
        assert r.n_bad_dim == 0


def test_concurrent_sessions_peak_bounds(spark, sf_dir):
    """Peak concurrency is at least 1 on every active day, never exceeds
    the number of sessions, and the peak minute is a valid minute-of-day."""
    rows = SPECS["concurrent_sessions_peak"].builder(spark, sf_dir).collect()
    assert rows
    n_sessions = SPECS["sessionize_events"].builder(spark, sf_dir).count()
    for r in rows:
        assert 1 <= r.peak_concurrency <= n_sessions
        assert 0 <= r.first_peak_minute < 1440


def test_psi_total_consistent(spark, sf_dir):
    """psi_total equals the sum of per-bin contributions and is the same
    on every row; PSI of a genuinely stationary synthetic stream stays
    below the conventional 0.2 action threshold."""
    rows = SPECS["psi_value_drift"].builder(spark, sf_dir).collect()
    assert rows
    total = rows[0].psi_total
    assert all(abs(r.psi_total - total) < 1e-9 for r in rows)
    assert abs(sum(r.psi_contrib for r in rows) - total) < 1e-4
    assert total < 0.2


def test_incremental_merge_equals_full_recompute(spark, sf_dir):
    """The unioned partial states must re-aggregate to exactly the
    single-pass rollup — the mergeable-state contract."""
    merged = SPECS["incremental_agg_merge"].builder(spark, sf_dir)
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where(F.col("value").isNotNull())
    )
    # independent single-pass recompute (decimal, same grain)
    full = (
        ev.select(
            F.to_date(F.col("ts").cast("timestamp")).alias("day"),
            "event_type",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("total"))
        .select(
            F.col("day").cast("string").alias("day"),
            "event_type",
            "n_events",
            F.round(F.col("total").cast("double"), 2).alias("total_value"),
        )
    )
    m = {(r.day, r.event_type): (r.n_events, r.total_value) for r in merged.collect()}
    f = {(r.day, r.event_type): (r.n_events, r.total_value) for r in full.collect()}
    assert m == f


def test_zorder_beats_single_sorts_on_both_dims(spark, sf_dir):
    """The curve's whole value proposition, asserted: each single-column
    sort has zero span on its own dimension and near-full range on the
    other; Z-order keeps BOTH average spans a small fraction of the
    256-cell grid."""
    rows = {
        r.layout: r
        for r in SPECS["zorder_locality_stats"].builder(spark, sf_dir).collect()
    }
    assert rows["custkey_sorted"].avg_cust_span == 0.0
    assert rows["date_sorted"].avg_day_span == 0.0
    z = rows["zorder"]
    assert z.avg_cust_span < 32
    assert z.avg_day_span < 32
    assert z.avg_cust_span < rows["date_sorted"].avg_cust_span / 4
    assert z.avg_day_span < rows["custkey_sorted"].avg_day_span / 4


def test_zvalue_roundtrip_bits(spark):
    """zvalue interleaves exactly: de-interleaving the curve key
    recovers both inputs for every 8-bit pair sampled."""
    from fitness_nutrition_data_pipeline_spark.operators.layout import zvalue

    df = spark.range(0, 256, 17).selectExpr(
        "id AS x", "CAST(255 - id AS LONG) AS y"
    )
    out = df.select("x", "y", zvalue(F.col("x"), F.col("y"), 8).alias("z")).collect()
    for r in out:
        x_back = sum(((r.z >> (2 * b)) & 1) << b for b in range(8))
        y_back = sum(((r.z >> (2 * b + 1)) & 1) << b for b in range(8))
        assert (x_back, y_back) == (r.x, r.y)


def test_native_and_algebraic_sessionizers_agree(spark, sf_dir):
    """Two independent sessionizer implementations (lag + running sum vs
    Spark's native session_window) must produce identical session
    multisets — same per-user session count and same (n_events,
    duration) distribution."""
    alg = SPECS["sessionize_events"].builder(spark, sf_dir)
    nat = SPECS["sessionize_native_window"].builder(spark, sf_dir)
    a = sorted(
        (r.user_id, r.session_no, r.n_events, r.duration_us)
        for r in alg.collect()
    )
    n = sorted(
        (r.user_id, r.session_no, r.n_events, r.duration_us)
        for r in nat.collect()
    )
    assert a == n


def test_k_anonymity_arithmetic(spark, sf_dir):
    """Risky rows are a subset of all rows; group counts reconcile with
    the customer table."""
    row = SPECS["k_anonymity_audit"].builder(spark, sf_dir).first()
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert 1 <= row.k_min
    assert row.n_risky_groups <= row.n_groups
    assert row.n_rows_at_risk <= n_customers
    assert 0.0 <= row.pct_rows_at_risk <= 100.0


def test_ewma_tracks_series(spark, sf_dir):
    """EWMA invariants: the first day's EWMA equals its daily average
    (nothing to smooth yet), every EWMA lies inside the running min/max
    envelope of the series, and the smoothed series has no more
    variance than the raw one."""
    rows = SPECS["ewma_daily_value"].builder(spark, sf_dir).collect()
    assert rows
    assert abs(rows[0].ewma - rows[0].daily_avg) < 1e-6
    lo = hi = rows[0].daily_avg
    for r in rows:
        lo, hi = min(lo, r.daily_avg), max(hi, r.daily_avg)
        assert lo - 1e-9 <= r.ewma <= hi + 1e-9
    import statistics

    assert statistics.pvariance([r.ewma for r in rows]) <= statistics.pvariance(
        [r.daily_avg for r in rows]
    )


def test_hopping_windows_cover_each_event_four_times(spark, sf_dir):
    """24h/6h hopping windows: total event mass across windows is exactly
    4x the stream, and every per-type window count is positive."""
    df = SPECS["hopping_window_rollup"].builder(spark, sf_dir)
    rows = df.collect()
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n_events for r in rows) == 4 * total
    for r in rows:
        assert r.n_events >= r.n_users >= 1


def test_cdc_merge_and_ivm_agree(spark, sf_dir):
    """cdc_merge_apply and incremental_agg_maintenance consume the SAME
    synthetic change feed; the merge audit's surviving totals must equal
    the maintained view's totals — recompute-vs-maintenance agreement
    across two independent implementations."""
    from pyspark.sql import functions as F

    merge = SPECS["cdc_merge_apply"].builder(spark, sf_dir)
    ivm = SPECS["incremental_agg_maintenance"].builder(spark, sf_dir)
    m = merge.where(F.col("action") != "deleted").agg(
        F.sum("n_rows").alias("n"), F.sum("surviving_cents").alias("c")
    ).first()
    v = ivm.agg(F.sum("n_orders").alias("n"), F.sum("total_cents").alias("c")).first()
    assert (m.n, m.c) == (v.n, v.c)
