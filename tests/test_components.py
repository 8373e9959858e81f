"""Connected components: transitive closure, convergence, LSH integration.

Every graph test runs ``connected_components`` on both paths: the
single-task union-find finish (default at test scale) and the
distributed star alternation, forced by zeroing
``components.ONE_TASK_ROWS``."""

from fitness_nutrition_data_pipeline_spark.operators import components
from fitness_nutrition_data_pipeline_spark.operators.components import (
    bucket_clusters,
    connected_components,
)
from fitness_nutrition_data_pipeline_spark.operators.dedup import lsh_bands, minhash_signatures


def _labels(df):
    return {r.vertex: r.component for r in df.collect()}


def _both_paths(monkeypatch, edges, **kw):
    """({vertex: component} from the union-find finish, the same from
    the distributed alternation)."""
    local = _labels(connected_components(edges, **kw))
    with monkeypatch.context() as m:
        m.setattr(components, "ONE_TASK_ROWS", 0)
        dist = _labels(connected_components(edges, **kw))
    return local, dist


def _union_find_truth(edges):
    """Driver-side union-find ground truth: {vertex: min reachable id}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_two_components_and_chain(spark, monkeypatch):
    # chain 1-2-3-4 (one component), pair 10-11, transitive via chain
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert _both_paths(monkeypatch, edges) == (want, want)


def test_long_path_converges(spark, monkeypatch):
    # path 0-1-2-...-9: needs multiple alternations on the distributed path
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    want = {i: 0 for i in range(10)}
    assert _both_paths(monkeypatch, edges) == (want, want)


def test_near_dup_components_from_lsh(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bands = lsh_bands(minhash_signatures(docs, "doc_id", "text"), "doc_id")
    membership = bands.select(
        "doc_id",
        F.concat(F.col("band_id").cast("string"), F.col("band_key")).alias("bucket"),
    )
    rows = bucket_clusters(membership, "doc_id", "bucket").collect()
    # every doc with bands is labeled, singletons included
    assert len(rows) == bands.select("doc_id").distinct().count() > 0
    # cluster label is always ≤ every member's id (min-label invariant)
    assert all(r.cluster_id <= r.doc_id for r in rows)
    # canonical members map to themselves
    canon = {r.cluster_id for r in rows}
    self_mapped = {r.doc_id for r in rows if r.doc_id == r.cluster_id}
    assert canon == self_mapped


def test_near_dup_pipeline_end_to_end(spark, sf_dir):
    """Composed MinHash→LSH→Jaccard pipeline: runs, bounded, and agrees
    with directly-computed Jaccard on its candidate pairs."""
    from fitness_nutrition_data_pipeline_spark.operators.dedup import near_dup_pipeline

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = near_dup_pipeline(docs, "doc_id", "text", threshold=0.5)
    rows = out.collect()
    assert len(rows) > 0
    assert all(0.0 <= r.jaccard <= 1.0 for r in rows)
    assert all((r.jaccard >= 0.5) == (r.is_near_dup == 1) for r in rows)
    # pairs are canonical-oriented (bucket min first)
    assert all(r.id_a < r.id_b for r in rows)


def test_dedup_clusters_bipartite_chain(spark, monkeypatch):
    """Transitivity through shared buckets, on both connected-components
    paths: 1~2 via x, 2~3 via y ⇒ one cluster labeled 1; a chain of four
    bucket-hops (1–x–2–y–3–z–4–w–5) is one cluster too; an id that
    shares no bucket labels itself."""
    cases = [
        ([(1, "x"), (2, "x"), (2, "y"), (3, "y"), (10, "z")],
         {1: 1, 2: 1, 3: 1, 10: 10}),
        ([(5, "w"), (4, "w"), (4, "z"), (3, "z"), (3, "y"), (2, "y"),
          (2, "x"), (1, "x"), (20, "v"), (20, "u")],
         {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 20: 20}),
    ]
    for rows, want in cases:
        mem = spark.createDataFrame(rows, "doc_id long, bucket string")
        for bound in (components.ONE_TASK_ROWS, 0):
            with monkeypatch.context() as m:
                m.setattr(components, "ONE_TASK_ROWS", bound)
                out = {
                    r.doc_id: r.cluster_id
                    for r in bucket_clusters(mem, "doc_id", "bucket").collect()
                }
            assert out == want, (bound, rows)


def test_cdc_chunks_shift_invariance(spark):
    """The CDC selling point: prepending one token re-hashes only the
    chunks up to the first content boundary; later chunk hashes are
    IDENTICAL, where any fixed-size blocking would shift every block."""
    from fitness_nutrition_data_pipeline_spark.operators.text import cdc_chunks

    base = " ".join(f"w{i % 37}q{i % 11}" for i in range(400))
    df = spark.createDataFrame(
        [(1, base), (2, "INSERTED " + base)], "doc_id long, text string"
    )
    chunks = cdc_chunks(df, "doc_id", "text", gram=4, mask=8).collect()
    h1 = {r.chunk_hash for r in chunks if r.doc_id == 1}
    h2 = {r.chunk_hash for r in chunks if r.doc_id == 2}
    assert h1 != h2  # docs differ
    shared = h1 & h2
    # the overwhelming majority of chunks survive the shift
    assert len(shared) >= 0.7 * len(h1), (len(shared), len(h1))


def test_star_cc_matches_fixpoint(spark, monkeypatch):
    """On a mixed graph (a chain, a clique, a triangle, an isolated
    pair) the union-find finish and the distributed star alternation
    both equal the driver-side union-find truth."""
    edges = (
        [(i, i + 1) for i in range(40)]
        + [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
        + [(200, 201), (300, 301), (301, 302), (302, 300)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    truth = _union_find_truth(edges)
    assert _both_paths(monkeypatch, df) == (truth, truth)


def test_star_cc_logarithmic_rounds_on_chain(spark, monkeypatch):
    """The reason for the star alternation: a 120-hop duplicate CHAIN
    needs 119 one-hop label-propagation rounds but must converge within
    12 star alternations (O(log n)) — pinned by capping max_rounds at 12
    on the distributed path and asserting the labeling is still exactly
    right. The union-find finish would absorb the chain in one task and
    prove nothing, so the bound is zeroed."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "src long, dst long"
    )
    monkeypatch.setattr(components, "ONE_TASK_ROWS", 0)
    got = _labels(connected_components(df, max_rounds=12))
    assert got == {i: 0 for i in range(120)}


def test_star_cc_local_finish_gate_and_equivalence(spark, monkeypatch):
    """At the default bound a test-sized graph runs the single-task
    union-find (plan carries a MapInPandas node, zero star rounds);
    with the bound zeroed the distributed loop runs (no Python node).
    Labels identical either way."""
    edges = (
        [(i, i + 1) for i in range(30)]
        + [(500 + i, 500 + j) for i in range(4) for j in range(i + 1, 4)]
        + [(900, 901)]
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    local = connected_components(df)
    with monkeypatch.context() as m:
        m.setattr(components, "ONE_TASK_ROWS", 0)
        dist = connected_components(df)
    assert "mapinpandas" in local._jdf.queryExecution().analyzed().toString().lower()
    assert (
        "mapinpandas"
        not in dist._jdf.queryExecution().analyzed().toString().lower()
    )
    assert _labels(local) == _labels(dist)


def test_star_cc_random_graphs_property(spark, monkeypatch):
    """Property: on ANY graph, both paths of the operator — the
    union-find finish and the forced distributed alternation — equal a
    driver-side union-find ground truth. Hypothesis drives random edge
    lists; the truth is pure Python, so a disagreement pinpoints which
    path broke."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge = st.tuples(
        st.integers(min_value=0, max_value=25),
        st.integers(min_value=0, max_value=25),
    ).filter(lambda e: e[0] != e[1])

    @settings(
        max_examples=5, deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(edge, min_size=1, max_size=25))
    def check(edges):
        truth = _union_find_truth(edges)
        df = spark.createDataFrame(edges, "src long, dst long")
        local, dist = _both_paths(monkeypatch, df)
        assert local == truth
        assert dist == truth

    check()


def test_star_cc_local_finish_preserves_huge_int64_ids(spark):
    """Regression: vertex ids above 2^53 must survive the single-task
    finish exactly — a pandas float64 inference anywhere in the Arrow
    path would silently round them (xxhash64-derived ids live up there).
    Verified against a driver-side union-find ground truth."""
    base = 2**62
    # two components with adjacent huge ids that float64 would collapse
    edges = [
        (base + 1, base + 2),
        (base + 2, base + 3),
        (base + 10_001, base + 10_002),
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _labels(connected_components(df))
    assert got == {
        base + 1: base + 1,
        base + 2: base + 1,
        base + 3: base + 1,
        base + 10_001: base + 10_001,
        base + 10_002: base + 10_001,
    }
    assert got == _union_find_truth(edges)


def test_graph_operators_empty_edge_inputs(spark, monkeypatch):
    """Edge-input contract of both graph operators on both of their
    paths: an edge list with no partitions at all (``emptyRDD``), one
    that AQE finds empty only at run time (a shuffled, filtered-to-
    nothing distinct), and — for connected components — one made only of
    self-loops. Each yields an empty result, and ``kcore_peel`` reports
    0 rounds."""
    from pyspark.sql import functions as F

    from fitness_nutrition_data_pipeline_spark.operators.kcore import kcore_peel

    schema = "src long, dst long"
    no_partitions = spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    assert no_partitions.rdd.getNumPartitions() == 0
    aqe_emptied = (
        spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], schema)
        .repartition(3)
        .where(F.col("src") < 0)
        .distinct()
    )
    self_loops = spark.createDataFrame([(1, 1), (2, 2), (7, 7)], schema)

    for bound in (components.ONE_TASK_ROWS, 0):
        with monkeypatch.context() as m:
            m.setattr(components, "ONE_TASK_ROWS", bound)
            for name, edges in (
                ("no_partitions", no_partitions),
                ("aqe_emptied", aqe_emptied),
                ("self_loops", self_loops),
            ):
                assert connected_components(edges).collect() == [], (bound, name)
            for name, edges in (
                ("no_partitions", no_partitions),
                ("aqe_emptied", aqe_emptied),
            ):
                core, rounds = kcore_peel(edges, 2)
                assert core.collect() == [], (bound, name)
                assert rounds == 0, (bound, name)
