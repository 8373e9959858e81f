"""Fixpoint k-core (operators/kcore.py): the loop-until-converged form
of the driver-checked bounded audit (queries/graph_ops.kcore_peel_audit)
must converge on graphs whose peeling depth exceeds the audit's 2-round
unroll, agree with a pure-Python reference peel on seeded random graphs,
and behave identically with parquet round-state vs localCheckpoint.
An engine-free property pins the peel invariants the bounded audit
unrolls."""

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators import components
from fitness_nutrition_data_pipeline_spark.operators.kcore import kcore_peel


def _sym(spark, pairs):
    """Oriented-symmetric edge list from undirected pairs."""
    both = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(sorted(set(both)), "src long, dst long")


def _vertices(df):
    return {r["src"] for r in df.select("src").distinct().collect()}


def _py_kcore(pairs, k):
    """Reference peel: repeatedly drop degree<k vertices. Returns
    (surviving vertex set, rounds that dropped something)."""
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    rounds = 0
    while True:
        drop = {v for v, nb in adj.items() if len(nb) < k}
        if not drop:
            return set(adj), rounds
        rounds += 1
        for v in drop:
            for nb in adj[v]:
                adj[nb].discard(v)
            del adj[v]
        adj = {v: nb for v, nb in adj.items() if True}
        if not adj:
            return set(), rounds


# triangle {1,2,3} is the 2-core; pendant path 7-6-5-4 hangs off vertex 1,
# so the k=2 peel needs FOUR rounds (one pendant endpoint exposes the
# next) — deeper than the audit's bounded 2-round unroll by design
_TRIANGLE_TAIL = [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5), (5, 6), (6, 7)]


def test_converges_past_bounded_unroll(spark):
    core, rounds = kcore_peel(_sym(spark, _TRIANGLE_TAIL), 2)
    assert rounds == 4
    assert _vertices(core) == {1, 2, 3}
    # and the core really is a fixpoint: re-peeling drops nothing
    core2, rounds2 = kcore_peel(core, 2)
    assert rounds2 == 0
    assert _vertices(core2) == {1, 2, 3}


def test_peels_to_empty_and_k1(spark):
    # max degree in the graph is 3 < 4 everywhere after the triangle
    # loses its tail support -> the 4-core is empty
    core, rounds = kcore_peel(_sym(spark, _TRIANGLE_TAIL), 4)
    assert core.isEmpty()
    assert rounds >= 1
    # k=1 on a symmetric edge list with no isolated vertices: no-op
    core1, rounds1 = kcore_peel(_sym(spark, _TRIANGLE_TAIL), 1)
    assert rounds1 == 0
    assert _vertices(core1) == {1, 2, 3, 4, 5, 6, 7}


def test_max_rounds_reproduces_bounded_audit_semantics(spark, monkeypatch):
    # stopping after 1 round must leave the partially-peeled graph —
    # on BOTH the single-task local finish (default at test scale) and
    # the distributed loop (a zeroed one-task bound forces it)
    for bound in (components.ONE_TASK_ROWS, 0):
        monkeypatch.setattr(components, "ONE_TASK_ROWS", bound)
        core, rounds = kcore_peel(_sym(spark, _TRIANGLE_TAIL), 2, max_rounds=1)
        assert rounds == 1, bound
        assert _vertices(core) == {1, 2, 3, 4, 5, 6}, bound  # only 7 dropped


def test_matches_python_reference_on_seeded_graphs(spark, monkeypatch):
    rng = random.Random(20260815)
    for trial in range(3):
        n = 40
        pairs = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(90 + 30 * trial)
            }
        )
        for k in (2, 3):
            want_vertices, want_rounds = _py_kcore(pairs, k)
            core, rounds = kcore_peel(_sym(spark, pairs), k)
            assert _vertices(core) == want_vertices, (trial, k)
            assert rounds == want_rounds, (trial, k)
        # distributed loop (local finish bypassed) must agree too; once
        # per seeded graph keeps the loop covered without tripling the
        # suite time
        want_vertices, want_rounds = _py_kcore(pairs, 2)
        with monkeypatch.context() as m:
            m.setattr(components, "ONE_TASK_ROWS", 0)
            core, rounds = kcore_peel(_sym(spark, pairs), 2)
            assert _vertices(core) == want_vertices, trial
        assert rounds == want_rounds, trial


def test_parquet_round_state_equals_localcheckpoint(
    spark, tmp_path_factory, monkeypatch
):
    import os

    state = str(tmp_path_factory.mktemp("kcore_state"))
    edges = _sym(spark, _TRIANGLE_TAIL)
    core_lc, rounds_lc = kcore_peel(edges, 2)
    core_pq, rounds_pq = kcore_peel(edges, 2, state_dir=state)
    assert rounds_pq == rounds_lc == 4
    assert _vertices(core_pq) == _vertices(core_lc) == {1, 2, 3}
    # default path at test scale is the single-task finish: exactly
    # one durable state (backing the returned DataFrame) remains
    leftover = {d for d in os.listdir(state) if d.startswith("edges_")}
    assert leftover == {"edges_local_r0"}, leftover
    assert core_pq.count() == 6  # 3 undirected edges, both orientations

    # distributed loop (one-task bound zeroed): the per-round state
    # contract — readable after cleanup, only the final round's edge
    # state (at most plus the previous round's) remains
    state2 = str(tmp_path_factory.mktemp("kcore_state_dist"))
    monkeypatch.setattr(components, "ONE_TASK_ROWS", 0)
    core_d, rounds_d = kcore_peel(edges, 2, state_dir=state2)
    assert rounds_d == 4
    assert _vertices(core_d) == {1, 2, 3}
    leftover2 = {d for d in os.listdir(state2) if d.startswith("edges_")}
    assert "edges_r4" in leftover2
    assert len(leftover2) <= 2
    assert core_d.count() == 6


def test_round_state_cleanup(spark, tmp_path, monkeypatch):
    """ADVICE r10: stale round-state must not accumulate. After a
    converged peel only the final round's edge state remains (it backs
    the returned DataFrame). Cleanup goes through the Hadoop FS API, the
    same resolution the writer used."""
    import os

    sd = str(tmp_path / "peel_state")
    # distributed loop (one-task bound zeroed): the per-round cleanup
    # contract
    with monkeypatch.context() as m:
        m.setattr(components, "ONE_TASK_ROWS", 0)
        core, rounds = kcore_peel(_sym(spark, _TRIANGLE_TAIL), 2, state_dir=sd)
        assert rounds == 4
        assert _vertices(core) == {1, 2, 3}
    leftover = sorted(os.listdir(sd))
    assert leftover == [f"edges_r{rounds}"], leftover

    sd_local = str(tmp_path / "peel_state_local")
    # default path (local finish): the round-0 pin is superseded by
    # the local-finish state and must be cleaned up
    core_l, rounds_l = kcore_peel(_sym(spark, _TRIANGLE_TAIL), 2, state_dir=sd_local)
    assert rounds_l == 4 and _vertices(core_l) == {1, 2, 3}
    assert sorted(os.listdir(sd_local)) == ["edges_local_r0"]


def test_local_peel_preserves_huge_int64_ids(spark):
    """Regression (r18 review): the single-task peel must not route ids
    above 2^53 through float64 (the old None-marker-in-int-column frame
    made pandas infer float64 and corrupted them); the marker now rides
    a separate all-null frame and edges keep their exact dtype."""
    base = 2**62
    tri = [(base + 1, base + 2), (base + 2, base + 3), (base + 1, base + 3),
           (base + 1, base + 4)]
    core, rounds = kcore_peel(_sym(spark, tri), 2)
    assert rounds == 1
    assert _vertices(core) == {base + 1, base + 2, base + 3}


# ---- kcore_peel_audit: peel invariants


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=80,
    )
)
def test_kcore_peel_monotone_and_fixpoint_consistent(raw):
    """Two peel rounds (k=3) over a symmetrized simple graph: vertex
    and edge counts shrink monotonically, every surviving round-2
    vertex had round-1 degree >= k, and a round that removes nothing
    is a fixpoint (round 2 == round 1)."""
    k = 3
    edges = {(a, b) for a, b in raw if a != b}
    edges |= {(b, a) for a, b in edges}

    def degrees(es):
        d = {}
        for a, _ in es:
            d[a] = d.get(a, 0) + 1
        return d

    traces = []
    es = edges
    for _ in range(3):
        d = degrees(es)
        traces.append((len(d), sum(d.values())))
        keep = {v for v, deg in d.items() if deg >= k}
        es = {(a, b) for a, b in es if a in keep and b in keep}
    (v0, e0), (v1, e1), (v2, e2) = traces
    assert v0 >= v1 >= v2 and e0 >= e1 >= e2
    if (v1, e1) == (v0, e0):  # nothing removed -> fixpoint
        assert (v2, e2) == (v1, e1)
