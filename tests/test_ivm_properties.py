"""Incremental maintenance algebra, engine-free: delta-applied aggregates,
the signed streaming fold and scoped partition restatement must each
equal a full recompute.

The oracle gate proves Spark == DuckDB; these prove the shared algebra
== a brute-force recompute, so a bug both engines implement identically
still gets caught. Pure Python + hypothesis — no SparkSession.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


# ---- incremental_agg_maintenance: delta algebra == recompute


@settings(max_examples=200, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 30),
        st.tuples(st.sampled_from("abc"), st.integers(-100, 100)),
        max_size=20,
    ),
    st.dictionaries(
        st.integers(0, 40),
        st.tuples(
            st.sampled_from("abc"),
            st.integers(-100, 100),
            st.sampled_from(["U", "D"]),
        ),
        max_size=20,
    ),
)
def test_ivm_equals_recompute(base, delta):
    # recompute lane
    merged = dict(base)
    for k, (g, v, op) in delta.items():
        if op == "D":
            merged.pop(k, None)
        else:
            merged[k] = (g, v)
    want: dict[str, list[int]] = {}
    for g, v in merged.values():
        c = want.setdefault(g, [0, 0])
        c[0] += 1
        c[1] += v
    # incremental lane: prior agg + retract/insert effects
    got: dict[str, list[int]] = {}
    for g, v in base.values():
        c = got.setdefault(g, [0, 0])
        c[0] += 1
        c[1] += v
    for k, (g, v, op) in delta.items():
        if k in base:
            og, ov = base[k]
            c = got.setdefault(og, [0, 0])
            c[0] -= 1
            c[1] -= ov
        if op != "D":
            c = got.setdefault(g, [0, 0])
            c[0] += 1
            c[1] += v
    got = {g: c for g, c in got.items() if c[0] > 0}
    want = {g: c for g, c in want.items() if c[0] > 0}
    assert got == want


# ---- streaming/ivm.py: the signed fold is wave-partition invariant


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from("abcd"),
            st.integers(-50, 50),
            st.sampled_from(["I", "R"]),
        ),
        max_size=30,
    ),
    st.lists(st.integers(0, 3), min_size=30, max_size=30),
)
def test_ivm_fold_wave_partition_invariant(events, wave_of):
    """Assigning each event to ANY of 4 micro-batches (in any order of
    waves) yields the same final state as a one-shot aggregate — the
    merge algebra is a commutative monoid fold, including negative
    intermediates (a retraction can precede its insert)."""

    def effects(batch):
        out: dict[str, list[int]] = {}
        for k, v, op in batch:
            sign = -1 if op == "R" else 1
            c = out.setdefault(k, [0, 0])
            c[0] += sign
            c[1] += sign * v
        return out

    def merge(state, eff):
        for k, (dn, dv) in eff.items():
            c = state.setdefault(k, [0, 0])
            c[0] += dn
            c[1] += dv
        return {k: c for k, c in state.items() if c[0] != 0 or c[1] != 0}

    waves: list[list] = [[], [], [], []]
    for ev, w in zip(events, wave_of):
        waves[w].append(ev)
    state: dict[str, list[int]] = {}
    for w in waves:
        state = merge(state, effects(w))
    oneshot = merge({}, effects(events))
    assert state == oneshot


# ---- partition_restatement_audit: scoped recompute == full recompute


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 100), st.booleans()),
        min_size=1,
        max_size=60,
    )
)
def test_partition_restatement_equals_full_recompute(rows):
    """(day, value, is_late) rows: recomputing ONLY late-touched days
    from full rows and keeping nightly aggregates elsewhere must equal
    the full per-day recompute — for ANY late/on-time split."""
    from collections import defaultdict

    full = defaultdict(lambda: [0, 0])
    nightly = defaultdict(lambda: [0, 0])
    affected = set()
    for day, v, late in rows:
        full[day][0] += 1
        full[day][1] += v
        if late:
            affected.add(day)
        else:
            nightly[day][0] += 1
            nightly[day][1] += v
    restated = {
        d: agg for d, agg in nightly.items() if d not in affected
    }
    for d in affected:
        restated[d] = full[d]
    assert restated == dict(full)
