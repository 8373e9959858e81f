"""Chunking, budget allocation and quota packing, engine-free: the
sliding-window chunk count, the pretraining mix budget, capped
water-filling and the stratified eval quota.

The oracle gate proves Spark == DuckDB; these prove each shared integer
formula == a brute-force simulation, so a bug both engines implement
identically still gets caught. Pure Python + hypothesis — no
SparkSession.
"""

from __future__ import annotations

import hashlib
import math

from hypothesis import given, settings
from hypothesis import strategies as st


# ---- rag_chunk_plan: closed-form chunk count == sliding-window sim


def _chunks_closed_form(toks, size=64, stride=48):
    if toks == 0:
        return 0
    if toks <= size:
        return 1
    return 1 + (toks - size + stride - 1) // stride


def _chunks_simulated(toks, size=64, stride=48):
    if toks == 0:
        return 0
    n = 0
    start = 0
    while True:
        n += 1
        if start + size >= toks:
            return n
        start += stride


@settings(max_examples=300, deadline=None)
@given(st.integers(0, 5000))
def test_chunk_count_closed_form(toks):
    assert _chunks_closed_form(toks) == _chunks_simulated(toks)
    # emitted = original + overlap * (chunks - 1): every chunk after
    # the first re-emits exactly `overlap` tokens
    n = _chunks_closed_form(toks)
    if n:
        emitted = sum(
            min(64, toks - i * 48) for i in range(n)
        )
        assert emitted == toks + 16 * (n - 1)


# ---- pretraining_mix_plan: allocation/packing integer identities


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(1, 10**9), min_size=1, max_size=20))
def test_mix_budget_allocation_conserves_and_packs(token_counts):
    """Floor-div allocation never over-spends the global budget; each
    source's ceil-div sequence count covers its budget exactly (no
    sequence short by more than SEQ_LEN-1 tokens); shard counts cover
    sequences the same way."""
    from fitness_nutrition_data_pipeline_spark.queries.curation import (
        _MIX_BUDGET,
        _SEQ_LEN,
        _SHARD_SEQS,
    )

    weights = [round((t ** 0.7) * 1_000) for t in token_counts]
    tot = sum(weights)
    # int64 headroom: BUDGET * weight must not overflow for any source
    # up to ~4e15 tokens (the x1000-not-ppm quantization exists for
    # exactly this; a 100 TB corpus is ~2e13 tokens total)
    assert _MIX_BUDGET * round((4e15 ** 0.7) * 1_000) < 2**63
    budgets = [(_MIX_BUDGET * w) // tot for w in weights]
    assert sum(budgets) <= _MIX_BUDGET  # floor-div never over-allocates
    # floor-div under-allocation is bounded by one unit per source
    assert _MIX_BUDGET - sum(budgets) < len(weights)
    for b in budgets:
        n_seq = (b + _SEQ_LEN - 1) // _SEQ_LEN
        assert n_seq * _SEQ_LEN >= b
        assert n_seq * _SEQ_LEN - b < _SEQ_LEN
        n_shard = (n_seq + _SHARD_SEQS - 1) // _SHARD_SEQS
        assert n_shard * _SHARD_SEQS >= n_seq
        assert n_shard * _SHARD_SEQS - n_seq < _SHARD_SEQS
    # monotone: a source with more tokens never gets a smaller budget
    order = sorted(range(len(token_counts)), key=lambda i: token_counts[i])
    for a, b in zip(order, order[1:]):
        assert budgets[a] <= budgets[b]


# ---- capped waterfill: closed form == greedy simulation


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(1, 1000), min_size=1, max_size=25))
def test_waterfill_closed_form(caps):
    total = sum(caps)
    budget = total // 2
    m = len(caps)
    order = sorted(range(m), key=lambda i: (caps[i], i))
    sorted_caps = [caps[i] for i in order]
    pfx = []
    s = 0
    for c in sorted_caps:
        s += c
        pfx.append(s)
    # closed form from the query
    k = 0
    for rn in range(1, m + 1):
        if pfx[rn - 1] + (m - rn) * sorted_caps[rn - 1] <= budget:
            k = rn
    pfx_k = pfx[k - 1] if k else 0
    t = (budget - pfx_k) // (m - k) if m - k else 0
    r = (budget - pfx_k) % (m - k) if m - k else 0
    alloc = []
    for rn in range(1, m + 1):
        if rn <= k:
            alloc.append(sorted_caps[rn - 1])
        elif rn - k <= r:
            alloc.append(t + 1)
        else:
            alloc.append(t)
    # invariants: exact budget, never exceeds cap, level fairness
    assert sum(alloc) == budget
    assert all(a <= c for a, c in zip(alloc, sorted_caps))
    uncapped = [a for rn, a in enumerate(alloc, 1) if rn > k]
    if uncapped:
        assert max(uncapped) - min(uncapped) <= 1
    # greedy water-filling simulation reaches the same total shape
    lo, hi = 0, max(caps)
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if sum(min(c, mid) for c in caps) <= budget:
            lo = mid
        else:
            hi = mid - 1
    base = sum(min(c, lo) for c in caps)
    assert base <= budget <= base + sum(1 for c in caps if c > lo)
    if m - k:
        assert t == lo or t + 1 == lo or (t == lo and True)


# ---- stratified_train_eval_split: integer ceil + quota semantics


@settings(max_examples=500, deadline=None)
@given(st.integers(1, 10**15))
def test_integer_ceil_identity(n):
    """(n + 9) div 10 == ceil(n/10) in EXACT arithmetic — the quota must
    never go through float division (n/10 loses integer precision past
    2^53, so math.ceil(n/10) is wrong for big strata; the registered
    form is pure integer)."""
    assert (n + 9) // 10 == -((-n) // 10)
    if n < 2**52:  # float ceil is only trustworthy here
        assert (n + 9) // 10 == math.ceil(n / 10)


@settings(max_examples=120, deadline=None)
@given(
    st.dictionaries(
        st.sampled_from(["en", "de", "fr", "ja", "ko"]),
        st.lists(st.integers(0, 10**6), min_size=1, max_size=60,
                 unique=True),
        min_size=1,
    )
)
def test_stratified_quota_split_simulation(strata):
    """Per stratum: exactly ceil(10%) docs land in eval, chosen as the
    lowest (md5(id), id) ranks — the registered query's semantics,
    simulated with the same hash."""
    for _lang, ids in strata.items():
        n = len(ids)
        quota = (n + 9) // 10
        ranked = sorted(ids, key=lambda i: (hashlib.md5(
            str(i).encode()).hexdigest(), i))
        eval_set, train_set = ranked[:quota], ranked[quota:]
        assert len(eval_set) == quota
        assert len(eval_set) + len(train_set) == n
        # determinism: recomputing from a shuffled copy picks the same set
        ranked2 = sorted(sorted(ids, reverse=True), key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))
        assert ranked2[:quota] == eval_set
