"""Closed-form statistics of the registered queries, engine-free:
half-life weights, skyline, EMD, Poisson thresholds, weighted median,
time-weighted averages, Shapley attribution, interval union, hazard
curves, autocorrelation, CDF quintiles and quantile-sketch merges.

The oracle gate proves Spark == DuckDB; these prove each shared integer
formula == its definition or a brute-force simulation, so a bug both
engines implement identically still gets caught. Pure Python +
hypothesis — no SparkSession.
"""

from __future__ import annotations

import math
from collections import Counter
from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st


# ---- halflife quantization: integer product floor matches Fraction math


@settings(max_examples=200, deadline=None)
@given(st.integers(0, 10**9), st.integers(0, 10**6))
def test_halflife_weight_floor(v_ppm, decay_ppm):
    w = v_ppm * decay_ppm // 10**9
    assert w == math.floor(Fraction(v_ppm * decay_ppm, 10**9))
    assert 0 <= w <= v_ppm * decay_ppm


# ---- pareto frontier: running-max rule == dominance definition


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 15)),
        min_size=1,
        max_size=60,
    )
)
def test_skyline_running_max_equals_dominance(points_raw):
    pts = sorted(set(points_raw))
    # dominance definition: minimize price (first), maximize size (second)
    def dominated(p):
        return any(
            b[0] <= p[0] and b[1] >= p[1] and (b[0] < p[0] or b[1] > p[1])
            for b in pts
        )

    want = {p for p in pts if not dominated(p)}
    # the query's rule: (price asc, size desc) order; on frontier iff
    # size strictly exceeds the running max of all predecessors
    order = sorted(pts, key=lambda p: (p[0], -p[1]))
    got = set()
    run = -1
    for p in order:
        if p[1] > run:
            got.add(p)
            run = p[1]
    assert got == want


# ---- t_closeness EMD: integer common-denominator form == float EMD


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 20), min_size=2, max_size=8),
    st.lists(st.integers(0, 20), min_size=2, max_size=8),
)
def test_emd_integer_form(g_raw, a_extra):
    m = max(len(g_raw), len(a_extra))
    g = g_raw + [0] * (m - len(g_raw))
    extra = a_extra + [0] * (m - len(a_extra))
    a = [gi + ei for gi, ei in zip(g, extra)]  # group ⊆ all
    gtot, atot = sum(g), sum(a)
    if gtot == 0 or atot == 0 or m < 2:
        return
    # float definition: mean |cum(p) - cum(q)| over m-1 prefixes... the
    # standard ordered-EMD uses all m prefixes / (m-1); the query sums
    # ALL buckets' cum gaps (the last is always 0) over (m-1)
    cg = ca = 0
    total = 0
    for gi, ai in zip(g, a):
        cg += gi
        ca += ai
        total += abs(cg * atot - ca * gtot)
    got = Fraction(total, (m - 1) * gtot * atot)
    # brute float
    cgf = caf = 0.0
    tf = 0.0
    for gi, ai in zip(g, a):
        cgf += gi / gtot
        caf += ai / atot
        tf += abs(cgf - caf)
    assert abs(float(got) - tf / (m - 1)) < 1e-9


# ---- poisson bootstrap: ppm thresholds are the exact inverse CDF


def test_poisson_ppm_thresholds():
    e = math.exp(-1)
    cum = 0.0
    want = []
    for k in range(6):
        cum += e / math.factorial(k)
        want.append(round(cum * 1e6))
    assert want == [367879, 735759, 919699, 981012, 996340, 999406]
    # cap loses < 6e-5 of mass
    assert 1e6 - want[-1] < 600


# ---- weighted median: threshold rule == definition


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 50), st.integers(1, 9)),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_threshold_rule(pairs):
    # collapse duplicates like the query's per-price pre-aggregate
    agg: dict[int, int] = {}
    for v, w in pairs:
        agg[v] = agg.get(v, 0) + w
    tw = sum(agg.values())
    cum = 0
    got = None
    for v in sorted(agg):
        cum += agg[v]
        if 2 * cum >= tw and got is None:
            got = v
    # definition of lower weighted median: smallest x with
    # sum(w over values <= x) >= tw/2
    want = min(
        v for v in sorted(agg)
        if sum(w for x, w in agg.items() if x <= v) * 2 >= tw
    )
    assert got == want


# ---- time-in-state: duration weighting == piecewise-constant integral


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 500)),
        min_size=2,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_twa_equals_step_integral(events):
    evs = sorted(events)
    num = den = 0
    for (t0, v), (t1, _) in zip(evs, evs[1:]):
        dt = t1 - t0
        num += v * dt
        den += dt
    if den == 0:
        return
    got = num // den
    # piecewise-constant integral of the step function / total time
    integral = sum(
        v * (t1 - t0) for (t0, v), (t1, _) in zip(evs, evs[1:])
    )
    assert got == integral // den
    assert min(v for _, v in evs[:-1]) <= got <= max(v for _, v in evs[:-1])


# ---- shapley_attribution_exact: quantized lattice sum == definition


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(1, 30), st.integers(0, 30)),
        min_size=1,
        max_size=20,
    )
)
def test_shapley_lattice_matches_definition(mask_rows):
    # masks: (mask, cnt, conv<=cnt)
    masks: dict[int, tuple[int, int]] = {}
    for m, cnt, cv in mask_rows:
        c0, v0 = masks.get(m, (0, 0))
        masks[m] = (c0 + cnt, v0 + min(cv, cnt))

    def v_ppm(t):
        cnt = sum(c for m, (c, _) in masks.items() if m & t == m)
        cv = sum(v for m, (_, v) in masks.items() if m & t == m)
        return 0 if cnt == 0 else 1000000 * cv // cnt

    w = {0: 6, 1: 2, 2: 2, 3: 6}
    got = {}
    for name, bit in (("view", 1), ("click", 2), ("signup", 4), ("error", 8)):
        s = sum(
            w[bin(t0).count("1")] * (v_ppm(t0 + bit) - v_ppm(t0))
            for t0 in range(16)
            if t0 & bit == 0
        )
        got[name] = s // 24 if s >= 0 else -((-s) // 24)
    # efficiency on the QUANTIZED game holds within the truncation bound:
    # sum of per-channel values ~ v(full) - v(empty), each phi truncated
    total = sum(got.values())
    exact_gap = v_ppm(15) - v_ppm(0)
    assert abs(total - exact_gap) <= 8  # 4 channels x truncation < 2 ppm
    # and each quantized phi is within 1 ppm + quantization of the float
    # Shapley of the quantized value function (same formula over floats)
    for name, bit in (("view", 1), ("click", 2), ("signup", 4), ("error", 8)):
        f = sum(
            w[bin(t0).count("1")] / 24 * (v_ppm(t0 + bit) - v_ppm(t0))
            for t0 in range(16)
            if t0 & bit == 0
        )
        assert abs(got[name] - f) <= 1


# ---- interval_union_coverage: running-max sweep == brute-force union


def _sweep_union(intervals: list[tuple[int, int]]) -> int:
    """The registered formula: sort by (start, idx); covered += max(0,
    e - max(s, prev_max_e))."""
    total = 0
    prev_max_e = None
    for s, e in sorted(intervals):
        lo = s if prev_max_e is None else max(s, prev_max_e)
        total += max(0, e - lo)
        prev_max_e = e if prev_max_e is None else max(prev_max_e, e)
    return total


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 400), min_size=1, max_size=40))
def test_interval_union_sweep_equals_pointwise(starts):
    width = 25
    intervals = [(s, s + width) for s in starts]
    covered_points = set()
    for s, e in intervals:
        covered_points.update(range(s, e))
    assert _sweep_union(intervals) == len(covered_points)


# ---- churn_hazard_curve: suffix-sum at-risk == definition


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 30), min_size=1, max_size=60))
def test_hazard_suffix_sum_equals_definition(tenures):
    from collections import Counter

    deaths = Counter(tenures)
    # registered formula: at_risk(t) = suffix sum of deaths over s >= t
    suffix = {}
    acc = 0
    for t in sorted(deaths, reverse=True):
        acc += deaths[t]
        suffix[t] = acc
    for t, d in deaths.items():
        at_risk_def = sum(1 for x in tenures if x >= t)
        assert suffix[t] == at_risk_def
        hazard_ppm = d * 1000000 // suffix[t]
        assert 0 < hazard_ppm <= 1000000


# ---- acf_daily_revenue: integer identity == definitional ACF


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 1000), min_size=9, max_size=40),
       st.integers(1, 7))
def test_acf_integer_identity_equals_definition(xs, k):
    n = len(xs)
    s = sum(xs)
    sxx = sum(x * x for x in xs)
    sxy = sum(xs[t] * xs[t - k] for t in range(k, n))
    sa = sum(xs[k:])
    sb = sum(xs[: n - k])
    den = n * (n * sxx - s * s)
    if den == 0:  # constant series — both forms undefined
        return
    got = Fraction(n * n * sxy - n * s * (sa + sb) + (n - k) * s * s, den)
    mu = Fraction(s, n)
    want = Fraction(
        sum((Fraction(xs[t]) - mu) * (Fraction(xs[t - k]) - mu)
            for t in range(k, n))
    ) / sum((Fraction(x) - mu) ** 2 for x in xs)
    assert got == want


# ---- equi-depth CDF quintile (rfm_segmentation_histogram): every
# quintile label is 1..5, monotone in the value order, and cell sizes
# stay within one tie-group of n/5


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 50), min_size=1, max_size=200))
def test_cdf_quintile_labels_monotone_and_bounded(vals):
    from collections import Counter

    n = len(vals)
    counts = Counter(vals)
    cum = 0
    labels = {}
    for v in sorted(counts):
        cum += counts[v]
        labels[v] = (5 * cum + n - 1) // n
    ordered = [labels[v] for v in sorted(labels)]
    assert all(1 <= q <= 5 for q in ordered)
    assert ordered == sorted(ordered)  # monotone in value order
    assert ordered[-1] == 5  # the top value always lands in quintile 5
    # tie-free case: exact equi-depth (each quintile within ceil(n/5))
    if len(counts) == n:
        sizes = Counter(labels[v] for v in vals)
        assert max(sizes.values()) <= -(-n // 5) + 1


# ---- quantile_sketch_merge: merge associativity + CDF readoff rank


def _bin(v: float, width: int = 1000) -> int:
    return math.floor(v / width)


def _readoff(merged: dict[int, int], q_pct: int) -> int:
    total = sum(merged.values())
    cum = 0
    for b in sorted(merged):
        cum += merged[b]
        if cum * 100 >= q_pct * total:
            return b
    raise AssertionError("unreachable for q_pct <= 100")


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from("abcde"),
                  st.floats(0, 600000, allow_nan=False)),
        min_size=1,
        max_size=300,
    ),
    st.sampled_from([50, 90, 99]),
)
def test_quantile_merge_equals_direct_and_rank(rows, q_pct):
    """(1) Summing per-source histograms == histogram of the union (the
    associative merge the operator's stage 2 relies on); (2) the CDF
    readoff bin is exactly the bin holding the ceil(q*N/100)-th smallest
    value (the estimator's accuracy-within-bin-width contract)."""
    per_source: dict[str, Counter] = {}
    for src, v in rows:
        per_source.setdefault(src, Counter())[_bin(v)] += 1
    merged: Counter = Counter()
    for c in per_source.values():
        merged.update(c)
    direct = Counter(_bin(v) for _, v in rows)
    assert merged == direct

    values = sorted(v for _, v in rows)
    n = len(values)
    k = -((-q_pct * n) // 100)  # ceil(q*N/100), exact integers
    assert _readoff(dict(merged), q_pct) == _bin(values[k - 1])
