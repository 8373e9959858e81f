"""Ranking and evaluation metrics of the registered queries, engine-free:
AUC, reciprocal-rank fusion, precision/recall/MRR, Jaccard, nDCG, pass@k,
majority vote and Fleiss' kappa.

The oracle gate proves Spark == DuckDB; these prove each shared integer
formula == its textbook definition or a brute-force simulation, so a bug
both engines implement identically (the one failure mode the cross-engine
hash can't see) still gets caught. Pure Python + hypothesis — no
SparkSession.
"""

from __future__ import annotations

import math
from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st


# ---- auc_exact_rank: histogram x2 rank formula == naive pairwise AUC


def _auc_formula(pairs):
    """The queries/eval_ops.py integer formula over (score, label)."""
    hist: dict[int, list[int]] = {}
    for s, y in pairs:
        c = hist.setdefault(s, [0, 0])
        c[0] += 1
        c[1] += y
    before = 0
    num2 = 0
    n_pos = n_neg = 0
    for s in sorted(hist):
        cnt, cnt_pos = hist[s]
        num2 += cnt_pos * (2 * before + cnt + 1)
        n_pos += cnt_pos
        n_neg += cnt - cnt_pos
        before += cnt
    if n_pos == 0 or n_neg == 0:
        return None
    return Fraction(num2 - n_pos * (n_pos + 1), 2 * n_pos * n_neg)


def _auc_naive(pairs):
    """P(score_pos > score_neg) + 0.5 * P(tie), counted pairwise."""
    pos = [s for s, y in pairs if y == 1]
    neg = [s for s, y in pairs if y == 0]
    if not pos or not neg:
        return None
    num = Fraction(0)
    for p in pos:
        for n in neg:
            if p > n:
                num += 1
            elif p == n:
                num += Fraction(1, 2)
    return num / (len(pos) * len(neg))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 1)),
        min_size=2,
        max_size=60,
    )
)
def test_auc_rank_formula_equals_pairwise(pairs):
    assert _auc_formula(pairs) == _auc_naive(pairs)


# ---- hybrid_retrieval_eval: RRF fusion order == exact rational order


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(0, 1), min_size=1, max_size=40),
    st.randoms(use_true_random=False),
)
def test_rrf_fusion_double_order_matches_rational(rels, rnd):
    """The fused score 1/(60+sem) + 1/(60+lex) is compared as a double
    in both engines; with ranks <= ~1e6 the double total order must
    equal the exact Fraction order (no two distinct rational scores
    collapse to the same double in opposite order)."""
    n = len(rels)
    sem = list(range(1, n + 1))
    rnd.shuffle(sem)
    # lexical rank present for a subset only (union-fusion semantics)
    lex_pool = list(range(1, n + 1))
    rnd.shuffle(lex_pool)
    lex = [r if rnd.random() < 0.7 else None for r in lex_pool]
    as_double = [
        1.0 / (60 + s) + (1.0 / (60 + l) if l is not None else 0.0)
        for s, l in zip(sem, lex)
    ]
    as_frac = [
        Fraction(1, 60 + s) + (Fraction(1, 60 + l) if l is not None else 0)
        for s, l in zip(sem, lex)
    ]
    # tiebreak by doc index, exactly like the query's ", doc_id"
    order_d = sorted(range(n), key=lambda i: (-as_double[i], i))
    order_f = sorted(range(n), key=lambda i: (-as_frac[i], i))
    # doubles may tie where fractions differ ONLY if the double compare
    # still yields the same sorted order — assert full order equality
    assert order_d == order_f


# ---- retrieval metrics: ppm integer forms == Fraction definitions


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 1), min_size=1, max_size=50))
def test_precision_recall_mrr_ppm_identities(rel_at_rank):
    k = 10
    topk = rel_at_rank[:k]
    hits = sum(topk)
    n_rel_total = sum(rel_at_rank) or 1  # query guaranteed >=0 rel; guard
    prec_ppm = hits * 1_000_000 // k
    rec_ppm = hits * 1_000_000 // n_rel_total
    assert prec_ppm == int(Fraction(hits, k) * 1_000_000)
    assert rec_ppm == int(Fraction(hits, n_rel_total) * 1_000_000)
    best = next((i + 1 for i, r in enumerate(topk) if r == 1), None)
    mrr_ppm = 1_000_000 // best if best else 0
    if best:
        assert mrr_ppm == int(Fraction(1_000_000, best))
        assert 100_000 <= mrr_ppm <= 1_000_000  # best in 1..10
    else:
        assert hits == 0


# ---- lexical retriever: integer Jaccard ppm == Fraction floor, bounded


@settings(max_examples=300, deadline=None)
@given(st.sets(st.integers(0, 40)), st.sets(st.integers(0, 40)))
def test_jaccard_ppm_floor_and_bounds(a, b):
    if not a or not b:
        return
    overlap = len(a & b)
    union = len(a) + len(b) - overlap
    ppm = overlap * 1_000_000 // union
    assert ppm == int(Fraction(overlap, union) * 1_000_000)
    assert 0 <= ppm <= 1_000_000
    assert (ppm == 1_000_000) == (a == b)


# ---- ndcg_fused_eval: integer-weight NDCG == float-definition NDCG


def test_ndcg_weight_table_matches_definition():
    import math

    from fitness_nutrition_data_pipeline_spark.queries.serving_ops import (
        _EVAL_K,
        _NDCG_CUM,
        _NDCG_W,
    )

    assert len(_NDCG_W) == _EVAL_K and _NDCG_W[0] == 1_000_000
    for i, w in enumerate(_NDCG_W, start=1):
        assert w == round(1_000_000 / math.log2(i + 1))
    # strictly decreasing discounts; cumsum table is their prefix sums
    assert list(_NDCG_W) == sorted(_NDCG_W, reverse=True)
    assert _NDCG_CUM == tuple(
        sum(_NDCG_W[: k + 1]) for k in range(_EVAL_K)
    )


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 1), min_size=1, max_size=50))
def test_ndcg_ppm_tracks_float_ndcg(rel_at_rank):
    """dcg*1e6 div idcg over the rounded integer weights must stay
    within 10 ppm of the textbook float NDCG (binary gains): the
    quantization error of round(1e6/log2) weights is ~1e-6 relative,
    so the integer metric is the float metric for any consumer."""
    import math

    from fitness_nutrition_data_pipeline_spark.queries.serving_ops import (
        _EVAL_K,
        _NDCG_CUM,
        _NDCG_W,
    )

    k = _EVAL_K
    topk = rel_at_rank[:k]
    n_rel = sum(rel_at_rank)
    dcg_w = sum(w for w, r in zip(_NDCG_W, topk) if r)
    idcg_w = _NDCG_CUM[min(n_rel, k) - 1] if n_rel else 0
    ndcg_ppm = (dcg_w * 1_000_000) // idcg_w if idcg_w else 0

    dcg_f = sum(
        r / math.log2(i + 2) for i, r in enumerate(topk)
    )
    idcg_f = sum(1 / math.log2(i + 2) for i in range(min(n_rel, k)))
    ndcg_f = dcg_f / idcg_f if idcg_f else 0.0
    assert abs(ndcg_ppm - ndcg_f * 1_000_000) <= 10
    assert 0 <= ndcg_ppm <= 1_000_000


# ---- passk_estimator: falling-factorial form == binomial definition


@settings(max_examples=300, deadline=None)
@given(st.integers(3, 12), st.integers(0, 12))
def test_passk_falling_factorial_equals_binomial(n, c_raw):
    c = min(c_raw, n)
    m = n - c
    # registered formula (k=3): (n(n-1)(n-2) - m(m-1)(m-2)) / n(n-1)(n-2)
    num = n * (n - 1) * (n - 2) - m * (m - 1) * (m - 2)
    den = n * (n - 1) * (n - 2)
    got_ppm = 1000000 * num // den
    want = 1 - Fraction(math.comb(m, 3), math.comb(n, 3))
    want_ppm = (1000000 * want.numerator) // want.denominator
    assert got_ppm == want_ppm


# ---- majority_vote_accuracy: plurality with smallest-answer tie-break


@settings(max_examples=300, deadline=None)
@given(st.lists(st.integers(0, 4), min_size=1, max_size=15))
def test_majority_vote_tiebreak(answers):
    counts: dict[int, int] = {}
    for a in answers:
        counts[a] = counts.get(a, 0) + 1
    # the query's ORDER BY c DESC, ans + rn=1
    by_rule = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    best = max(counts.values())
    assert counts[by_rule] == best
    assert by_rule == min(a for a, c in counts.items() if c == best)


# ---- fleiss_kappa_raters: integer reduction == float definition


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5), st.integers(0, 5)),
        min_size=2,
        max_size=40,
    )
)
def test_fleiss_kappa_integer_reduction(cells_raw):
    # normalize each item's 3-category counts to sum to n=5
    items = []
    for a, b, c in cells_raw:
        tot = a + b + c
        if tot == 0:
            a = 5
            tot = 5
        # scale to 5 raters by greedy rounding
        sa = a * 5 // tot
        sb = b * 5 // tot
        sc = 5 - sa - sb
        if sc < 0:
            sb += sc
            sc = 0
        items.append((sa, sb, sc))
    n = 5
    N = len(items)
    sq = sum(x * x for row in items for x in row)
    cj = [sum(row[j] for row in items) for j in range(3)]
    c2 = sum(c * c for c in cj)
    if 25 * N * N == c2:  # degenerate: all mass in one category
        return
    # float definition
    p_i = [(sum(x * x for x in row) - n) / (n * (n - 1)) for row in items]
    pbar = sum(p_i) / N
    pe = sum((c / (N * n)) ** 2 for c in cj)
    kappa = (pbar - pe) / (1 - pe)
    # integer reduction from the query: X/(4Y)
    X = 5 * (sq - 5 * N) * N - 4 * c2
    Y = 25 * N * N - c2
    got = Fraction(X, 4 * Y)
    assert abs(float(got) - kappa) < 1e-9
