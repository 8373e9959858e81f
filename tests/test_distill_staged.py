"""Staged-for-r18 distillation-pair miner (queries/serving_ops.py::
distillation_pair_mining): the exact driver-gate compare at two scale
factors, plus the mining invariants — positives and negatives are
disjoint, margins are non-negative (positives outrank negatives under
the teacher ordering by construction), and the per-query pair budget is
the bounded _POS_K x _NEG_K funnel output.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries.serving_ops import (  # noqa: E402
    _DISTILL_ORACLE,
    _N_QUERIES,
    _NEG_K,
    _POS_K,
    distillation_pair_mining,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_distillation_pairs_match_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_DISTILL_ORACLE))
    s_cols, s_rows = fetch_spark(distillation_pair_mining(spark, sf_dir))
    assert len(s_rows) == len(o_rows) > 0
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"

    rows = [dict(zip(s_cols, r)) for r in s_rows]
    # the teacher's positives strictly outrank its negatives, so every
    # mined margin is non-negative
    assert all(d["margin"] >= 0 for d in rows)
    # a doc is never both a positive and a negative for the same query
    for d in rows:
        assert d["pos_doc"] != d["neg_doc"]
    pos_by_q: dict[int, set] = {}
    neg_by_q: dict[int, set] = {}
    for d in rows:
        pos_by_q.setdefault(d["q_id"], set()).add(d["pos_doc"])
        neg_by_q.setdefault(d["q_id"], set()).add(d["neg_doc"])
    for q in pos_by_q:
        assert not (pos_by_q[q] & neg_by_q[q])
        # bounded funnel output: at most POS_K x NEG_K pairs per query
        assert len(pos_by_q[q]) <= _POS_K
        assert len(neg_by_q[q]) <= _NEG_K
    assert len(rows) <= _N_QUERIES * _POS_K * _NEG_K
