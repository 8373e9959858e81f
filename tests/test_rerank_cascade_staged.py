"""Staged-for-r17 serving-cascade entry (see the STAGED note at the end
of queries/serving_ops.py): the exact driver-gate compare on the
rerank_cascade_eval pair at two scale factors, plus the funnel
invariants that make it a cascade rather than three independent
rankers: per-stage candidate costs are exactly the configured cutoffs
whenever enough lexical candidates exist, and every stage's top-10
hits are bounded by the candidates it was given.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries.serving_ops import (  # noqa: E402
    _L1_K,
    _L2_K,
    _RERANK_CASCADE_ORACLE,
    rerank_cascade_eval,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_rerank_cascade_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_RERANK_CASCADE_ORACLE))
    s_cols, s_rows = fetch_spark(rerank_cascade_eval(spark, sf_dir))
    assert len(s_rows) == len(o_rows) == 5  # one row per query anchor
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"
    for row in s_rows:
        d = dict(zip(s_cols, row))
        # funnel costs: stage 2 scores at most _L1_K, stage 3 at most
        # _L2_K — and never more than the stage above admitted
        assert 0 < d["n_bi_scored"] <= _L1_K
        assert 0 < d["n_cross_scored"] <= min(_L2_K, d["n_bi_scored"])
        # ppm precision@10 values are multiples of one hit (100000)
        for c in ("prec10_lex_ppm", "prec10_bi_ppm", "prec10_cross_ppm"):
            assert d[c] % 100000 == 0 and 0 <= d[c] <= 1000000
        # lifts are consistent with the stage precisions they compare
        assert d["lift_bi_ppm"] == d["prec10_bi_ppm"] - d["prec10_lex_ppm"]
        assert (
            d["lift_cross_ppm"]
            == d["prec10_cross_ppm"] - d["prec10_bi_ppm"]
        )
