"""Staged-for-r18 IVF-PQ entry (queries/llm_ops.py::
ivfpq_recall_contract): the exact driver-gate compare at two scale
factors, plus the composition's reason to exist — n_scored strictly
under the PQ-only rung's corpus-wide scan (partition pruning composes
with the compressed scan) while recall stays non-vacuous.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (  # noqa: E402
    _IVFPQ_ORACLE,
    ivfpq_recall_contract,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ivfpq_recall_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_IVFPQ_ORACLE))
    s_cols, s_rows = fetch_spark(ivfpq_recall_contract(spark, sf_dir))
    assert len(s_rows) == len(o_rows) == 5
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"

    rows = [dict(zip(s_cols, r)) for r in s_rows]
    # the composition must find SOMETHING...
    assert sum(d["n_overlap"] for d in rows) > 0
    n = 500
    for d in rows:
        # ...while scanning STRICTLY less than the PQ-only rung's
        # corpus-wide n-1 (the pruning knob demonstrably engaged) and
        # more than nothing (probed partitions are non-empty)
        assert 0 < d["n_scored"] < n - 1
        assert 0 <= d["n_overlap"] <= 3
