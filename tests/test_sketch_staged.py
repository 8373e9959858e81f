"""Sketch entries (see the note in queries/sketch_ops.py): the EXACT
oracle compare — Spark builder vs DuckDB oracle, pandas-lane fetch,
column-sorted value normalization — on the pair at two scale factors.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries.sketch_ops import (  # noqa: E402
    _HLL_ORACLE,
    hll_union_contract,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_hll_union_contract_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_HLL_ORACLE))
    s_cols, s_rows = fetch_spark(hll_union_contract(spark, sf_dir))
    assert len(s_rows) == len(o_rows) == 3  # two base sets + merged
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], (
        "value hash lanes diverged: the register-max merge (Spark) and "
        "the rehash-union (oracle) must meet bit-for-bit"
    )
    # the sketch must also be USEFUL: sub-10% error at these SFs with
    # m=256 (theoretical ~1.04/sqrt(256) = 6.5% std err)
    for row in s_rows:
        d = dict(zip(s_cols, row))
        assert d["rel_err"] < 0.10, f"{d['set_name']}: rel_err {d['rel_err']}"
        assert d["n_exact"] > 0
