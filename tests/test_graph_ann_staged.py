"""Staged-for-r17+ graph-ANN entry (see the STAGED note at the end of
queries/llm_ops.py): the exact driver-gate compare on the
graph_ann_recall_contract pair at two scale factors, plus the ladder
properties the query exists to demonstrate — the walk finds real
neighbors (non-zero aggregate recall) at a candidate cost bounded by
entries × degree^hops, independent of partition size.
"""


from __future__ import annotations

# slow tier (r18): heavy replay/property suite, excluded from the
# default pytest run (see pytest.ini) -- run with -m slow
import pytest

pytestmark = pytest.mark.slow

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (  # noqa: E402
    _GRAPH_ANN_ORACLE,
    _GRAPH_HOPS,
    _GRAPH_K_EDGE,
    _GRAPH_N_ENTRY,
    graph_ann_recall_contract,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_graph_ann_recall_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_GRAPH_ANN_ORACLE))
    s_cols, s_rows = fetch_spark(graph_ann_recall_contract(spark, sf_dir))
    assert len(s_rows) == len(o_rows) == 5
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"

    rows = [dict(zip(s_cols, r)) for r in s_rows]
    # the walk must find SOMETHING (it is a recall contract, not a
    # vacuous one) ...
    assert sum(d["n_overlap"] for d in rows) > 0
    # ... at the bounded cost that is its reason to exist: at most
    # entries * sum(degree^h) nodes regardless of partition size, and
    # strictly under half the 500-vector corpus
    walk_bound = _GRAPH_N_ENTRY * sum(
        _GRAPH_K_EDGE**h for h in range(_GRAPH_HOPS + 1)
    )
    for d in rows:
        assert 0 < d["n_candidates"] <= min(walk_bound, 250)
