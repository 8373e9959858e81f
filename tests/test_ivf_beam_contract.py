"""The registered ANN beam query (queries/llm_ops.py): the exact
driver-gate compare on the ivf_beam_recall_contract pair, plus the ladder property the query
exists to demonstrate — beam recall (nprobe=3) dominates single-probe
recall (ann_recall_contract) at a measured candidate cost.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (  # noqa: E402
    _IVF_BEAM_ORACLE,
    ivf_beam_recall_contract,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_ivf_beam_recall_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_IVF_BEAM_ORACLE))
    sdf = ivf_beam_recall_contract(spark, sf_dir)
    s_cols, s_rows = fetch_spark(sdf)
    assert len(s_rows) == len(o_rows) > 0
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"


def test_beam_dominates_single_probe(spark):
    """nprobe=3 recall must be >= nprobe=1 recall on every query (the
    beam's candidate set is a superset when the single probe is among
    the top-3 probes — which it is by construction, both rank the same
    rounded centroid similarities) and strictly better in aggregate on
    this data; candidate cost stays a bounded fraction of the corpus."""
    from fitness_nutrition_data_pipeline_spark.queries import all_specs

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    single = {
        r["q_id"]: r["recall_at_3"]
        for r in all_specs()["ann_recall_contract"]
        .builder(spark, sf_dir)
        .collect()
    }
    beam_rows = ivf_beam_recall_contract(spark, sf_dir).collect()
    beam = {r["q_id"]: r["recall_at_3"] for r in beam_rows}
    assert set(beam) == set(single)
    assert all(beam[q] >= single[q] for q in beam)
    assert sum(beam.values()) > sum(single.values())
    # nprobe=3 of 10 centroids: candidates stay well under half the corpus
    assert all(r["n_candidates"] < 250 for r in beam_rows)
