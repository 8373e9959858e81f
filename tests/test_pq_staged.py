"""Staged-for-r18 product-quantization entry (see the STAGED note in
queries/llm_ops.py): the exact driver-gate compare on the
pq_recall_contract pair at two scale factors, plus the invariants that
make PQ the ANN ladder's memory-budget rung — codebook self-encoding is
exact, the compressed index is m code ids per vector, and ADC scans the
whole corpus (its saving is bytes-per-candidate, not candidate count).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (  # noqa: E402
    _PQ_M,
    _PQ_NCODES,
    _PQ_ORACLE,
    pq_recall_contract,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_pq_recall_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_PQ_ORACLE))
    s_cols, s_rows = fetch_spark(pq_recall_contract(spark, sf_dir))
    assert len(s_rows) == len(o_rows) == 5
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"

    rows = [dict(zip(s_cols, r)) for r in s_rows]
    # ADC must find SOMETHING (a recall contract, not a vacuous one)
    assert sum(d["n_overlap"] for d in rows) > 0
    # ADC is exhaustive-but-compressed: every corpus vector except the
    # query itself is scored — the honest cost column
    n = 500
    for d in rows:
        assert d["n_scored"] == n - 1
        assert 0 <= d["n_overlap"] <= 3


def test_pq_codebook_self_encoding_is_exact(spark):
    """A codebook vector's nearest code in every subspace is itself
    (d2 = 0 beats everything, id tie-break can't flip a strict min) —
    the invariant that pins the encoding argmin's orientation."""
    from fitness_nutrition_data_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_subvectors,
    )
    from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sub = pq_subvectors(e, "vec_id", "embedding", m=_PQ_M, sub_dim=8)
    codes = sub.where(F.col("vec_id") < _PQ_NCODES).select(
        F.col("vec_id").alias("code_id"), "j", F.col("sub").alias("cs")
    )
    enc = pq_encode(sub, codes, "vec_id")
    own = enc.where(F.col("vec_id") < _PQ_NCODES)
    assert own.count() == _PQ_NCODES * _PQ_M
    assert own.where(F.col("code_id") != F.col("vec_id")).count() == 0


def test_pq_index_is_m_codes_per_vector(spark):
    """The compressed index is exactly m rows (one small code id per
    subspace) per corpus vector — the 128x memory story."""
    from fitness_nutrition_data_pipeline_spark.operators.similarity import (
        pq_encode,
        pq_subvectors,
    )
    from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = e.count()
    sub = pq_subvectors(e, "vec_id", "embedding", m=_PQ_M, sub_dim=8)
    codes = sub.where(F.col("vec_id") < _PQ_NCODES).select(
        F.col("vec_id").alias("code_id"), "j", F.col("sub").alias("cs")
    )
    enc = pq_encode(sub, codes, "vec_id")
    assert enc.count() == n * _PQ_M
    rng = enc.agg(
        F.min("code_id").alias("lo"), F.max("code_id").alias("hi")
    ).first()
    assert 0 <= rng["lo"] and rng["hi"] < _PQ_NCODES
