"""The registered streaming-dedup bridge replay, lsh_dedup_batch_replay
(queries/llm_ops.py): the exact driver-gate compare — Spark
builder vs DuckDB oracle, pandas-lane fetch, column-sorted value
normalization — on the lsh_dedup_batch_replay pair at two scale
factors, plus the one structural property the replay exists to
demonstrate: the three-batch incremental run emits every pair exactly
once, tagged by the batch where its later doc arrived.
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
    _LSH_REPLAY_ORACLE,
    lsh_dedup_batch_replay,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_lsh_dedup_batch_replay_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_LSH_REPLAY_ORACLE))
    s_cols, s_rows = fetch_spark(lsh_dedup_batch_replay(spark, sf_dir))
    assert len(s_rows) == len(o_rows) > 0
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], (
        "value lanes diverged: the incremental engine (band-state joins) "
        "and the oracle's global closed form must meet bit-for-bit"
    )
    # structural invariants of the replay itself
    seen = set()
    for row in s_rows:
        d = dict(zip(s_cols, row))
        key = (d["doc_id_a"], d["doc_id_b"])
        assert key not in seen, f"pair {key} emitted twice"
        seen.add(key)
        assert d["doc_id_a"] < d["doc_id_b"]
        assert 1 <= d["n_shared_bands"] <= 4
        # the engine tags by arrival batch of the LATER doc (mod split)
        assert d["discovered_batch"] == max(
            d["doc_id_a"] % 3, d["doc_id_b"] % 3
        )

