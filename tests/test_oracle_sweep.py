"""Full oracle sweep (slow tier): every registered query's Spark result
must equal its DuckDB oracle at sf0.001 and sf0.01, through the same
compare ``tools/verify_queries.py`` prints (row count, sorted column
names, order-insensitive normalized values).

Run it with ``python -m pytest tests/test_oracle_sweep.py -m slow -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.queries import all_specs  # noqa: E402
from tools.verify_queries import check_query, connect_oracle  # noqa: E402

pytestmark = pytest.mark.slow

SPECS = all_specs()


@pytest.fixture(scope="module", params=["sf0.001", "sf0.01"])
def oracle(request, sf_dir):
    """(sf dir, DuckDB connection over it), one per scale factor."""
    path = os.path.join(os.path.dirname(sf_dir), request.param)
    if not os.path.isdir(path):
        pytest.skip(f"{path} absent")
    con = connect_oracle(path)
    yield path, con
    con.close()


@pytest.mark.parametrize("name", list(SPECS))
def test_query_matches_oracle(spark, oracle, name):
    path, con = oracle
    verdict, message = check_query(spark, con, SPECS[name], path)
    assert verdict == "pass", message
