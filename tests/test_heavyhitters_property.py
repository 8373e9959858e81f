"""Property-style parity for the Misra-Gries heavy hitters
(streaming/heavyhitters.py): the per-shard summary run through
``applyInPandas`` must agree EXACTLY with a pure-Python Misra-Gries
simulation, and must satisfy the MG guarantees for every drawn feed:

  - arrival order never changes the outcome (hypothesis permutes rows);
  - sandwich: count_lb <= true shard count <= count_lb + err_bound for
    every emitted key;
  - coverage: any key ABSENT from its shard's table has true shard
    count <= err_bound (nothing frequent can hide).
"""


from __future__ import annotations

# slow tier: excluded from the default pytest run (see pytest.ini);
# run with -m slow
import pytest

pytestmark = pytest.mark.slow

import os
import sys
from collections import Counter

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = 30
N_SHARDS = 2
CAPACITY = 3


@st.composite
def feed(draw):
    keys = draw(
        st.lists(st.integers(0, 5), min_size=N_EVENTS, max_size=N_EVENTS)
    )
    order = draw(st.permutations(range(N_EVENTS)))
    return keys, order


def _simulate_mg(counts: Counter) -> tuple[dict[str, int], int]:
    """Pure-Python twin of streaming/heavyhitters._make_mg for ONE shard:
    take the shard's counts, then prune to CAPACITY by cutting the
    (capacity+1)-th largest weight from everyone (strict survivors)."""
    table, dec = dict(counts), 0
    if len(table) > CAPACITY:
        dec = sorted(table.values(), reverse=True)[CAPACITY]
        table = {k: v - dec for k, v in table.items() if v > dec}
    return table, dec


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(feed())
def test_heavy_hitters_match_simulation(spark, case):
    from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
        HH_SCHEMA,
        _make_mg,
    )

    keys, order = case
    names = [f"k{k}" for k in keys]
    sharded = spark.createDataFrame(
        [(names[i],) for i in order], "key string"
    ).select(
        F.pmod(F.xxhash64(F.col("key")), F.lit(N_SHARDS)).alias("shard"), "key"
    )
    shard_of = {r["key"]: r["shard"] for r in sharded.distinct().collect()}
    got_by_shard: dict[int, list] = {}
    for r in (
        sharded.groupBy("shard").applyInPandas(_make_mg(CAPACITY), HH_SCHEMA).collect()
    ):
        got_by_shard.setdefault(r.shard, []).append((r.key, r.count_lb, r.err_bound))

    for shard in range(N_SHARDS):
        true = Counter(n for n in names if shard_of[n] == shard)
        want_table, want_dec = _simulate_mg(true)
        got = got_by_shard.get(shard, [])
        got_table = {k: c for k, c, _ in got}
        assert got_table == want_table, (
            f"shard {shard}: engine {got_table} != sim {want_table}"
        )
        if got:
            assert {d for _, _, d in got} == {want_dec}

        # MG guarantees vs exact truth, independent of the simulation
        for k, c, err in got:
            assert c <= true[k] <= c + err, (shard, k, c, err, true[k])
        for k, t in true.items():
            if k not in got_table:
                assert t <= want_dec, (
                    f"frequent key {k} (true {t}) missing from shard "
                    f"{shard} with err_bound {want_dec}"
                )
