"""Misra-Gries heavy hitters (streaming/heavyhitters.py): bounded
tables, lower-bound counts with an explicit error bound, and the
phi-heavy-hitter guarantee."""

from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
    HH_SCHEMA,
    _make_mg,
)


def test_heavy_hitters_guarantee_and_bounds(spark):
    spec = {"hot": 500, **{f"cold{i}": 10 for i in range(20)}}
    keys = spark.createDataFrame(
        [(k,) for k, n in spec.items() for _ in range(n)], "key string"
    )
    sharded = keys.select(
        F.pmod(F.xxhash64("key"), F.lit(2)).alias("shard"), "key"
    )
    out = sharded.groupBy("shard").applyInPandas(_make_mg(4), HH_SCHEMA).collect()
    by_key = {r.key: r for r in out}

    # lower-bound + error-bound sandwich for the hot key
    hot = by_key["hot"]
    assert hot.count_lb <= 500 <= hot.count_lb + hot.err_bound

    # phi-guarantee per shard: every key with shard frequency >
    # n_shard/(capacity+1) must be present
    shard_of = {r.key: r.shard for r in sharded.distinct().collect()}
    shard_tot = {}
    for k, n in spec.items():
        shard_tot[shard_of[k]] = shard_tot.get(shard_of[k], 0) + n
    for k, n in spec.items():
        if n > shard_tot[shard_of[k]] / 5.0:  # capacity+1 == 5
            assert k in by_key, f"guaranteed key {k} missing"

    # bounded tables: no shard's table exceeds capacity
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r.key)
    assert all(len(ks) <= 4 for ks in per_shard.values())
