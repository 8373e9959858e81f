"""Streaming Misra-Gries heavy hitters (streaming/heavyhitters.py):
bounded state, lower-bound counts with an explicit error bound, the
phi-heavy-hitter guarantee, and checkpointed state across restarts."""

import os

from tests import streaming_feed as SF


def _rows(spec, t0=None):
    import datetime

    t0 = t0 or datetime.datetime(2016, 4, 1, 10, 0, 0)
    rows, eid = [], 0
    for key, n in spec.items():
        for _ in range(n):
            rows.append((eid, t0, eid % 7, key, 1.0))
            eid += 1
    return rows


def test_heavy_hitters_guarantee_and_bounds(spark, tmp_path_factory):
    from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
        run_heavy_hitters_once,
    )

    base = str(tmp_path_factory.mktemp("hh"))
    indir = os.path.join(base, "in")
    spec = {"hot": 500, **{f"cold{i}": 10 for i in range(20)}}
    SF.write_events(indir, "f1.parquet", _rows(spec))

    out = run_heavy_hitters_once(
        spark, indir, "hh_out", n_shards=2, capacity=4
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, r)

    # lower-bound + error-bound sandwich for the hot key
    hot = by_key["hot"]
    assert hot.count_lb <= 500 <= hot.count_lb + hot.err_bound

    # phi-guarantee per shard: every key with shard frequency >
    # n_shard/(capacity+1) must be present. Compute shard volumes the
    # same way the operator shards (xxhash64 % n_shards).
    from pyspark.sql import functions as F

    truth = (
        spark.createDataFrame(
            [(k, n) for k, n in spec.items()], "key string, n long"
        )
        .select(
            F.pmod(F.xxhash64("key"), F.lit(2)).alias("shard"), "key", "n"
        )
        .collect()
    )
    shard_tot = {}
    for r in truth:
        shard_tot[r.shard] = shard_tot.get(r.shard, 0) + r.n
    for r in truth:
        if r.n > shard_tot[r.shard] / 5.0:  # capacity+1 == 5
            assert r.key in by_key, f"guaranteed key {r.key} missing"

    # bounded state: no shard's table exceeds capacity
    per_shard = {}
    for r in out:
        per_shard.setdefault(r.shard, []).append(r.key)
    assert all(len(ks) <= 4 for ks in per_shard.values())


def test_multi_batch_drain_keeps_final_table_only(spark, tmp_path_factory):
    """ADVICE r6: when availableNow splits input into multiple
    micro-batches, the drain must return each shard's FINAL table —
    stale earlier emissions (whose count_lb can EXCEED the final one
    after a decrement) must not survive. Two files + maxFilesPerTrigger=1
    force two batches; capacity=2 forces a decrement in batch 2 that
    evicts a batch-1 key and lowers survivors' counts."""
    from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
        run_heavy_hitters_once,
    )

    base = str(tmp_path_factory.mktemp("hh_mb"))
    indir = os.path.join(base, "in")
    # batch 1: a=30, b=20, c=10 → capacity-2 table decrements to
    # {a: 20, b: 10} (cut=10). batch 2: d=40, e=25 → table overflows
    # again; final table must reflect the post-decrement state, and the
    # batch-1 emission rows (b at 10, any evicted key) must be gone.
    SF.write_events(indir, "f1.parquet", _rows({"a": 30, "b": 20, "c": 10}))
    SF.write_events(indir, "f2.parquet", _rows({"d": 40, "e": 25}))

    out = run_heavy_hitters_once(
        spark, indir, "hh_mb_out", n_shards=1, capacity=2,
        max_files_per_trigger=1,
    ).collect()

    # single shard → the result IS one table: at most `capacity` rows,
    # one row per key (a memory-sink union would carry batch-1 rows too)
    assert len(out) <= 2
    assert len({r.key for r in out}) == len(out)
    by_key = {r.key: r for r in out}
    # exact MG trace: b1 {a30 b20 c10}→cut10→{a20 b10}; b2 +d40+e25 →
    # {a20 b10 d40 e25}→cut20→{d20 e5}
    assert set(by_key) == {"d", "e"}
    assert by_key["d"].count_lb == 20 and by_key["e"].count_lb == 5
    # error bound carries BOTH decrements (10 + 20)
    assert by_key["d"].err_bound == 30
    # sandwich still holds vs true counts
    assert by_key["d"].count_lb <= 40 <= by_key["d"].count_lb + by_key["d"].err_bound


def test_heavy_hitters_state_survives_restart(spark, tmp_path_factory):
    from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
        stream_heavy_hitters,
    )

    base = str(tmp_path_factory.mktemp("hh_restart"))

    def drain_next(rows):
        got = SF.feed(
            base,
            rows,
            lambda indir: stream_heavy_hitters(spark, indir, n_shards=1, capacity=8),
            mode="update",
        )
        return {r.key: r for r in got}

    first = drain_next(_rows({"hot": 100, "warm": 30}))
    assert first["hot"].count_lb == 100 and first["warm"].count_lb == 30

    second = drain_next(_rows({"hot": 50, "new": 5}))
    # restored counter table merged with the delta — not a fresh count
    assert second["hot"].count_lb == 150
    assert second["warm"].count_lb == 30
    assert second["new"].count_lb == 5
