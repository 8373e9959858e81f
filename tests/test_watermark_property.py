"""Property-style engine parity for watermark replay (VERDICT r11 ask
#6): tests/test_streaming.py::test_watermark_replay_matches_engine
proves queries/analytics_ops.watermark_tags against the REAL
withWatermark engine for ONE feed shape; this test lets hypothesis vary
the things the claim quantifies over — which rows are late and by how
much, the configured allowed-lateness delay, and the ARRIVAL ORDER
within each micro-batch (the engine updates the watermark only at batch
boundaries, so in-batch disorder must never change the outcome) — and
asserts the surviving-event set matches the batch replay every time.

Kept deliberately small per example (45 events, 3 micro-batches, 5
examples) because each example drives 3 real availableNow streaming
runs; the single-shape test keeps the larger 1000-event coverage.
"""


from __future__ import annotations

# slow tier (r18): heavy replay/property suite, excluded from the
# default pytest run (see pytest.ini) -- run with -m slow
import pytest

pytestmark = pytest.mark.slow

import os
import shutil
import sys
import tempfile

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = 45
BATCH = 15
T0 = 1700000000  # fixed epoch anchor


@st.composite
def feed(draw):
    """(rows, delay_s, per-batch permutations): rows are (event_id, ts)
    with hypothesis-chosen lateness injections; permutations reorder
    arrival within each micro-batch."""
    delay_s = draw(st.sampled_from([60, 300, 600, 1800]))
    late = draw(
        st.dictionaries(
            st.integers(min_value=1, max_value=N_EVENTS - 1),
            st.integers(min_value=30, max_value=7200),
            max_size=12,
        )
    )
    rows = []
    for i in range(N_EVENTS):
        ts = T0 + i * 60 - late.get(i, 0)
        rows.append((i, ts))
    perms = [
        draw(st.permutations(range(BATCH))) for _ in range(N_EVENTS // BATCH)
    ]
    return rows, delay_s, perms


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(feed())
def test_watermark_replay_matches_engine_property(spark, case):
    from fitness_nutrition_data_pipeline_spark.queries.analytics_ops import (
        watermark_tags,
    )

    rows, delay_s, perms = case
    work = tempfile.mkdtemp(prefix="wm_prop_")
    try:
        src = os.path.join(work, "in")
        os.makedirs(src)
        survived_engine: set[int] = set()
        # one file + one availableNow run per micro-batch against a
        # shared checkpoint pins batch order by construction (the file
        # source's mtime ordering is unreliable for same-instant writes)
        for b, perm in enumerate(perms):
            chunk = rows[b * BATCH : (b + 1) * BATCH]
            with open(os.path.join(src, f"batch{b}.csv"), "w") as f:
                f.write("event_id,ts\n")
                for j in perm:
                    f.write(f"{chunk[j][0]},{chunk[j][1]}\n")
            stream = (
                spark.readStream.schema("event_id LONG, ts LONG")
                .option("header", True)
                .csv(src)
                .select("event_id", F.timestamp_seconds("ts").alias("ts"))
                .withWatermark("ts", f"{delay_s} seconds")
                .dropDuplicates(["event_id", "ts"])
            )
            emitted: list[int] = []

            def sink(df, _epoch, _out=emitted):
                _out.extend(r["event_id"] for r in df.collect())

            q = (
                stream.writeStream.foreachBatch(sink)
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(work, "ckpt"))
                .start()
            )
            q.awaitTermination()
            survived_engine |= set(emitted)

        arr = spark.createDataFrame(rows, "event_id long, ts long").select(
            "event_id",
            F.expr(f"event_id div {BATCH}").alias("batch"),
            (F.col("ts") * 1_000_000).alias("t_us"),
        )
        tagged = watermark_tags(arr, delay_us=delay_s * 1_000_000)
        survived_replay = {
            r["event_id"] for r in tagged.where(F.col("dropped") == 0).collect()
        }
        assert survived_engine == survived_replay, (
            f"delay={delay_s}s late={sorted(set(range(N_EVENTS)) - survived_replay)} "
            f"engine-only={sorted(survived_engine - survived_replay)} "
            f"replay-only={sorted(survived_replay - survived_engine)}"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
