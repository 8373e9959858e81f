"""Custom stateful streaming operator: event sessionization with
``applyInPandasWithState`` (north-star "custom stateful operators").

Batch twin: queries/relational.py::sessionize_events (lag + running sum).
Here the same 30-minute-gap semantics run incrementally: per-user state
holds the open session (start, last-seen, count); a new event either
extends it or closes it (emitting the finished session) and starts the
next. Arrow-batched — the Python hop happens once per user-group per
micro-batch, not per event.

State size = one small tuple per active user; eviction is the closed
session emit, so memory is bounded by concurrently-active users, not
history. That's the 100 TB-stream posture: state proportional to
cardinality, never to volume.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, microseconds

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("session_end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _sessionize_group(
    key, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
) -> Iterator["pd.DataFrame"]:
    import pandas as pd

    (user_id,) = key
    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = None
        n = 0

    closed: list[tuple[int, int, int, int]] = []
    for pdf in pdfs:
        # pandas datetime64[ns] → epoch micros (int64 view is nanoseconds)
        ts_us = (pdf["ts"].astype("int64") // 1000).sort_values()
        for t in ts_us:
            t = int(t)
            if last_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us > GAP_US:
                closed.append((user_id, start_us, last_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us = t
                n += 1

    if last_us is not None:
        state.update((start_us, last_us, n))

    if closed:
        yield pd.DataFrame(
            closed, columns=["user_id", "session_start_us", "session_end_us", "n_events"]
        )


def stream_sessionize(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming sessionizer over a parquet event feed. Emits one row per
    CLOSED session (append mode); the open tail per user lives in state."""
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    return (
        src.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_sessionizer_once(spark: SparkSession, input_dir: str, name: str) -> DataFrame:
    """Drain available files through the sessionizer into a memory table."""
    q = (
        stream_sessionize(spark, input_dir)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_sessionize_native(
    spark: SparkSession,
    input_dir: str,
    *,
    gap: str = "30 minutes",
    late_threshold: str = "1 hour",
) -> DataFrame:
    """Sessionization via Spark's NATIVE merging session windows — the
    streaming twin of queries/relational.py::sessionize_native_window
    and the engine-managed alternative to the custom
    ``applyInPandasWithState`` sessionizer above (same 30-minute-gap
    semantics, state merged/evicted by the engine under the watermark
    instead of hand-rolled tuples). Append mode: a session row emits
    once its window can no longer grow (watermark passes end+gap)."""
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    return (
        src.withWatermark("ts", late_threshold)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.unix_micros(F.max("ts")).alias("session_end_us"),
        )
        .select("user_id", "session_start_us", "session_end_us", "n_events")
    )
