"""Stateful streaming pattern detection (CEP-lite): ordered event
sequences per key with a step deadline, via ``applyInPandasWithState``.

Detects view → cart → purchase per user where each successive step
arrives within STEP_WINDOW_US of the previous one — the conversion
pattern behind funnel alerting, fraud rules, and abandoned-cart jobs.
Batch twin of the ordered-funnel semantics in
queries/behavior_ops.py::strict_funnel_3step (that query counts users
through the funnel; this operator emits each completed sequence as it
closes, incrementally).

Matching policy (deterministic, bounded): a single active attempt per
user — "skip till next match". An attempt starts only when no attempt
is open and the first step arrives; non-step events are ignored; a step
arriving after the deadline resets the attempt (the event itself may
start a fresh attempt if it is the first step); completing the pattern
emits one match row and closes the attempt. State per user is one
(stage, first_ts, prev_ts) tuple — cardinality-bounded, never
volume-bounded, as in the sessionizer.

Chunk-order correctness: a user's micro-batch group reaches Python as
MULTIPLE Arrow chunks in arbitrary order; the NFA is order-sensitive, so
all chunks are concatenated and sorted by (ts, event_id) ONCE before the
transition loop (the streaming/ratelimit.py lesson). Groups are bounded
by micro-batch size, so the concat is memory-safe.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fitness_nutrition_data_pipeline_spark.streaming.sessions import EVENT_SCHEMA

STEP_WINDOW_US = 30 * 60 * 1_000_000  # each next step due within 30 min

PATTERN = ("view", "cart", "purchase")

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("t_view_us", T.LongType()),
        T.StructField("t_cart_us", T.LongType()),
        T.StructField("t_purchase_us", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("stage", T.LongType()),
        T.StructField("t_first_us", T.LongType()),
        T.StructField("t_second_us", T.LongType()),
        T.StructField("t_prev_us", T.LongType()),
    ]
)


def make_detector(
    pattern: tuple[str, str, str] = PATTERN,
    step_window_us: int = STEP_WINDOW_US,
):
    """Build the per-group NFA callback for a 3-step pattern. Defaults
    are the module constants; the batch replay (queries/behavior_ops.py::
    cep_batch_replay) instantiates it with a pattern and deadline that
    produce real matches in the synthetic testdata (no cart events exist
    there, and per-user event spacing is hours, not minutes)."""

    def _detect(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        if state.exists:
            stage, t_first, t_second, t_prev = state.get
        else:
            stage, t_first, t_second, t_prev = 0, 0, 0, 0

        # order the WHOLE group before running the order-sensitive NFA
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch[batch["event_type"].isin(pattern)]
        matches: list[tuple[int, int, int, int]] = []
        if not batch.empty:
            batch = batch.assign(_us=batch["ts"].astype("int64") // 1000)
            batch = batch.sort_values(["_us", "event_id"])
            for t, etype in zip(batch["_us"], batch["event_type"]):
                t = int(t)
                if stage > 0 and t - t_prev > step_window_us:
                    stage = 0  # attempt expired; event may restart below
                if stage == 0:
                    if etype == pattern[0]:
                        stage, t_first, t_prev = 1, t, t
                elif stage == 1:
                    if etype == pattern[1]:
                        stage, t_second, t_prev = 2, t, t
                elif etype == pattern[2]:
                    matches.append((user_id, t_first, t_second, t))
                    stage = 0

        state.update((stage, t_first, t_second, t_prev))
        if matches:
            yield pd.DataFrame(
                matches,
                columns=["user_id", "t_view_us", "t_cart_us", "t_purchase_us"],
            )

    return _detect


def stream_detect_sequences(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming view→cart→purchase detector over a parquet event feed;
    emits one row per completed sequence (append mode)."""
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    return src.groupBy("user_id").applyInPandasWithState(
        make_detector(),
        outputStructType=MATCH_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

