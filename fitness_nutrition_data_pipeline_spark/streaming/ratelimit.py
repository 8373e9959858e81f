"""Per-key streaming rate limiting (quota admission control) — a second
custom stateful operator beside the ``applyInPandasWithState`` sessionizer
(streaming/sessions.py).

State: one admitted-count per key, updated per micro-batch; admission is
deterministic (event_id order within a batch). Memory is bounded by key
cardinality, never volume.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fitness_nutrition_data_pipeline_spark.streaming.sessions import EVENT_SCHEMA

ADMITTED_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("admitted_no", T.LongType()),  # 1-based admission index
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("n_admitted", T.LongType())])


def _limiter(limit: int):
    def admit(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (user_id,) = key
        n = state.get[0] if state.exists else 0
        # A key's batch arrives as MULTIPLE Arrow chunks (~10k rows each);
        # sorting per-chunk would make admission chunk-order dependent, so
        # concatenate the whole group first and sort event_id ONCE. Also
        # fully drains the iterator (an early break would leave it partially
        # consumed). Memory-safe: we keep only the event_id column, and the
        # admitted output is bounded by `limit`.
        ids = pd.concat(
            [pdf["event_id"] for pdf in pdfs], ignore_index=True
        ).sort_values()
        out = []
        for eid in ids:
            if n >= limit:
                break
            n += 1
            out.append((user_id, int(eid), n))
        state.update((n,))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "event_id", "admitted_no"])

    return admit


def rate_limit_stream(
    spark: SparkSession, input_dir: str, *, limit: int = 3
) -> DataFrame:
    """Admit at most ``limit`` events per user over the stream's lifetime;
    drop the rest. Emits (user_id, event_id, admitted_no) per admission."""
    src = spark.readStream.schema(EVENT_SCHEMA).parquet(input_dir)
    return src.groupBy("user_id").applyInPandasWithState(
        _limiter(limit),
        outputStructType=ADMITTED_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

