"""Per-key rate limiting (quota admission control) as a per-group
function for ``applyInPandas``: each key admits its first ``limit``
events in event_id order and drops the rest."""

from __future__ import annotations

from pyspark.sql import types as T

ADMITTED_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("admitted_no", T.LongType()),  # 1-based admission index
    ]
)


def _limiter(limit: int):
    """``(key, pdf) -> pdf`` admitting the ``limit`` lowest event_ids of
    one user's events as rows of ``ADMITTED_SCHEMA``."""

    def admit(key, pdf):
        import pandas as pd

        (user_id,) = key
        ids = pdf["event_id"].sort_values().head(limit).astype("int64")
        return pd.DataFrame(
            {
                "user_id": user_id,
                "event_id": ids.to_numpy(),
                "admitted_no": range(1, len(ids) + 1),
            }
        )

    return admit
