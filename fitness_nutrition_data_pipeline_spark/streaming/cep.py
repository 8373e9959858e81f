"""Pattern detection (CEP-lite): an ordered 3-step event sequence per key
with a step deadline, as a per-group function for ``applyInPandas``.

The conversion pattern behind funnel alerting, fraud rules and
abandoned-cart jobs. Batch twin of the ordered-funnel semantics in
queries/behavior_ops.py::strict_funnel_3step (that query counts users
through the funnel; this operator emits each completed sequence).

Matching policy (deterministic, bounded): a single active attempt per
user — "skip till next match". An attempt starts only when no attempt
is open and the first step arrives; non-step events are ignored; a step
arriving after the deadline resets the attempt (the event itself may
start a fresh attempt if it is the first step); completing the pattern
emits one match row and closes the attempt. The NFA is order-sensitive,
so each group is sorted by (ts, event_id) before the transition loop.
"""

from __future__ import annotations

from pyspark.sql import types as T

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("t_view_us", T.LongType()),
        T.StructField("t_cart_us", T.LongType()),
        T.StructField("t_purchase_us", T.LongType()),
    ]
)


def make_detector(pattern: tuple[str, str, str], step_window_us: int):
    """Build the per-user NFA for ``pattern``, each next step due within
    ``step_window_us`` of the previous one. The returned
    ``(key, pdf) -> pdf`` function takes one user's events (event_id,
    ts, event_type) and emits rows of ``MATCH_SCHEMA``."""

    def detect(key, pdf):
        import pandas as pd

        (user_id,) = key
        stage, t_first, t_second, t_prev = 0, 0, 0, 0
        batch = pdf[pdf["event_type"].isin(pattern)]
        batch = batch.assign(_us=batch["ts"].astype("int64") // 1000)
        batch = batch.sort_values(["_us", "event_id"])
        matches: list[tuple[int, int, int, int]] = []
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
        return pd.DataFrame(matches, columns=MATCH_SCHEMA.fieldNames())

    return detect
