"""Time-bounded attribution join between a view feed and a purchase feed.

The batch funnel query (queries: funnel_view_purchase) answers "which
views converted" as a count; this join pairs each purchase with the
views that led to it: an equi-join on user plus an event-time range
condition, which Spark plans as a co-keyed range join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_attribution(
    views: DataFrame,
    purchases: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    attribution_window: str = "1 hour",
) -> DataFrame:
    """Join each purchase to the views by the same user in the preceding
    `attribution_window`. Inner equi-join on user + event-time range
    condition.

    Returns (user_id, view_ts, purchase_ts, view_id, purchase_id,
    lag_seconds).
    """
    v = views.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    p = purchases.select(
        F.col(user_col).alias("p_user_id"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return v.join(
        p,
        F.expr(
            f"""
            user_id = p_user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + INTERVAL {attribution_window}
            """
        ),
        "inner",
    ).select(
        "user_id",
        "view_ts",
        "purchase_ts",
        "view_id",
        "purchase_id",
        (
            F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
        ).alias("lag_seconds"),
    )
