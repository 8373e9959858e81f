"""Incremental view maintenance of a keyed (count, sum) aggregate.

queries/warehouse_ops.incremental_agg_maintenance proves the batch
retraction-join arithmetic equals full recompute; this module folds the
same algebra one batch at a time: a batch's rows fold to signed delta
effects (inserts +1/+v, retractions -1/-v), and merging effects into the
group-grain state is a union + re-aggregate that touches only state +
delta — never the history.

The batch replay (queries/warehouse_ops.ivm_batch_replay) folds three
deterministic waves — including retractions — through ``delta_effects``
+ ``merge_state`` and is checked against a full-recompute oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# maintained state schema: key column(s) + exact-integer measures
_STATE_MEASURES = ("n_events", "value_ppm")


def delta_effects(
    batch: DataFrame,
    keys: list[str],
    value_col: str,
    op_col: str,
) -> DataFrame:
    """Fold a batch to signed per-key effects (keys, dn, dv).

    Rows are inserts unless ``op_col`` holds 'R' (retraction), which
    contributes (-1, -value) — the same signed algebra the batch
    retraction join uses. One group-grain aggregate with map-side
    partials; the output is key-cardinality-sized.
    """
    sign = F.when(F.col(op_col) == "R", F.lit(-1)).otherwise(F.lit(1))
    return batch.groupBy(*keys).agg(
        F.sum(sign).cast("long").alias("dn"),
        F.sum(sign * F.col(value_col)).cast("long").alias("dv"),
    )


def merge_state(state: DataFrame, effects: DataFrame, keys: list[str]) -> DataFrame:
    """Merge signed effects into group-grain state; drop keys that have
    fully netted out (count AND sum both zero). NEGATIVE intermediates
    are kept: a retraction that arrives in an earlier batch than its
    insert must survive as (-1, -v) until the insert lands, or the fold
    silently loses it. Union + re-aggregate touches state + delta
    only — the history never re-scans. The result is pinned
    (localCheckpoint): it feeds the next merge AND whatever reads it,
    and an unpinned chain of N merges would re-execute the whole fold
    lineage each batch.
    """
    as_effects = state.select(
        *keys,
        F.col(_STATE_MEASURES[0]).alias("dn"),
        F.col(_STATE_MEASURES[1]).alias("dv"),
    )
    merged = (
        as_effects.unionByName(effects)
        .groupBy(*keys)
        .agg(
            F.sum("dn").cast("long").alias(_STATE_MEASURES[0]),
            F.sum("dv").cast("long").alias(_STATE_MEASURES[1]),
        )
        .where(
            (F.col(_STATE_MEASURES[0]) != 0) | (F.col(_STATE_MEASURES[1]) != 0)
        )
    )
    return merged.localCheckpoint()


def empty_state(spark: SparkSession, keys_ddl: str) -> DataFrame:
    """Zero-row state with the maintained schema, e.g.
    keys_ddl='event_type string'."""
    return spark.createDataFrame(
        [], f"{keys_ddl}, {_STATE_MEASURES[0]} long, {_STATE_MEASURES[1]} long"
    )
