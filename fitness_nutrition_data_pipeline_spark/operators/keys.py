"""Surrogate-key assignment that scales.

The reference assigns keys with a sequential counter while iterating rows
(main_etl_pipeline.py:172, 192-193, 261-263, 297-299). The naive Spark
translation — ``row_number()`` over a global (unpartitioned) window — is
correct but funnels every row through ONE task: fine for small dims,
a non-starter for a 100 TB fact or a billion-profile resolution.

``assign_sequential_ids`` keeps the same dense 1..N, order-defined
semantics with no global window: range-repartition on the order columns
(so partitions are globally ordered), number rows inside each partition,
and add per-partition offsets computed from a tiny per-partition count
(driver-side, one row per partition — metadata, not data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PART = "__part_id"
_LOCAL = "__local_rn"


def with_order_index(df: DataFrame, name: str = "_row_idx") -> DataFrame:
    """Attach a monotonically increasing index preserving datasource row
    order within each file/partition.

    For single-file inputs (the reference's CSVs) this reproduces pandas'
    row index. At scale, prefer an explicit ordering column in the data —
    file row order is only meaningful per file.
    """
    return df.withColumn(name, F.monotonically_increasing_id())


def assign_sequential_ids(
    df: DataFrame,
    order_cols: list[str],
    key_col: str,
    *,
    start: int = 1,
    num_partitions: int | None = None,
    rows_per_partition: int = 50_000,
) -> DataFrame:
    """Add dense sequential ids ``start..start+N-1`` ordered by
    ``order_cols``, without a single-task global sort window.

    Plan: repartitionByRange(order_cols) → per-partition row_number →
    + broadcast per-partition offsets. The only driver-side data is one
    count per partition.

    Partition sizing: when ``num_partitions`` is not given, the input is
    pinned (localCheckpoint) and counted, and n = clamp(rows /
    rows_per_partition, 1, defaultParallelism) — a 1k-row dim gets 1
    partition (no 32-task fixed overhead), a large table saturates the
    cluster. The sizing count reads the pinned partitions, it never
    recomputes the upstream plan. Callers that already know the scale can
    pass ``num_partitions`` explicitly and skip the sizing pass entirely
    (one less materialization — the right call inside a tight loop or at
    known-huge scale).

    EXPLICIT ``num_partitions=1`` is the fully LAZY path: a known-tiny
    input gets a single-task global row_number with NO checkpoint and no
    driver-side jobs at declaration time. Correct only when
    ``order_cols`` is a UNIQUE key of the input (no ties): with ties,
    tie order would be shuffle-arrival order, and two downstream
    consumers could see different key assignments. Every pipeline dim /
    resolution call site orders by a unique key and passes 1. Resolution
    numbers all users in one such call and pins the result
    (``localCheckpoint``) before the warehouse is declared; the dimension
    key assignments stay lazy and run inside the parallel load writes.
    """
    spark = df.sparkSession
    order = [F.col(c) for c in order_cols]
    if num_partitions == 1:
        w = Window.orderBy(*order)
        return df.withColumn(
            key_col,
            (F.row_number().over(w) - 1 + F.lit(start)).cast("long"),
        )
    if num_partitions is None:
        # Pin first so the sizing count and every later job see identical
        # rows; range boundaries sampled from pinned input are then
        # deterministic across jobs.
        df = df.localCheckpoint()
        n_rows = df.count()
        n = max(1, min(
            spark.sparkContext.defaultParallelism,
            -(-n_rows // rows_per_partition),
        ))
    else:
        n = num_partitions
    parted = df.repartitionByRange(n, *order).withColumn(
        _PART, F.spark_partition_id()
    )
    w = Window.partitionBy(_PART).orderBy(*order)
    # localCheckpoint pins the partitioning: repartitionByRange SAMPLES its
    # boundaries per job, so without materialization the counts job and the
    # final join could see different partition assignments → wrong offsets,
    # duplicate keys. (Found by the 60k-row invariant test.) It also keeps
    # the Window out of caller-visible plans (no global rank in any query
    # plan — asserted by tests/test_plans.py).
    local = parted.withColumn(_LOCAL, F.row_number().over(w)).localCheckpoint()

    if n == 1:
        # single range partition → the local row number IS the global rank
        return local.withColumn(
            key_col, (F.col(_LOCAL) - 1 + F.lit(start)).cast("long")
        ).drop(_PART, _LOCAL)

    # One row per partition — tiny, safe to collect.
    counts = sorted(
        (r[_PART], r["cnt"])
        for r in local.groupBy(_PART).agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets, acc = {}, start
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    offsets_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets.items()], schema=f"{_PART} int, __offset long"
        )
    )
    return (
        local.join(offsets_df, _PART)
        .withColumn(key_col, (F.col(_LOCAL) - 1 + F.col("__offset")).cast("long"))
        .drop(_PART, _LOCAL, "__offset")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side and
    replicate the right side across all salt values, so one hot key spreads
    over ``n_salts`` reducers instead of melting a single task.

    Result is identical to ``left.join(right, key, how)`` — only the
    shuffle distribution changes. This is the manual form of AQE's
    skew-join split, for engines/paths where AQE can't see the skew
    (e.g. a skewed key feeding a window, or non-AQE clusters).
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # right/full joins would duplicate unmatched replicated right rows
        raise ValueError(f"salted_join supports inner/left joins, not {how!r}")
    salted_left = left.withColumn("__salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts)))
    salts = left.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("__salt"))
    replicated_right = right.crossJoin(F.broadcast(salts))
    out = salted_left.join(replicated_right, [key, "__salt"], how)
    return out.drop("__salt")
