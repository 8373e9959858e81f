"""Incremental view maintenance, streaming <-> batch bridge.

queries/warehouse_ops.incremental_agg_maintenance proves the batch
retraction-join arithmetic equals full recompute; this module lifts the
SAME maintenance algebra into a ``foreachBatch`` streaming maintainer so
one code path serves both: a micro-batch's rows fold to signed delta
effects (inserts +1/+v, retractions -1/-v), and merging effects into the
stored group-grain state is a union + re-aggregate that touches only
state + delta — never the history.

The state relation is group-grain (tiny vs the stream), the merge
shuffles on the same key every batch (AQE coalesces it), and the
parquet state dir is the restart token: a maintainer pointed at an
existing state dir resumes exactly where the previous run stopped
(pinned by tests/test_streaming_ivm.py::test_restart_resumes).

The batch replay (queries/warehouse_ops.ivm_batch_replay) folds three
deterministic waves — including retractions — through ``delta_effects``
+ ``merge_state`` and is driver-checked against a full-recompute oracle:
a hash match is an algebraic proof the streaming maintainer's arithmetic
equals recompute on this data.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# maintained state schema: key column(s) + exact-integer measures
_STATE_MEASURES = ("n_events", "value_ppm")


def _fsync_dir(path: str) -> None:
    """fsync a directory so a completed rename/create inside it survives
    power loss (POSIX renames are atomic but not durable until the
    containing directory is synced). Best-effort on platforms whose
    filesystems refuse O_RDONLY dir fds."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _recover(state_dir: str, marker: str) -> None:
    """Repair any crash window of ``_swap_in`` on ``state_dir``.
    ``marker`` is the file written last into ``._next``, so its presence
    means the new state is whole. Idempotent; call before every read."""
    nxt, old = state_dir + "._next", state_dir + "._old"
    if os.path.isdir(state_dir):
        # crashes before the rename-aside (leftover ._next was never
        # committed — its batch will be re-delivered) or after the
        # swap-in (leftover ._old already superseded): discard both
        shutil.rmtree(nxt, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        return
    if os.path.isfile(os.path.join(nxt, marker)):
        # crash between rename-aside and swap-in: ._next is whole, so
        # finish the swap
        os.replace(nxt, state_dir)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.isdir(old):
        # ._next unusable — roll back; the batch re-delivers
        os.replace(old, state_dir)
        shutil.rmtree(nxt, ignore_errors=True)


def _swap_in(state_dir: str, write_next: Callable[[str], None]) -> None:
    """Replace ``state_dir`` by what ``write_next(path)`` writes, every
    step atomic or repairable by ``_recover``: write ``._next`` fully
    (completeness marker last) → rename the state aside to ``._old`` →
    rename ``._next`` in → drop ``._old``. A crash in any window either
    rolls back (the batch re-delivers) or rolls forward — never an empty
    state, which a delete-then-rename sequence could leave behind.

    Durability, not just atomicity: ``._next`` and the directory the
    renames mutate are fsynced, so a promoted state survives power
    loss, not just process crashes."""
    nxt, old = state_dir + "._next", state_dir + "._old"
    write_next(nxt)
    _fsync_dir(nxt)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(state_dir):
        os.replace(state_dir, old)
    os.replace(nxt, state_dir)
    _fsync_dir(os.path.dirname(os.path.abspath(state_dir)))
    shutil.rmtree(old, ignore_errors=True)


def delta_effects(
    batch: DataFrame,
    keys: list[str],
    value_col: str,
    op_col: str | None = None,
) -> DataFrame:
    """Fold a micro-batch to signed per-key effects (keys, dn, dv).

    Rows are inserts unless ``op_col`` holds 'R' (retraction), which
    contributes (-1, -value) — the same signed algebra the batch
    retraction join uses. One group-grain aggregate with map-side
    partials; the output is key-cardinality-sized.
    """
    sign = (
        F.when(F.col(op_col) == "R", F.lit(-1)).otherwise(F.lit(1))
        if op_col
        else F.lit(1)
    )
    return batch.groupBy(*keys).agg(
        F.sum(sign).cast("long").alias("dn"),
        F.sum(sign * F.col(value_col)).cast("long").alias("dv"),
    )


def merge_state(state: DataFrame, effects: DataFrame, keys: list[str]) -> DataFrame:
    """Merge signed effects into group-grain state; drop keys that have
    fully netted out (count AND sum both zero). NEGATIVE intermediates
    are kept: a retraction that arrives in an earlier micro-batch than
    its insert (file sources make no ordering promise) must survive as
    (-1, -v) until the insert lands, or the fold silently loses it —
    caught by tests/test_streaming_ivm.py when the source delivered the
    retraction batch first. Union + re-aggregate touches state + delta
    only — the history never re-scans. The result is pinned
    (localCheckpoint): it feeds the next merge AND whatever sink reads
    it, and an unpinned chain of N merges would re-execute the whole
    fold lineage each batch.
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


class IncrementalAggMaintainer:
    """foreachBatch sink that maintains a keyed (count, sum) aggregate
    in a parquet state dir across micro-batches AND restarts.

    Usage::

        m = IncrementalAggMaintainer(spark, "/state/dir",
                                     keys=["event_type"],
                                     keys_ddl="event_type string",
                                     value_col="value_ppm", op_col="op",
                                     query_tag=ckpt_dir)
        (stream.writeStream.foreachBatch(m.process_batch)
               .option("checkpointLocation", ckpt_dir).start())

    The state write is write-new-then-swap (never overwrite-in-place
    while a lineage may still read the old files); state is group-grain
    so the rewrite cost is constant, not history-sized. Pass
    ``query_tag`` (normally the checkpointLocation) to make the sink
    idempotent under foreachBatch's at-least-once redelivery — the
    applied-batch watermark is swapped atomically with the state and
    scoped to that query lineage.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        *,
        keys: list[str],
        keys_ddl: str,
        value_col: str,
        op_col: str | None = None,
        query_tag: str | None = None,
    ) -> None:
        # the swap protocol is plain-POSIX (os.replace/shutil on the
        # driver), so the state dir MUST be a local filesystem path — a
        # scheme'd URI (hdfs://, s3a://) would make os.path.isdir return
        # False and read_state() silently resume from EMPTY state (wrong
        # aggregates, no error). Fail loudly instead; for object-store
        # state, front it with a local mount or swap this class for a
        # committer that speaks the store's rename semantics.
        if "://" in state_dir:
            raise ValueError(
                "IncrementalAggMaintainer state_dir must be a local "
                f"filesystem path (got URI {state_dir!r}); the "
                "write-new-then-swap protocol uses POSIX renames and "
                "cannot provide atomicity on remote filesystems"
            )
        self.spark = spark
        self.state_dir = state_dir
        self.keys = keys
        self.keys_ddl = keys_ddl
        self.value_col = value_col
        self.op_col = op_col
        # identity of the streaming query this maintainer serves —
        # normally its checkpointLocation. batch_ids are only monotone
        # WITHIN one checkpoint lineage, so the redelivery watermark is
        # scoped to it; a new query against existing state (new
        # checkpoint → ids restart at 0) must NOT be skipped. Without a
        # tag the watermark is disabled and the sink is at-least-once.
        self.query_tag = query_tag
        # the file written last into ._next: with a query_tag the
        # watermark sidecar (promoting a watermark-less dir would let the
        # redelivered batch double-apply on top of the new state);
        # without one, parquet's own _SUCCESS
        self._marker = "_applied_batch_id" if query_tag else "_SUCCESS"

    def read_state(self) -> DataFrame:
        _recover(self.state_dir, self._marker)
        if os.path.isdir(self.state_dir):
            return self.spark.read.parquet(self.state_dir)
        return empty_state(self.spark, self.keys_ddl)

    def last_applied(self) -> int:
        """Highest batch_id already folded into the state by THIS
        query lineage (-1 if none, or if the stored tag belongs to a
        different query — its ids are incomparable). Stored INSIDE the
        state dir (underscore-prefixed, so parquet readers ignore it)
        and swapped atomically with the state — the two can never
        disagree."""
        if self.query_tag is None:
            return -1
        _recover(self.state_dir, self._marker)
        p = os.path.join(self.state_dir, "_applied_batch_id")
        if os.path.isfile(p):
            with open(p) as f:
                tag, _, bid = f.read().strip().rpartition("\n")
            if tag == self.query_tag:
                try:
                    return int(bid)
                except ValueError:
                    # the protocol fsyncs the sidecar and its directory
                    # before every promotion, so a matching tag with an
                    # unparsable batch id means the state dir was
                    # corrupted OUTSIDE the protocol. Returning -1 here
                    # would silently re-apply a batch the lineage
                    # provably already folded in (double-count) — fail
                    # loudly instead.
                    raise RuntimeError(
                        f"corrupt _applied_batch_id in {self.state_dir}:"
                        f" tag matches query but batch id {bid!r} is "
                        "unparsable; refusing to guess (re-applying a "
                        "delivered batch would double-count). Restore "
                        "the state dir from the upstream source or "
                        "delete it to rebuild from batch 0."
                    ) from None
        return -1

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: after a crash between our state
        # swap and the engine's checkpoint commit, the SAME batch_id is
        # re-delivered (with identical deterministic contents). Applying
        # it again would double-count every effect — the query-scoped
        # watermark makes the sink idempotent, which is what upgrades
        # the end-to-end contract to exactly-once.
        _recover(self.state_dir, self._marker)
        if batch_id <= self.last_applied():
            return
        effects = delta_effects(
            batch, self.keys, self.value_col, op_col=self.op_col
        )
        merged = merge_state(self.read_state(), effects, self.keys)

        # merged is localCheckpoint-pinned, so its rows no longer
        # reference the old state files — safe to swap underneath it
        def write_next(path: str) -> None:
            merged.coalesce(1).write.mode("overwrite").parquet(path)
            if self.query_tag is not None:
                # fsync the sidecar too: a machine crash could otherwise
                # persist the rename but tear the watermark — and a torn
                # watermark whose tag still matched would have silently
                # re-applied the batch
                with open(os.path.join(path, "_applied_batch_id"), "w") as f:
                    f.write(f"{self.query_tag}\n{batch_id}")
                    f.flush()
                    os.fsync(f.fileno())

        _swap_in(self.state_dir, write_next)
