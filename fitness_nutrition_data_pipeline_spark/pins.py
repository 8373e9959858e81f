"""Explicit release of ``localCheckpoint`` pins.

A pin is a ``LogicalRDD`` leaf over an RDD that stays persisted until
someone unpersists it, or until the context cleaner finds the RDD
unreachable after some JVM collection. ``DataFrame.unpersist`` does not
reach it: that call only drops ``CacheManager`` entries. ``unpin`` finds
the pins under frames by walking the ``LogicalRDD`` leaves of their
analyzed plans and unpersists them at once.

Only the frames named are walked, so a caller releases exactly the pins
it built, never another user's state in a shared session.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame


def pinned_rdds(frames: Iterable[DataFrame]) -> dict[int, object]:
    """RDD id → JVM RDD of every persisted ``LogicalRDD`` leaf under
    ``frames``."""
    out: dict[int, object] = {}
    for df in frames:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.nodeName() != "LogicalRDD":
                continue
            rdd = leaf.rdd()
            if rdd.getStorageLevel().isValid():
                out[rdd.id()] = rdd
    return out


def unpin(frames: Iterable[DataFrame], keep: Iterable[DataFrame] = ()) -> None:
    """Unpersist the pins under ``frames``, except those also under
    ``keep``. Frames over a released pin must not be read again."""
    kept = pinned_rdds(keep)
    for rdd_id, rdd in pinned_rdds(frames).items():
        if rdd_id not in kept:
            rdd.unpersist(True)
