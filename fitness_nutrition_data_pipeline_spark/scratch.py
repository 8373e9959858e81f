"""Managed scratch directories for queries that materialize intermediate
files (format round-trips, partitioned-write audits, MV snapshots).

Ad-hoc per-query temp trees that nothing deletes leak one directory
per Spark application, so all such paths come from
:func:`scratch_path`, which roots them under ONE per-application
directory and registers a single ``atexit`` cleanup for it, so a
session's scratch disappears when the interpreter exits (crash-killed
sessions leave at most one root, reaped by the OS tmp cleaner, instead
of an unbounded collection of unmarked trees).

Builder-time side effect, documented contract: these queries write
eagerly at PLAN-BUILD time — ``df.write`` inside the builder runs when
the builder is called, so merely explaining or plan-dumping one of
these queries triggers the write. That is inherent to what they test
(the round-trip through a sink is the operator under test); the
managed root bounds the cost.

Override the base with ``SPARK_GRAFT_SCRATCH`` (e.g. a per-job tmpfs).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_CLEANUP_REGISTERED: set[str] = set()


def scratch_path(spark, *parts: str) -> str:
    """A path under the session-scoped managed scratch root.

    ``parts`` should include anything that must not collide across
    concurrent uses inside one session (sf tag, query name); the
    application id scopes the root across sessions.
    """
    base = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    root = os.path.join(
        base, f"spark_graft_scratch_{spark.sparkContext.applicationId}"
    )
    if root not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(root, *parts)
