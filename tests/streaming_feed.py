"""Micro-batch feed for the streaming tests.

``write_events`` writes rows of ``streaming.sessions.EVENT_SCHEMA``
(event_id, ts, user_id, event_type, value) as one parquet file, with
pyarrow rather than a Spark write per file (a Spark write per micro-batch
tripled the property tests' wall-clock). Naive ``ts`` datetimes are
stored as UTC.

``feed`` writes one cut of a feed as the next file of ``<work>/in`` and
drains a stream over that directory with an availableNow trigger against
the checkpoint ``<work>/ck``, so each call is one micro-batch and the
operator's state carries from call to call as across a restarted query.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

_COLUMNS = (
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
)


def write_events(indir: str, name: str, rows) -> None:
    """Write ``rows`` as the parquet file ``indir/name``. The file source
    takes new files in modification-time order at millisecond grain, so
    the file gets a later millisecond than every file already there."""
    os.makedirs(indir, exist_ok=True)
    cols = list(zip(*rows))
    path = os.path.join(indir, name)
    pq.write_table(
        pa.table({c: pa.array(list(v), t) for (c, t), v in zip(_COLUMNS, cols)}), path
    )
    last_ms = max(
        (
            os.stat(os.path.join(indir, f)).st_mtime_ns // 1_000_000
            for f in os.listdir(indir)
            if f != name
        ),
        default=-1,
    )
    if os.stat(path).st_mtime_ns // 1_000_000 <= last_ms:
        ns = (last_ms + 1) * 1_000_000
        os.utime(path, ns=(ns, ns))


def feed(work: str, rows, stream, mode: str = "append") -> list:
    """Write ``rows`` as the next file of ``work/in``, run ``stream(indir)``
    over it, and return the rows that drain emitted (``mode`` is the
    output mode)."""
    indir = os.path.join(work, "in")
    os.makedirs(indir, exist_ok=True)
    write_events(indir, f"f{len(os.listdir(indir))}.parquet", rows)
    emitted: list = []
    (
        stream(indir)
        .writeStream.foreachBatch(lambda df, _batch_id: emitted.extend(df.collect()))
        .outputMode(mode)
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return emitted
