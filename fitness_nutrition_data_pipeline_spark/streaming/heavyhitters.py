"""Misra-Gries heavy hitters over hash shards, as a per-shard function
for ``applyInPandas``.

The batch pass (operators/sketches.py::misra_gries_candidates +
queries/sketch_ops.py::heavy_hitters_verified) finds frequent keys with
one narrow pass; this is the sharded summary form: each shard's group
folds its key counts into a table of at most ``capacity`` keys. When the
table overflows, the (capacity+1)-th largest count is cut from every key
and only the keys above it survive. Counts are LOWER BOUNDS and the cut
is emitted as the error bound, so a consumer reads
``count_lb <= true <= count_lb + err_bound`` per shard. Any key whose
shard frequency exceeds n_shard/(capacity+1) is in its shard's table.
"""

from __future__ import annotations

from pyspark.sql import types as T

HH_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("count_lb", T.LongType()),
        T.StructField("err_bound", T.LongType()),
    ]
)


def _make_mg(capacity: int):
    """``(key, pdf) -> pdf`` summarizing one shard's ``key`` column as
    rows of ``HH_SCHEMA``, ordered by key."""

    def mg(key, pdf):
        import pandas as pd

        (shard,) = key
        table = pdf["key"].value_counts().astype("int64")
        cut = 0
        if len(table) > capacity:
            cut = int(table.nlargest(capacity + 1).iloc[-1])
            table = table[table > cut] - cut
        table = table.sort_index()
        return pd.DataFrame(
            {
                "shard": shard,
                "key": list(table.index),
                "count_lb": [int(x) for x in table],
                "err_bound": cut,
            }
        )

    return mg
