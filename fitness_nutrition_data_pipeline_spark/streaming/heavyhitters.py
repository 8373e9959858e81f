"""Streaming heavy hitters: a sharded Misra-Gries summary as a third
custom stateful operator (beside the sessionizer and the rate limiter).

The batch pass (operators/sketches.py::misra_gries_candidates +
queries/sketch_ops.py::heavy_hitters_verified, driver-green) finds
frequent keys with one narrow pass; this is its LIVE twin: the stream is
hash-sharded, each shard's group maintains a bounded Misra-Gries counter
table in checkpointed state, and every micro-batch emits the shard's
current candidate table (update semantics). Counts are LOWER BOUNDS; the
decrement total per shard is carried in state and emitted as the error
bound, so a consumer reads `count_lb <= true <= count_lb + err_bound`
(per shard). The classic guarantee holds shard-locally: any key whose
shard frequency exceeds n_shard/(capacity+1) is in the table — and since
a key hashes to exactly ONE shard, any key whose GLOBAL frequency
exceeds N/(capacity+1) is in its shard's table whenever shards see
balanced volume (worst case: its shard's own threshold).

State per shard is three parallel arrays capped at ``capacity`` — fixed
memory regardless of stream volume, the same posture as every stateful
operator in this package.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fitness_nutrition_data_pipeline_spark.streaming.sessions import EVENT_SCHEMA

HH_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("count_lb", T.LongType()),
        T.StructField("err_bound", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("decremented", T.LongType()),
    ]
)


def _make_mg(capacity: int):
    def mg(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState  # noqa: F821
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        (shard,) = key
        if state.exists:
            keys, counts, decremented = state.get
            table = pd.Series(
                list(counts), index=list(keys), dtype="int64"
            )
        else:
            table, decremented = pd.Series(dtype="int64"), 0

        for pdf in pdfs:
            vc = pdf["key"].value_counts()
            table = vc.astype("int64") if table.empty else table.add(
                vc, fill_value=0
            ).astype("int64")
            if len(table) > capacity:
                # mergeable-summary decrement: drop the (capacity+1)-th
                # weight from everyone; survivors keep count - cut
                cut = int(table.nlargest(capacity + 1).iloc[-1])
                table = table[table > cut] - cut
                decremented += cut

        # deterministic state + emission order
        table = table.sort_index()
        state.update((list(table.index), [int(x) for x in table], decremented))
        yield pd.DataFrame(
            {
                "shard": shard,
                "key": list(table.index),
                "count_lb": [int(x) for x in table],
                "err_bound": decremented,
            }
        )

    return mg


def stream_heavy_hitters(
    spark: SparkSession,
    input_dir: str,
    *,
    key_col: str = "event_type",
    n_shards: int = 4,
    capacity: int = 64,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Live frequent-keys summary over a parquet event feed. Each batch
    emits every shard's full current table (update mode downstream)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(input_dir)
    sharded = src.select(
        F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_shards)).alias("shard"),
        F.col(key_col).cast("string").alias("key"),
    )
    return sharded.groupBy("shard").applyInPandasWithState(
        _make_mg(capacity),
        outputStructType=HH_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_heavy_hitters_once(
    spark: SparkSession,
    input_dir: str,
    name: str,
    *,
    key_col: str = "event_type",
    n_shards: int = 4,
    capacity: int = 64,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drain available files and return each shard's FINAL table.

    A memory sink would accumulate update-mode rows across micro-batches
    with no batch discriminator, and count_lb is non-monotone across
    decrements — so when availableNow splits the input into multiple
    batches there is no correct way to recover the current table from
    the union of emissions. Drain via foreachBatch instead,
    keeping only the LATEST emission per shard: every batch emits a
    shard's full current table, so last-batch-wins per shard is exactly
    the live state. The result is also registered as temp view ``name``
    (the old memory-sink read path)."""
    # shard -> that shard's table from the NEWEST batch that emitted it.
    # foreachBatch invocations are serialized in batch order, so a plain
    # dict.update is last-batch-wins — and driver memory stays bounded
    # by (n_shards x capacity) instead of growing with batch count
    # (keeping every batch's full emission was linear in the number of
    # micro-batches for no benefit).
    latest: dict[int, list] = {}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        by_shard: dict[int, list] = {}
        for row in batch_df.collect():
            by_shard.setdefault(row.shard, []).append(row)
        latest.update(by_shard)

    q = (
        stream_heavy_hitters(
            spark, input_dir, key_col=key_col, n_shards=n_shards,
            capacity=capacity, max_files_per_trigger=max_files_per_trigger,
        )
        .writeStream.foreachBatch(_sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = [r for shard_rows in latest.values() for r in shard_rows]
    out = spark.createDataFrame(rows, HH_SCHEMA) if rows else (
        spark.createDataFrame([], HH_SCHEMA)
    )
    out.createOrReplaceTempView(name)
    return out
