"""Structured Streaming extension (SURVEY §2.8): the operators below,
plus two helpers that run them outside a long-lived query.

- ``drain`` runs a finite file-source stream to completion into a memory
  table. The memory sink keeps no recoverable checkpoint, so a drained
  query cannot resume; restarts need a parquet or foreachBatch sink with
  a ``checkpointLocation``.
- ``replay`` runs an ``applyInPandasWithState`` callback over a batch
  frame, each group as one micro-batch with empty state. A batch
  ``applyInPandasWithState`` is rejected as unsupported in a batch
  query, so the registered batch replays of the stateful operators go
  through this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from fitness_nutrition_data_pipeline_spark.streaming.cep import stream_detect_sequences
from fitness_nutrition_data_pipeline_spark.streaming.dedup import (
    dedup_by_content,
    dedup_by_key,
)
from fitness_nutrition_data_pipeline_spark.streaming.drift import (
    binned_drift_scores,
    windowed_value_histogram,
)
from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
    run_heavy_hitters_once,
    stream_heavy_hitters,
)
from fitness_nutrition_data_pipeline_spark.streaming.hygiene import contamination_alerts
from fitness_nutrition_data_pipeline_spark.streaming.ivm import IncrementalAggMaintainer
from fitness_nutrition_data_pipeline_spark.streaming.joins import stream_stream_attribution
from fitness_nutrition_data_pipeline_spark.streaming.lsh_bridge import (
    LshDedupBridge,
    run_lsh_bridge_stream,
)
from fitness_nutrition_data_pipeline_spark.streaming.ratelimit import rate_limit_stream
from fitness_nutrition_data_pipeline_spark.streaming.rollups import stream_fact_health_metric
from fitness_nutrition_data_pipeline_spark.streaming.sessions import (
    stream_sessionize,
    stream_sessionize_native,
)

__all__ = [
    "stream_sessionize",
    "stream_sessionize_native",
    "stream_detect_sequences",
    "rate_limit_stream",
    "stream_heavy_hitters",
    "run_heavy_hitters_once",
    "dedup_by_key",
    "dedup_by_content",
    "stream_stream_attribution",
    "windowed_value_histogram",
    "binned_drift_scores",
    "contamination_alerts",
    "stream_fact_health_metric",
    "LshDedupBridge",
    "run_lsh_bridge_stream",
    "IncrementalAggMaintainer",
    "drain",
    "replay",
]


def drain(stream: DataFrame, name: str, mode: str = "append") -> DataFrame:
    """Run ``stream`` over every file available now into memory table
    ``name`` (output ``mode``) and return that table."""
    (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return stream.sparkSession.table(name)


def replay(df: DataFrame, keys: list[str], callback, schema: T.StructType) -> DataFrame:
    """Run the stateful ``callback(key, pdfs, state)`` once per ``keys``
    group of the batch frame ``df``: the group is one micro-batch, the
    state starts empty and its updates are dropped. Returns the emitted
    rows under ``schema``."""

    class _BatchState:
        exists = False

        def update(self, value):  # noqa: D102 — GroupState protocol shim
            pass

    def run(key, pdf):
        import pandas as pd

        frames = list(callback(key, iter([pdf]), _BatchState()))
        if frames:
            return pd.concat(frames, ignore_index=True)
        return pd.DataFrame(columns=schema.fieldNames())

    return df.groupBy(*keys).applyInPandas(run, schema)
