"""Streaming data-hygiene: benchmark-contamination alerting on a live
document feed, the ingest-edge twin of the batch training-data passes
(operators/text.py).

PII redaction needs no streaming operator of its own: the batch
``operators/text.pii_scan`` is a pure per-row projection (regexp count +
replace), so it applies to a streaming frame as it is.

The alert join is STATELESS (broadcast stream-static join), so it runs
with zero state-store growth. Windowed dedup of alerts composes
downstream via streaming/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.text import (
    benchmark_gram_set,
    word_shingles,
)


def contamination_alerts(
    stream: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """Stream of (doc, matched benchmark gram) hits: each incoming doc's
    distinct n-grams are probed against a STATIC benchmark gram set via a
    broadcast stream-static inner join.

    Explode + broadcast join are both stateless, so the query runs in
    append mode with no watermark and no state store; every emitted row
    is a contamination hit the moment the doc arrives. Dedup/rollup of
    alerts (e.g. one alert per doc per hour) composes downstream with
    ``streaming/dedup.dedup_by_key``.

    The static side is the benchmark (tiny, broadcast); Spark re-plans it
    per micro-batch, so a refreshed benchmark table is picked up without
    restarting the query.
    """
    bench_grams = benchmark_gram_set(benchmark, text_col, n=n)
    hits = stream.select(
        "*", F.explode(word_shingles(text_col, n)).alias("gram")
    ).drop(text_col)
    return hits.join(F.broadcast(bench_grams), "gram")
