"""Benchmark-contamination alerts on a document feed: one row per
(doc, matched benchmark gram), the per-hit form of the batch
training-data passes (operators/text.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.text import (
    benchmark_gram_set,
    word_shingles,
)


def contamination_alerts(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
) -> DataFrame:
    """(doc, matched benchmark gram) hits: each doc's n-grams are probed
    against the benchmark's distinct gram set via a broadcast inner join.
    Explode + broadcast join are both row-local, so the only shuffle is
    the benchmark side's distinct.
    """
    bench_grams = benchmark_gram_set(benchmark, text_col, n=n)
    hits = docs.select(
        "*", F.explode(word_shingles(text_col, n)).alias("gram")
    ).drop(text_col)
    return hits.join(F.broadcast(bench_grams), "gram")
