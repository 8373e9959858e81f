"""Approximate aggregation (sketch) operators — the 100 TB companions of
the exact checks. HyperLogLog++ distinct counts and quantile sketches
are Spark built-ins (``F.approx_count_distinct``,
``F.percentile_approx``), which queries/sketch_ops.py calls directly;
this module holds the frequent-items sketch Spark lacks.

Validation stays EXACT (SURVEY A5 note: `countDistinct`, never approx);
sketches are for interactive/exploratory stats where a few percent of
error is a fair trade for one pass and O(1) memory per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def misra_gries_candidates(
    df: DataFrame, key_col: str, *, capacity: int = 256
) -> DataFrame:
    """Per-partition Misra-Gries frequent-items candidates.

    One narrow pass: each partition keeps at most ``capacity`` weighted
    counters (Arrow-batched; per chunk a vectorized ``value_counts`` is
    merged into the counter table, then the whole table is decremented by
    the (capacity+1)-th largest weight and non-positive rows dropped —
    the mergeable-summary form of the classic one-at-a-time decrement).
    Every key with partition frequency > n_part/(capacity+1) survives its
    partition, so by pigeonhole every key with GLOBAL frequency >
    N/(capacity+1) appears in the returned candidate set — the candidates
    are a guaranteed superset of the true phi-heavy hitters for any
    phi >= 1/(capacity+1). Output: distinct candidate keys (<= capacity
    per input partition crosses the shuffle, regardless of input size).
    """
    from pyspark.sql import types as T

    field = df.schema[key_col]
    out_schema = T.StructType([T.StructField(key_col, field.dataType)])

    def mg(pdfs):
        import pandas as pd

        counts = None
        for pdf in pdfs:
            vc = pdf[key_col].value_counts()
            counts = vc if counts is None else counts.add(vc, fill_value=0)
            if len(counts) > capacity:
                cut = counts.nlargest(capacity + 1).iloc[-1]
                counts = counts[counts > cut] - cut
        keys = [] if counts is None else list(counts.index)
        yield pd.DataFrame({key_col: keys})

    return df.select(key_col).mapInPandas(mg, out_schema).distinct()
