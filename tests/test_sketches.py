"""Misra-Gries frequent-items candidates (operators/sketches.py): a
guaranteed superset of the phi-heavy hitters, on skewed and uniform keys."""

from pyspark.sql import functions as F


def test_misra_gries_superset_guarantee(spark):
    """Every key with global freq > N/(capacity+1) must appear in the
    candidate set, no matter how rows land across partitions — tested
    with a tiny capacity (8) and a skewed synthetic key distribution
    shuffled across 7 partitions."""
    from fitness_nutrition_data_pipeline_spark.operators.sketches import (
        misra_gries_candidates,
    )

    rows = []
    # two heavy keys (30% and 15%) over a long uniform tail
    rows += [("hot1",)] * 3000 + [("hot2",)] * 1500
    rows += [(f"tail{i % 550}",) for i in range(5500)]
    df = spark.createDataFrame(rows, "k string").repartition(7)
    cand = {r["k"] for r in misra_gries_candidates(df, "k", capacity=8).collect()}
    n = 10000
    per_key = df.groupBy("k").count()
    heavy = {r["k"] for r in per_key.where(F.col("count") > n / 9).collect()}
    assert heavy == {"hot1", "hot2"}
    assert heavy <= cand
    # candidate set stays bounded: <= capacity per partition
    assert len(cand) <= 8 * 7


def test_misra_gries_uniform_no_false_negatives(spark):
    """Uniform data: no key is phi-heavy, so the verified-heavy-hitter
    set (exact counts over candidates, filtered by phi) is empty — the
    candidates themselves may be arbitrary survivors."""
    from fitness_nutrition_data_pipeline_spark.operators.sketches import (
        misra_gries_candidates,
    )

    df = spark.createDataFrame(
        [(f"k{i % 500}",) for i in range(5000)], "k string"
    ).repartition(5)
    cand = misra_gries_candidates(df, "k", capacity=16)
    exact = (
        df.join(F.broadcast(cand), "k")
        .groupBy("k")
        .count()
        .where(F.col("count") * 17 > 5000)
    )
    assert exact.count() == 0
