"""Failure semantics of ``FitnessWarehousePipeline.transform()``.

transform() primes the staging and mapping caches on background threads
while it declares the warehouse DAG. A prime error must surface (load()
relies on warm caches), but never in place of a builder's own error.
"""

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark import pipeline as P
from fitness_nutrition_data_pipeline_spark.config import PipelineConfig


def _failing_frame(spark, msg: str):
    # the filter keeps assert_true in the plan whatever the action
    # prunes, so the staging prime (a count) hits it
    return spark.range(1).where(F.assert_true(F.lit(False), msg).isNull())


@pytest.fixture()
def stub_builders(spark, monkeypatch):
    """Builders that declare trivially, with a staging frame whose prime
    fails; individual tests re-patch a builder to raise."""
    monkeypatch.setattr(
        P,
        "resolve_users",
        lambda *a: (_failing_frame(spark, "prime boom"), spark.range(2)),
    )
    monkeypatch.setattr(
        P, "build_dimensions", lambda *a: {"Dim_Date": spark.range(3)}
    )
    monkeypatch.setattr(P, "build_bridges", lambda *a: {})
    monkeypatch.setattr(P, "build_facts", lambda *a: {})
    pipe = P.FitnessWarehousePipeline(spark, PipelineConfig())
    pipe.sources = {}
    return pipe


def test_prime_error_surfaces_when_builders_succeed(stub_builders):
    with pytest.raises(Exception, match="prime boom"):
        stub_builders.transform()


@pytest.mark.parametrize("builder", ["build_dimensions", "build_bridges", "build_facts"])
def test_builder_error_wins_over_prime_error(stub_builders, monkeypatch, builder):
    def boom(*a):
        raise RuntimeError(f"{builder} boom")

    monkeypatch.setattr(P, builder, boom)
    with pytest.raises(RuntimeError, match=f"{builder} boom"):
        stub_builders.transform()

