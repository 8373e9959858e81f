"""Contract and failure semantics of ``FitnessWarehousePipeline.transform()``.

transform() pins user resolution (staging and mapping) as flat local
checkpoints before it declares any dimension, bridge or fact. So a
resolution failure surfaces before any builder runs, the pins are single
``LogicalRDD`` leaves, only the dimensions go into the session's cache,
and the Fitbit CSVs are read for device ids once.
"""

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark import pipeline as P
from fitness_nutrition_data_pipeline_spark.config import PipelineConfig

from tests import fixtures as FX

BUILDERS = ["build_dimensions", "build_bridges", "build_facts"]


def _failing_frame(spark, msg: str):
    # the filter keeps assert_true in the plan whatever the action
    # prunes, so pinning the frame hits it
    return spark.range(1).where(F.assert_true(F.lit(False), msg).isNull())


def _stub_pipeline(spark, monkeypatch, staging):
    """A pipeline whose resolution returns ``staging`` and whose builders
    declare trivially; individual tests re-patch a builder."""
    monkeypatch.setattr(P, "resolve_users", lambda *a: (staging, spark.range(2)))
    monkeypatch.setattr(
        P, "build_dimensions", lambda *a: {"Dim_Date": spark.range(3)}
    )
    monkeypatch.setattr(P, "build_bridges", lambda *a: {})
    monkeypatch.setattr(P, "build_facts", lambda *a: {})
    pipe = P.FitnessWarehousePipeline(spark, PipelineConfig())
    pipe.sources = {}
    return pipe


def test_failing_resolution_pin_raises_before_any_builder(spark, monkeypatch):
    pipe = _stub_pipeline(spark, monkeypatch, _failing_frame(spark, "pin boom"))
    called = []
    for builder in BUILDERS:
        monkeypatch.setattr(P, builder, lambda *a, _b=builder: called.append(_b))
    with pytest.raises(Exception, match="pin boom"):
        pipe.transform()
    assert called == []


@pytest.mark.parametrize("builder", BUILDERS)
def test_builder_error_surfaces_with_healthy_resolution(spark, monkeypatch, builder):
    pipe = _stub_pipeline(spark, monkeypatch, spark.range(1))

    def boom(*a):
        raise RuntimeError(f"{builder} boom")

    monkeypatch.setattr(P, builder, boom)
    with pytest.raises(RuntimeError, match=f"{builder} boom"):
        pipe.transform()


def test_transform_pins_resolution_flat(spark, tmp_path):
    data_dir = FX.write_fixtures(str(tmp_path))
    cfg = PipelineConfig(
        data_dir=data_dir,
        fitbit_dir=f"{data_dir}/fitbit",
        warehouse_dir=str(tmp_path / "warehouse"),
        output_dir=str(tmp_path / "output"),
    )
    pipe = P.FitnessWarehousePipeline(spark, cfg)
    pipe.extract()

    # count every Fitbit row evaluated while transform() runs
    rows_read = spark.sparkContext.accumulator(0)

    def seen(_):
        rows_read.add(1)
        return True

    seen_udf = F.udf(seen, "boolean")
    fitbit = {k: df for k, df in pipe.sources["fitbit"].items() if "Id" in df.columns}
    assert fitbit
    fitbit_rows = sum(df.count() for df in fitbit.values())
    pipe.sources["fitbit"] = {
        **pipe.sources["fitbit"],
        **{k: df.where(seen_udf("Id")) for k, df in fitbit.items()},
    }

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pipe.transform()

    assert rows_read.value == fitbit_rows
    for df in (pipe.staging, pipe.mapping):
        plan = df._jdf.queryExecution().analyzed()
        assert plan.nodeName() == "LogicalRDD"
        assert plan.children().isEmpty()
        assert cache.lookupCachedData(df._jdf).isEmpty()

    dims = {k: v for k, v in pipe.warehouse.items() if k.startswith("Dim_")}
    assert dims
    assert all(cache.lookupCachedData(df._jdf).isDefined() for df in dims.values())
    # dims with equal plans (Dim_FitnessType, Dim_WorkoutType) share an entry
    for df in dims.values():
        df.unpersist(blocking=True)
    assert cache.isEmpty()
