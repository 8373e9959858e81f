"""Validation reports: a check that cannot run is counted as attempted and
logged with its name, and leaves the quality score unchanged (the
reference's lenient rule); the report on a deliberately broken warehouse
is pinned; and validation stays within a fixed Spark job budget."""

import logging

import pytest
from pyspark.logger import PySparkLogger
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.pipeline import FitnessWarehousePipeline
from fitness_nutrition_data_pipeline_spark.validation import (
    EXPECTED_TABLES,
    validate_warehouse,
)

from tests import fixtures as FX


def _validate_snapshot_only(spark, columns: str):
    for t in EXPECTED_TABLES:
        spark.catalog.dropTempView(t)
    spark.sql(
        f"SELECT {columns} FROM VALUES (1, 1, 70.0, 22.0) "
        "AS t(SnapshotKey, UserKey, Weight, BMI)"
    ).createOrReplaceTempView("Fact_UserSnapshot")
    try:
        return validate_warehouse(spark)
    finally:
        spark.catalog.dropTempView("Fact_UserSnapshot")


def test_range_check_without_column_counts_but_does_not_score(spark, caplog):
    with_height = _validate_snapshot_only(spark, "*, 1.75 AS Height")
    # PySpark logs every AnalysisException it raises to this logger (which
    # does not propagate); a check left out by its schema raises none
    query_context = PySparkLogger.getLogger("SQLQueryContextLogger")
    query_context.addHandler(caplog.handler)
    try:
        with caplog.at_level(logging.WARNING):
            without = _validate_snapshot_only(spark, "*")
    finally:
        query_context.removeHandler(caplog.handler)
    assert [r for r in caplog.records if r.name == "SQLQueryContextLogger"] == []

    assert without.checks_run == with_height.checks_run
    assert without.quality_score == with_height.quality_score
    assert without.issues == with_height.issues
    assert without.warnings == with_height.warnings
    failed = [r for r in caplog.records if "RANGE Height" in r.getMessage()]
    assert len(failed) == 1 and failed[0].levelno == logging.WARNING


@pytest.fixture(scope="module")
def warehouse_paths(spark, tmp_path_factory):
    """The fixture warehouse written to parquet: {table: path}."""
    base = str(tmp_path_factory.mktemp("validation_wh"))
    data_dir = FX.write_fixtures(base)
    cfg = PipelineConfig(
        data_dir=data_dir,
        fitbit_dir=f"{data_dir}/fitbit",
        warehouse_dir=f"{base}/warehouse",
        output_dir=f"{base}/output",
    )
    p = FitnessWarehousePipeline(spark, cfg)
    p.extract()
    p.transform()
    paths = p.load()
    for df in p.warehouse.values():
        df.unpersist()
    yield paths
    for t in EXPECTED_TABLES:
        spark.catalog.dropTempView(t)


def _register(spark, paths):
    for name, path in paths.items():
        spark.read.parquet(path).createOrReplaceTempView(name)


def _with_copy(df, **changes):
    """``df`` unioned with a copy of itself whose columns are replaced by
    ``changes`` (a Column expression, or None for a typed NULL)."""
    copy = df
    for col, expr in changes.items():
        expr = F.lit(None) if expr is None else expr
        copy = copy.withColumn(col, expr.cast(df.schema[col].dataType))
    return df.unionByName(copy)


def test_fault_injected_report_is_pinned(spark, warehouse_paths):
    """Every scalar check family fires on a deliberately broken warehouse:
    duplicate PKs over a self-union, orphans, NULLs, out-of-range values,
    a range check whose column is gone and a missing dimension."""
    _register(spark, warehouse_paths)
    user = spark.table("Dim_User")
    user.unionByName(user).createOrReplaceTempView("Dim_User")
    _with_copy(
        spark.table("Fact_WorkoutSession"),
        UserKey=F.col("UserKey") + 999999,
        DurationHours=F.lit(99),
        CaloriesBurned=F.lit(-5),
        WorkoutTypeKey=None,
    ).createOrReplaceTempView("Fact_WorkoutSession")
    _with_copy(
        spark.table("Fact_UserSnapshot"),
        Height=F.lit(9.0),
        BMI=None,
        GoalKey=F.col("GoalKey") + 1000,
    ).drop("Weight").createOrReplaceTempView("Fact_UserSnapshot")
    diet = spark.table("Dim_Diet")
    diet.withColumn(
        "DietName", F.lit(None).cast(diet.schema["DietName"].dataType)
    ).createOrReplaceTempView("Dim_Diet")
    spark.catalog.dropTempView("Dim_MealType")

    res = validate_warehouse(spark)
    assert res.issues == [
        "PK CHECK Dim_User: 8",
        "PK CHECK Fact_UserSnapshot: 8",
        "PK CHECK Fact_WorkoutSession: 2",
        "ORPHAN Fact_UserSnapshot.GoalKey: 8",
        "ORPHAN Fact_WorkoutSession.UserKey: 2",
        "NULL VIOL Dim_Diet.DietName: 7",
    ]
    assert res.warnings == [
        "MISSING TABLES: 1",
        "RANGE Height: 8",
        "RANGE DurationHours: 2",
        "RANGE CaloriesBurned: 2",
        "COVERAGE workout->user: 2",
    ]
    assert res.quality_score == 65.0
    assert res.checks_run == 77
    assert res.table_counts == {
        "Dim_User": 16, "Dim_Date": 3653, "Dim_FoodItem": 3,
        "Dim_WorkoutType": 4, "Dim_MetricType": 4, "Dim_HealthCondition": 2,
        "Dim_FitnessGoal": 3, "Dim_FitnessType": 4, "Dim_Exercise": 2,
        "Dim_Diet": 7, "Fact_UserSnapshot": 16, "Fact_WorkoutSession": 4,
        "Fact_HealthMetric": 8, "Fact_NutritionLog": 130,
        "Bridge_User_HealthCondition": 2, "Bridge_User_WorkoutPreference": 2,
        "Bridge_User_DietPreference": 8,
    }
    assert list(res.table_counts) == [
        t for t in EXPECTED_TABLES if t != "Dim_MealType"
    ]


def test_validation_job_budget(spark, warehouse_paths):
    """The scalar corpus reads each table in one aggregate, so validating
    the fixture warehouse stays within a fixed number of Spark jobs."""
    _register(spark, warehouse_paths)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    validate_warehouse(spark)
    jobs = len(set(tracker.getJobIdsForGroup(None)) - before)
    assert jobs <= 110
