"""A validation check that cannot run is counted as attempted and logged
with its name, and leaves the quality score unchanged (the reference's
lenient rule)."""

import logging

from fitness_nutrition_data_pipeline_spark.validation import (
    EXPECTED_TABLES,
    validate_warehouse,
)


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
    with caplog.at_level(logging.WARNING):
        without = _validate_snapshot_only(spark, "*")

    assert without.checks_run == with_height.checks_run
    assert without.quality_score == with_height.quality_score
    assert without.issues == with_height.issues
    assert without.warnings == with_height.warnings
    failed = [r for r in caplog.records if "RANGE Height" in r.getMessage()]
    assert len(failed) == 1 and failed[0].levelno == logging.WARNING
