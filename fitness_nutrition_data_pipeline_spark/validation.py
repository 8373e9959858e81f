"""Data-quality validation corpus + scorer (SURVEY §2.9).

Re-expresses the reference's MySQL corpus (validation.sql:1-462) as Spark
SQL over the warehouse views, generated from schema metadata instead of a
parsed script. Check families and their reference citations:

- table inventory / missing tables        validation.sql:16-46
- PK uniqueness (incl. composite concat)  validation.sql:49-121
- FK orphans (non-NULL FKs)               validation.sql:126-223
- NOT NULL                                validation.sql:227-244
- domain inventories (GROUP_CONCAT)       validation.sql:249-256
- range checks (config bounds ≙ SET @var) validation.sql:7-13, 259-291
- FK coverage percentages                 validation.sql:295-325
- distribution stats                      validation.sql:329-359
- analytical smoke tests                  validation.sql:364-393

The scalar checks (inventory count, PK, orphan, NOT NULL, range) read
each present table ONCE: one aggregate per table computes its row count
and every check on it as a column, and the tables' aggregates run side by
side. `PK_CHECKS`, `FK_CHECKS`, `NOT_NULL_CHECKS` and the range bounds
are the only check definitions.

Scoring matches `_process_validation_row` (main_etl_pipeline.py:902-920):
start 100; −5 when the failing check name contains PK CHECK / ORPHAN /
NULL VIOL; −1 for other findings; floored at 0. Lenient rule (:841-842):
a check that reads a column the table's schema lacks is left out of its
table's aggregate, logged, counted as attempted and leaves the score
unchanged; when a table's aggregate fails to run, `COUNT FAILED <table>`
is scored and each of its checks counts as attempted, unscored. An
analytical-corpus statement that fails counts the same way.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from datetime import datetime
from functools import partial

from pyspark.sql import SparkSession

from fitness_nutrition_data_pipeline_spark.config import VALIDATION_BOUNDS
from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel

logger = logging.getLogger(__name__)

EXPECTED_TABLES = [
    "Dim_User", "Dim_Date", "Dim_FoodItem", "Dim_WorkoutType", "Dim_MealType",
    "Dim_MetricType", "Dim_HealthCondition", "Dim_FitnessGoal", "Dim_FitnessType",
    "Dim_Exercise", "Dim_Diet",
    "Fact_UserSnapshot", "Fact_WorkoutSession", "Fact_HealthMetric", "Fact_NutritionLog",
    "Bridge_User_HealthCondition", "Bridge_User_WorkoutPreference", "Bridge_User_DietPreference",
]

# table → PK columns; a composite key is checked as the concat of its
# columns (validation.sql:111-120)
PK_CHECKS = {
    "Dim_Date": ("DateKey",),
    "Dim_User": ("UserKey",),
    "Dim_FitnessGoal": ("GoalKey",),
    "Dim_FitnessType": ("TypeKey",),
    "Dim_HealthCondition": ("ConditionKey",),
    "Dim_Exercise": ("ExerciseKey",),
    "Dim_Diet": ("DietKey",),
    "Dim_FoodItem": ("FoodKey",),
    "Dim_MetricType": ("MetricTypeKey",),
    "Dim_MealType": ("MealTypeKey",),
    "Dim_WorkoutType": ("WorkoutTypeKey",),
    "Bridge_User_HealthCondition": ("UserKey", "ConditionKey"),
    "Bridge_User_WorkoutPreference": ("UserKey", "ExerciseKey"),
    "Bridge_User_DietPreference": ("UserKey", "DietKey"),
    "Fact_UserSnapshot": ("SnapshotKey",),
    "Fact_WorkoutSession": ("SessionKey",),
    "Fact_HealthMetric": ("MetricKey",),
    "Fact_NutritionLog": ("LogKey",),
}

# (fact, fk, dim, dim_key)
FK_CHECKS = [
    ("Fact_UserSnapshot", "UserKey", "Dim_User", "UserKey"),
    ("Fact_UserSnapshot", "GoalKey", "Dim_FitnessGoal", "GoalKey"),
    ("Fact_UserSnapshot", "TypeKey", "Dim_FitnessType", "TypeKey"),
    ("Fact_WorkoutSession", "UserKey", "Dim_User", "UserKey"),
    ("Fact_WorkoutSession", "DateKey", "Dim_Date", "DateKey"),
    ("Fact_WorkoutSession", "WorkoutTypeKey", "Dim_WorkoutType", "WorkoutTypeKey"),
    ("Fact_HealthMetric", "UserKey", "Dim_User", "UserKey"),
    ("Fact_HealthMetric", "DateKey", "Dim_Date", "DateKey"),
    ("Fact_HealthMetric", "MetricTypeKey", "Dim_MetricType", "MetricTypeKey"),
    ("Fact_NutritionLog", "UserKey", "Dim_User", "UserKey"),
    ("Fact_NutritionLog", "DateKey", "Dim_Date", "DateKey"),
    ("Fact_NutritionLog", "MealTypeKey", "Dim_MealType", "MealTypeKey"),
    ("Fact_NutritionLog", "FoodKey", "Dim_FoodItem", "FoodKey"),
    ("Bridge_User_HealthCondition", "UserKey", "Dim_User", "UserKey"),
    ("Bridge_User_HealthCondition", "ConditionKey", "Dim_HealthCondition", "ConditionKey"),
    ("Bridge_User_WorkoutPreference", "UserKey", "Dim_User", "UserKey"),
    ("Bridge_User_WorkoutPreference", "ExerciseKey", "Dim_Exercise", "ExerciseKey"),
    ("Bridge_User_DietPreference", "UserKey", "Dim_User", "UserKey"),
    ("Bridge_User_DietPreference", "DietKey", "Dim_Diet", "DietKey"),
]

NOT_NULL_CHECKS = [
    ("Dim_Date", "FullDate"),
    ("Dim_User", "Source"),
    ("Dim_FitnessGoal", "GoalName"),
    ("Dim_FitnessType", "TypeName"),
    ("Dim_HealthCondition", "ConditionName"),
    ("Dim_Exercise", "ExerciseName"),
    ("Dim_Diet", "DietName"),
    ("Dim_FoodItem", "FoodName"),
    ("Dim_MetricType", "MetricName"),
    ("Dim_MealType", "MealName"),
    ("Dim_WorkoutType", "WorkoutName"),
    ("Fact_HealthMetric", "MetricTypeKey"),
    ("Fact_WorkoutSession", "UserKey"),
    ("Fact_NutritionLog", "FoodKey"),
]


@dataclass
class ValidationResults:
    timestamp: str = field(default_factory=lambda: datetime.now().isoformat())
    table_counts: dict[str, int] = field(default_factory=dict)
    issues: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    quality_score: float = 100.0
    checks_run: int = 0

    def record(self, check_name: str, violation_count: int) -> None:
        """Reference scoring: main_etl_pipeline.py:902-920."""
        self.checks_run += 1
        if violation_count and violation_count > 0:
            msg = f"{check_name}: {violation_count}"
            if any(x in check_name for x in ("PK CHECK", "ORPHAN", "NULL VIOL")):
                self.issues.append(msg)
                self.quality_score -= 5
            else:
                self.warnings.append(msg)
                self.quality_score -= 1
            self.quality_score = max(0, self.quality_score)


def _existing(spark: SparkSession, tables: list[str]) -> list[str]:
    views = {t.lower() for t in [r.name for r in spark.catalog.listTables()]}
    return [t for t in tables if t.lower() in views]


def _scalar_checks(
    present: list[str],
) -> list[tuple[str, str, str, list[tuple[str, str]]]]:
    """(table, check name, aggregate expression, the (table, column) pairs
    it reads) for every scalar check on a present table, in report order:
    PK, ORPHAN, NULL, RANGE. An orphan is a non-NULL FK that is not a key
    of its dim. It is tested with an IN subquery (an existence join), not
    a LEFT JOIN, so a duplicated dim key cannot multiply the rows the
    table's other checks count; and not with a correlated NOT EXISTS,
    which Spark 4.1 fails to execute inside an aggregate over a view that
    is a self-union."""
    bounds = VALIDATION_BOUNDS

    def outside(col: str, lo: str, hi: str) -> str:
        return f"{col} IS NOT NULL AND ({col} < {bounds[lo]} OR {col} > {bounds[hi]})"

    # range checks (validation.sql:259-291; bounds ≙ SET @vars :7-13)
    ranges = [
        ("Fact_UserSnapshot", "Height", ["Height"], outside("Height", "min_height_m", "max_height_m")),
        ("Fact_UserSnapshot", "Weight", ["Weight"], outside("Weight", "min_weight_kg", "max_weight_kg")),
        ("Fact_UserSnapshot", "BMI", ["BMI"], outside("BMI", "min_bmi", "max_bmi")),
        ("Fact_WorkoutSession", "DurationHours", ["DurationHours"],
         f"DurationHours > {bounds['max_workout_hours']}"),
        ("Fact_WorkoutSession", "CaloriesBurned", ["CaloriesBurned"], "CaloriesBurned < 0"),
        ("Fact_WorkoutSession", "TotalSteps", ["TotalSteps"], "TotalSteps < 0"),
        ("Fact_HealthMetric", "HealthMetric bmi", ["Unit", "Value"],
         f"Unit = 'bmi' AND {outside('Value', 'min_bmi', 'max_bmi')}"),
        ("Fact_NutritionLog", "ServingSize", ["ServingSize"], "ServingSize <= 0"),
    ]

    def key(cols: tuple[str, ...]) -> str:
        return cols[0] if len(cols) == 1 else "concat(" + ", ':', ".join(cols) + ")"

    checks = [
        (t, f"PK CHECK {t}", f"count(*) - count(DISTINCT {key(cols)})", [(t, c) for c in cols])
        for t, cols in PK_CHECKS.items()
    ]
    checks += [
        (fact, f"ORPHAN {fact}.{fk}",
         f"count_if(f.{fk} IS NOT NULL AND (f.{fk} IN (SELECT d.{dk} FROM {dim} d)) IS NOT TRUE)",
         [(fact, fk), (dim, dk)])
        for fact, fk, dim, dk in FK_CHECKS
        if dim in present
    ]
    checks += [(t, f"NULL VIOL {t}.{col}", f"count_if({col} IS NULL)", [(t, col)]) for t, col in NOT_NULL_CHECKS]
    checks += [
        (t, f"RANGE {name}", f"count_if({pred})", [(t, c) for c in cols])
        for t, name, cols, pred in ranges
    ]
    return [c for c in checks if c[0] in present]


def _read_table(
    spark: SparkSession, t: str, checks: list[tuple[str, str]]
) -> tuple[int | None, dict[str, int]]:
    """Table ``t``'s row count and the given checks on it, as ONE
    aggregate → (count, {check name: violations}); (None, {}) when the
    aggregate fails to run."""
    cols = ", ".join(["count(*)"] + [agg for _, agg in checks])
    try:
        row = spark.sql(f"SELECT {cols} FROM {t} f").collect()[0]
    except Exception as e:  # noqa: BLE001
        logger.debug("validation aggregate over %s failed: %s", t, str(e)[:120])
        return None, {}
    return int(row[0]), {name: int(row[i + 1]) for i, (name, _) in enumerate(checks)}


def validate_warehouse(spark: SparkSession) -> ValidationResults:
    """Run the full corpus over registered warehouse views."""
    res = ValidationResults()
    present = _existing(spark, EXPECTED_TABLES)
    checks = _scalar_checks(present)
    # a check runs only when every column it reads resolves; the schemas
    # come from analysis alone (no job), and an unresolved check is left
    # out up front instead of raising inside Spark
    columns = {t: {c.lower() for c in spark.table(t).columns} for t in present}
    runnable = [
        (ct, n, a) for ct, n, a, reads in checks
        if all(c.lower() in columns[rt] for rt, c in reads)
    ]
    read = declare_parallel(
        [
            (t, partial(_read_table, spark, t, [(n, a) for ct, n, a in runnable if ct == t]))
            for t in present
        ],
        max_workers=8,
    )

    # table inventory + missing-table check (validation.sql:16-46)
    for t in present:
        count = read[t][0]
        if count is None:
            # a count that cannot even run must never be reported as a
            # healthy-looking 0-row table: leave table_counts without
            # the entry and record a scored warning instead
            res.record(f"COUNT FAILED {t}", 1)
        else:
            res.table_counts[t] = count
    res.record("MISSING TABLES", len(EXPECTED_TABLES) - len(present))

    for t, name, _, _ in checks:
        val = read[t][1].get(name)
        if val is None:
            # lenient like the reference (:841-842): attempted, but
            # a check that cannot run does not move the score
            logger.warning("validation check %s could not run", name)
            res.checks_run += 1
        else:
            res.record(name, val)

    # -- remaining corpus families, executed through the S7 script runner
    # with the reference's row classifier (check_name/violations keys →
    # _process_validation_row semantics, main_etl_pipeline.py:902-920);
    # rows classify in statement order.
    from fitness_nutrition_data_pipeline_spark.sql_script import run_sql_script

    script = _analytical_corpus_sql(present)

    def classify(row: dict) -> None:
        name = row.get("check_name", row.get("rule", ""))
        count = row.get(
            "violations",
            row.get("violation_count", row.get("orphan_count", row.get("duplicate_pk", 0))),
        )
        res.record(str(name), int(count or 0))

    # concurrent statements, statement-order row processing: the report
    # is byte-identical to sequential replay, only wall-clock changes
    stats = run_sql_script(spark, script, process_row=classify, max_workers=8)
    res.checks_run += stats["failed"]  # lenient failures still count as attempted
    return res


def _analytical_corpus_sql(present: list[str]) -> str:
    """Domain inventories (validation.sql:249-256), coverage percentages
    (:295-325), distribution stats (:329-359) and analytical smoke tests
    (:364-393) as one SQL script — the reference's remaining check
    families, MySQL-isms translated (GROUP_CONCAT → concat_ws/collect_set,
    CURRENT_DATE window → max-date anchor)."""
    parts: list[str] = []
    if "Dim_User" in present:
        parts.append(
            """
            SELECT 'DOMAIN Gender' AS check_name, 0 AS violations,
                   concat_ws(',', sort_array(collect_set(Gender))) AS domain_values
            FROM Dim_User;
            """
        )
        parts.append(
            """
            SELECT 'DOMAIN Source' AS check_name, 0 AS violations,
                   concat_ws(',', sort_array(collect_set(Source))) AS domain_values
            FROM Dim_User;
            """
        )
    if "Fact_WorkoutSession" in present:
        parts.append(
            """
            SELECT 'COVERAGE workout->user' AS check_name,
                   CAST(sum(CASE WHEN u.UserKey IS NULL THEN 1 ELSE 0 END) AS INT) AS violations,
                   round(avg(CASE WHEN u.UserKey IS NOT NULL THEN 1.0 ELSE 0.0 END), 4) AS coverage
            FROM Fact_WorkoutSession f LEFT JOIN Dim_User u ON f.UserKey = u.UserKey;
            """
        )
        parts.append(
            """
            SELECT 'STATS workout duration' AS check_name, 0 AS violations,
                   round(min(DurationHours), 2) AS min_h,
                   round(avg(DurationHours), 2) AS avg_h,
                   round(max(DurationHours), 2) AS max_h
            FROM Fact_WorkoutSession;
            """
        )
        # smoke test: top-5 users by calories in the last 30 days of data
        # (validation.sql:365-372; CURRENT_DATE → max-date anchor so the
        # check is meaningful on any vintage of data)
        parts.append(
            """
            SELECT 'SMOKE top5 calories 30d' AS check_name, 0 AS violations,
                   f.UserKey, CAST(sum(f.CaloriesBurned) AS BIGINT) AS calories_30d
            FROM Fact_WorkoutSession f
            JOIN Dim_Date d ON f.DateKey = d.DateKey
            WHERE d.FullDate >= date_sub((SELECT max(d2.FullDate)
                                          FROM Fact_WorkoutSession f2
                                          JOIN Dim_Date d2 ON f2.DateKey = d2.DateKey), 30)
            GROUP BY f.UserKey ORDER BY calories_30d DESC LIMIT 5;
            """
        )
    if "Fact_UserSnapshot" in present:
        parts.append(
            """
            SELECT 'STATS BMI distribution' AS check_name, 0 AS violations,
                   round(min(BMI), 2) AS min_bmi, round(avg(BMI), 2) AS avg_bmi,
                   round(max(BMI), 2) AS max_bmi
            FROM Fact_UserSnapshot WHERE BMI IS NOT NULL;
            """
        )
    if "Fact_NutritionLog" in present:
        parts.append(
            """
            SELECT 'SMOKE monthly nutrition' AS check_name, 0 AS violations,
                   f.UserKey, d.Year, d.Month,
                   round(avg(f.TotalCalories), 2) AS avg_calories,
                   round(avg(f.TotalProtein), 2) AS avg_protein
            FROM Fact_NutritionLog f JOIN Dim_Date d ON f.DateKey = d.DateKey
            GROUP BY f.UserKey, d.Year, d.Month
            ORDER BY f.UserKey, d.Year, d.Month LIMIT 10;
            """
        )
    if "Dim_FitnessGoal" in present and "Fact_UserSnapshot" in present:
        parts.append(
            """
            SELECT 'SMOKE goal distribution' AS check_name, 0 AS violations,
                   g.GoalName, count(*) AS user_count
            FROM Fact_UserSnapshot f JOIN Dim_FitnessGoal g ON f.GoalKey = g.GoalKey
            GROUP BY g.GoalName ORDER BY user_count DESC;
            """
        )
    return "\n".join(parts)


def storage_layout_inventory(
    spark: SparkSession, table_paths: dict[str, str] | None = None
) -> list[dict]:
    """Physical-layout inventory — the Spark analogue of the reference's
    index inventory (validation.sql:397-404: information_schema.statistics
    GROUP_CONCAT of index columns per table). Spark has no B-tree
    indexes; the layout features that stand in are hive-style
    PARTITIONING (scan pruning — e.g. the day-partitioned event writes
    of queries/warehouse_ops.py) and BUCKETING (shuffle-free co-located joins —
    load.py:write_bucketed, ≙ the fact-FK indexes of db_schema.sql:
    211-218). One row per table: partition columns read from the
    hive-style directory layout of its parquet path, bucket spec read
    from the session catalog for saveAsTable'd tables.
    """
    import os
    import re

    rows: list[dict] = []
    for name, path in sorted((table_paths or {}).items()):
        part_cols: list[str] = []
        try:
            for entry in sorted(os.listdir(path)):
                m = re.match(r"([A-Za-z_]\w*)=", entry)
                if m and os.path.isdir(os.path.join(path, entry)):
                    if m.group(1) not in part_cols:
                        part_cols.append(m.group(1))
        except OSError:
            pass
        rows.append(
            {
                "table": name,
                "layout": "partitioned" if part_cols else "unpartitioned",
                "layout_columns": ",".join(part_cols),
            }
        )
    # catalog tables (bucketed writes land here via saveAsTable)
    for tbl in spark.catalog.listTables():
        if tbl.tableType == "VIEW" or tbl.isTemporary:
            continue
        buckets, bucket_cols = 0, ""
        try:
            for r in spark.sql(f"DESCRIBE FORMATTED {tbl.name}").collect():
                if r.col_name == "Num Buckets":
                    buckets = int(r.data_type)
                elif r.col_name == "Bucket Columns":
                    bucket_cols = r.data_type.strip("[]` ")
        except Exception:  # lenient like the rest of the corpus
            continue
        if buckets:
            rows.append(
                {
                    "table": tbl.name,
                    "layout": f"bucketed({buckets})",
                    "layout_columns": bucket_cols,
                }
            )
    return rows
