"""Data-quality validation corpus + scorer (SURVEY §2.9).

Re-expresses the reference's MySQL corpus (validation.sql:1-462) as Spark
SQL over the warehouse views, generated from schema metadata instead of a
parsed script. Check families and their reference citations:

- table inventory / missing tables        validation.sql:16-46
- PK uniqueness (incl. composite concat)  validation.sql:49-121
- FK orphans (incl. null-tolerant FKs)    validation.sql:126-223
- NOT NULL                                validation.sql:227-244
- domain inventories (GROUP_CONCAT)       validation.sql:249-256
- range checks (config bounds ≙ SET @var) validation.sql:7-13, 259-291
- FK coverage percentages                 validation.sql:295-325
- distribution stats                      validation.sql:329-359
- analytical smoke tests                  validation.sql:364-393

Scoring matches `_process_validation_row` (main_etl_pipeline.py:902-920):
start 100; −5 when the failing check name contains PK CHECK / ORPHAN /
NULL VIOL; −1 for other findings; floored at 0. A check or statement
that fails to run counts as attempted and leaves the score unchanged,
the reference's lenient rule (:841-842).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import SparkSession

from fitness_nutrition_data_pipeline_spark.config import VALIDATION_BOUNDS

logger = logging.getLogger(__name__)

EXPECTED_TABLES = [
    "Dim_User", "Dim_Date", "Dim_FoodItem", "Dim_WorkoutType", "Dim_MealType",
    "Dim_MetricType", "Dim_HealthCondition", "Dim_FitnessGoal", "Dim_FitnessType",
    "Dim_Exercise", "Dim_Diet",
    "Fact_UserSnapshot", "Fact_WorkoutSession", "Fact_HealthMetric", "Fact_NutritionLog",
    "Bridge_User_HealthCondition", "Bridge_User_WorkoutPreference", "Bridge_User_DietPreference",
]

# table → PK expression (composite keys via concat, validation.sql:111-120)
PK_CHECKS = {
    "Dim_Date": "DateKey",
    "Dim_User": "UserKey",
    "Dim_FitnessGoal": "GoalKey",
    "Dim_FitnessType": "TypeKey",
    "Dim_HealthCondition": "ConditionKey",
    "Dim_Exercise": "ExerciseKey",
    "Dim_Diet": "DietKey",
    "Dim_FoodItem": "FoodKey",
    "Dim_MetricType": "MetricTypeKey",
    "Dim_MealType": "MealTypeKey",
    "Dim_WorkoutType": "WorkoutTypeKey",
    "Bridge_User_HealthCondition": "concat(UserKey, ':', ConditionKey)",
    "Bridge_User_WorkoutPreference": "concat(UserKey, ':', ExerciseKey)",
    "Bridge_User_DietPreference": "concat(UserKey, ':', DietKey)",
    "Fact_UserSnapshot": "SnapshotKey",
    "Fact_WorkoutSession": "SessionKey",
    "Fact_HealthMetric": "MetricKey",
    "Fact_NutritionLog": "LogKey",
}

# (fact, fk, dim, dim_key, null_tolerant)
FK_CHECKS = [
    ("Fact_UserSnapshot", "UserKey", "Dim_User", "UserKey", False),
    ("Fact_UserSnapshot", "GoalKey", "Dim_FitnessGoal", "GoalKey", True),
    ("Fact_UserSnapshot", "TypeKey", "Dim_FitnessType", "TypeKey", True),
    ("Fact_WorkoutSession", "UserKey", "Dim_User", "UserKey", False),
    ("Fact_WorkoutSession", "DateKey", "Dim_Date", "DateKey", False),
    ("Fact_WorkoutSession", "WorkoutTypeKey", "Dim_WorkoutType", "WorkoutTypeKey", True),
    ("Fact_HealthMetric", "UserKey", "Dim_User", "UserKey", False),
    ("Fact_HealthMetric", "DateKey", "Dim_Date", "DateKey", False),
    ("Fact_HealthMetric", "MetricTypeKey", "Dim_MetricType", "MetricTypeKey", False),
    ("Fact_NutritionLog", "UserKey", "Dim_User", "UserKey", False),
    ("Fact_NutritionLog", "DateKey", "Dim_Date", "DateKey", False),
    ("Fact_NutritionLog", "MealTypeKey", "Dim_MealType", "MealTypeKey", False),
    ("Fact_NutritionLog", "FoodKey", "Dim_FoodItem", "FoodKey", False),
    ("Bridge_User_HealthCondition", "UserKey", "Dim_User", "UserKey", False),
    ("Bridge_User_HealthCondition", "ConditionKey", "Dim_HealthCondition", "ConditionKey", False),
    ("Bridge_User_WorkoutPreference", "UserKey", "Dim_User", "UserKey", False),
    ("Bridge_User_WorkoutPreference", "ExerciseKey", "Dim_Exercise", "ExerciseKey", False),
    ("Bridge_User_DietPreference", "UserKey", "Dim_User", "UserKey", False),
    ("Bridge_User_DietPreference", "DietKey", "Dim_Diet", "DietKey", False),
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


def _scalar(spark: SparkSession, sql: str):
    return spark.sql(sql).collect()[0][0]


def _union_batch(
    spark: SparkSession, items: list[tuple[str, str]]
) -> dict[str, int] | None:
    """Fold named scalar count queries into ONE UNION ALL statement →
    {name: count}. Returns None when the batch can't run as a unit (a
    branch fails to resolve) so the caller can fall back to lenient
    per-statement execution. One Spark job instead of len(items)."""
    if not items:
        return {}
    branches = []
    for name, sql in items:
        esc = name.replace("'", "''")
        branches.append(
            f"SELECT '{esc}' AS check_name, CAST(cnt AS BIGINT) AS violations "
            f"FROM ({sql}) AS _chk(cnt)"
        )
    try:
        rows = spark.sql("\nUNION ALL\n".join(branches)).collect()
    except Exception as e:  # noqa: BLE001
        logger.debug("batched validation union failed (%s); falling back",
                     str(e)[:120])
        return None
    return {r["check_name"]: int(r["violations"] or 0) for r in rows}


_CHUNK = 8  # measured sweet spot: 8-branch unions x 8 concurrent jobs
# beat both the per-statement pool (2.9 s) and one 59-branch union
# (4.3 s — whole-stage codegen of the mega-plan is serial) at 1.4 s on
# the reference warehouse; see SCALE.md r11 validate-batching note.


def _run_checks(
    spark: SparkSession, items: list[tuple[str, str]]
) -> dict[str, int | None]:
    """Execute named scalar checks as chunked UNION ALL batches on a
    thread pool: ceil(n/8) Spark jobs instead of n. A chunk that fails
    to run as a unit degrades to lenient per-statement execution, so
    one unresolvable check costs only itself (reference :841-842)."""
    from concurrent.futures import ThreadPoolExecutor

    chunks = [items[i : i + _CHUNK] for i in range(0, len(items), _CHUNK)]

    def one_chunk(ch: list[tuple[str, str]]) -> dict[str, int | None]:
        got = _union_batch(spark, ch)
        if got is not None:
            return dict(got)
        out: dict[str, int | None] = {}
        for name, sql in ch:
            try:
                out[name] = int(_scalar(spark, sql) or 0)
            except Exception as e:  # noqa: BLE001
                logger.debug("check %s failed: %s", name, str(e)[:120])
                out[name] = None
        return out

    results: dict[str, int | None] = {}
    with ThreadPoolExecutor(max_workers=8) as pool:
        for got in pool.map(one_chunk, chunks):
            results.update(got)
    return results


def validate_warehouse(spark: SparkSession, bounds: dict[str, float] | None = None) -> ValidationResults:
    """Run the full corpus over registered warehouse views."""
    bounds = bounds or VALIDATION_BOUNDS
    res = ValidationResults()
    present = _existing(spark, EXPECTED_TABLES)

    # Scalar checks used to run as ~60 tiny independent Spark jobs; even
    # thread-pooled, per-job submission overhead dominated the validate
    # phase (10.6 s observed in a degraded r10 regime). They now run
    # through _run_checks: 8-branch UNION ALL batches — the
    # validation.sql:459-462 summary shape — executed concurrently, with
    # lenient per-statement fallback inside any chunk that fails.

    # table inventory + missing-table check (validation.sql:16-46)
    count_tables = [t for t in EXPECTED_TABLES if t in present]
    counts_by_t = _run_checks(
        spark, [(t, f"SELECT count(*) FROM {t}") for t in count_tables]
    )
    for t in count_tables:
        val = counts_by_t.get(t)
        if val is None:
            # a count that cannot even run must never be reported as a
            # healthy-looking 0-row table: leave table_counts without
            # the entry and record a scored warning instead
            res.record(f"COUNT FAILED {t}", 1)
        else:
            res.table_counts[t] = int(val)
    missing = [t for t in EXPECTED_TABLES if t not in present]
    res.record("MISSING TABLES", len(missing))

    queued: list[tuple[str, str]] = []

    def run(check_name: str, sql: str) -> None:
        queued.append((check_name, sql))

    def _flush_queued() -> None:
        results = _run_checks(spark, queued)
        for check_name, _ in queued:  # queue order keeps the report stable
            val = results.get(check_name)
            if val is None:
                # lenient like the reference (:841-842): attempted, but
                # a check that cannot run does not move the score
                logger.warning("validation check %s could not run", check_name)
                res.checks_run += 1
            else:
                res.record(check_name, val)

    for t, pk in PK_CHECKS.items():
        if t in present:
            run(
                f"PK CHECK {t}",
                f"SELECT count(*) - count(DISTINCT {pk}) FROM {t}",
            )

    for fact, fk, dim, dk, null_tol in FK_CHECKS:
        if fact in present and dim in present:
            null_guard = f"f.{fk} IS NOT NULL AND " if null_tol else ""
            run(
                f"ORPHAN {fact}.{fk}",
                f"SELECT count(*) FROM {fact} f LEFT JOIN {dim} d ON f.{fk} = d.{dk} "
                f"WHERE {null_guard}d.{dk} IS NULL"
                + ("" if null_tol else f" AND f.{fk} IS NOT NULL"),
            )

    for t, col in NOT_NULL_CHECKS:
        if t in present:
            run(f"NULL VIOL {t}.{col}", f"SELECT count(*) FROM {t} WHERE {col} IS NULL")

    # range checks (validation.sql:259-291; bounds ≙ SET @vars :7-13)
    if "Fact_UserSnapshot" in present:
        run(
            "RANGE Height",
            f"SELECT count(*) FROM Fact_UserSnapshot WHERE Height IS NOT NULL AND "
            f"(Height < {bounds['min_height_m']} OR Height > {bounds['max_height_m']})",
        )
        run(
            "RANGE Weight",
            f"SELECT count(*) FROM Fact_UserSnapshot WHERE Weight IS NOT NULL AND "
            f"(Weight < {bounds['min_weight_kg']} OR Weight > {bounds['max_weight_kg']})",
        )
        run(
            "RANGE BMI",
            f"SELECT count(*) FROM Fact_UserSnapshot WHERE BMI IS NOT NULL AND "
            f"(BMI < {bounds['min_bmi']} OR BMI > {bounds['max_bmi']})",
        )
    if "Fact_WorkoutSession" in present:
        run(
            "RANGE DurationHours",
            f"SELECT count(*) FROM Fact_WorkoutSession WHERE DurationHours > {bounds['max_workout_hours']}",
        )
        run("RANGE CaloriesBurned", "SELECT count(*) FROM Fact_WorkoutSession WHERE CaloriesBurned < 0")
        run("RANGE TotalSteps", "SELECT count(*) FROM Fact_WorkoutSession WHERE TotalSteps < 0")
    if "Fact_HealthMetric" in present:
        run(
            "RANGE HealthMetric bmi",
            f"SELECT count(*) FROM Fact_HealthMetric WHERE Unit = 'bmi' AND Value IS NOT NULL AND "
            f"(Value < {bounds['min_bmi']} OR Value > {bounds['max_bmi']})",
        )
    if "Fact_NutritionLog" in present:
        run("RANGE ServingSize", "SELECT count(*) FROM Fact_NutritionLog WHERE ServingSize <= 0")

    _flush_queued()

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
    indexes; the layout features that stand in are date PARTITIONING
    (scan pruning — load.py:83-84 partitions PARTITIONED_FACTS by
    DateKey) and BUCKETING (shuffle-free co-located joins —
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


def record_layout_checks(
    res: ValidationResults,
    inventory: list[dict],
    *,
    expect_partitioned: tuple[str, ...] = (),
) -> None:
    """Fold the layout inventory into the validation report: violations =
    tables CONTRACTED to be date-partitioned (load.py:PARTITIONED_FACTS
    when partition_facts=True) whose physical layout shows no partition
    columns — the check the reference runs against its expected index
    set."""
    laid_out = {
        r["table"] for r in inventory if r["layout"] != "unpartitioned"
    }
    missing = [t for t in expect_partitioned if t not in laid_out]
    res.record("LAYOUT MISSING PARTITIONING", len(missing))
