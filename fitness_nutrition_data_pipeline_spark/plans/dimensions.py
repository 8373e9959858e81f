"""Dimension builders (SURVEY §1.1, main_etl_pipeline.py:345-482).

Every dimension is a lazy DataFrame; surrogate keys are dense 1..N in a
deterministic order (the reference's insertion order where that order is
well-defined, alphabetical/first-seen where the reference relied on
unstable Python set iteration — documented per site).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import (
    DIM_DATE_END,
    DIM_DATE_START,
    NUMERIC_NUTRIENT_COLUMNS,
    NUTRITION_COLUMNS,
    PipelineConfig,
)
from fitness_nutrition_data_pipeline_spark.functions.cleaning import (
    clean_text_list,
    normalize_columns,
    strip_units,
)
from fitness_nutrition_data_pipeline_spark.operators.keys import assign_sequential_ids, with_order_index


_DAY_NAMES = (
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
)
_MONTH_NAMES = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)


def build_dim_date(
    spark: SparkSession, start: str = DIM_DATE_START, end: str = DIM_DATE_END
) -> DataFrame:
    """Dim_Date via sequence+explode (F6) with pandas-exact calendar
    attributes (main_etl_pipeline.py:345-357): DayOfWeek Mon=0 (Spark
    dayofweek is Sun=1 → offset), DateKey = yyyyMMdd int. Day/month names
    come from literal English arrays (pandas day_name()/month_name()
    default to English) — date_format('EEEE'/'MMMM') would follow the JVM
    default locale and break parity on a non-English host."""
    days = spark.range(1).select(
        F.explode(F.sequence(F.to_date(F.lit(start)), F.to_date(F.lit(end)))).alias("d")
    )
    day_arr = F.array(*[F.lit(n) for n in _DAY_NAMES])
    month_arr = F.array(*[F.lit(n) for n in _MONTH_NAMES])
    return days.select(
        F.date_format("d", "yyyyMMdd").cast("int").alias("DateKey"),
        F.col("d").alias("FullDate"),
        ((F.dayofweek("d") + 5) % 7).alias("DayOfWeek"),
        F.element_at(day_arr, ((F.dayofweek("d") + 5) % 7) + 1).alias("DayName"),
        F.month("d").alias("Month"),
        F.element_at(month_arr, F.month("d")).alias("MonthName"),
        F.quarter("d").alias("Quarter"),
        F.year("d").alias("Year"),
    )


def build_dim_user(staging: DataFrame) -> DataFrame:
    """Dim_User = staging projection (main_etl_pipeline.py:368-370)."""
    return staging.select(
        "UserKey", "Source", "OriginalID", "Age", "Gender", "ExperienceLevel", "ActivityLevel"
    )


def build_value_dim(
    staging: DataFrame, source_col: str, key_col: str, name_col: str
) -> DataFrame:
    """Distinct non-null values of a staging column → (key, name) dim with
    keys in first-UserKey-seen order (main_etl_pipeline.py:372-382 uses
    pandas ``unique()`` = first-appearance order; staging order = UserKey
    order, so min(UserKey) per value reproduces it deterministically)."""
    firsts = (
        staging.where(F.col(source_col).isNotNull())
        .groupBy(F.col(source_col).alias(name_col))
        .agg(F.min("UserKey").alias("_first_seen"))
    )
    # value dims are bounded by the column's DOMAIN (dozens of values):
    # num_partitions=1 takes the single-partition fast path — one
    # pinning checkpoint, no sizing count, no offsets collect/join
    return assign_sequential_ids(
        firsts, ["_first_seen"], key_col, num_partitions=1
    ).select(key_col, name_col)


def build_blob_dim(
    staging: DataFrame, blob_col: str, key_col: str, name_col: str
) -> DataFrame:
    """TEXT-blob column → exploded distinct items → (key, name) dim
    (main_etl_pipeline.py:473-482 + _clean_text_list :129-135).

    The reference materializes a Python ``set`` whose iteration order is
    hash-seed-unstable across runs; we pin first-seen (min UserKey, then
    alphabetical) so keys are deterministic — a strict improvement with
    the same value set.
    """
    items = (
        staging.where(F.col(blob_col).isNotNull())
        .select("UserKey", F.explode(clean_text_list(blob_col)).alias(name_col))
    )
    firsts = items.groupBy(name_col).agg(F.min("UserKey").alias("_first_seen"))
    return assign_sequential_ids(
        firsts, ["_first_seen", name_col], key_col, num_partitions=1
    ).select(key_col, name_col)


def build_dim_food_item(nutrition: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """Dim_FoodItem from the nutrition sheet (main_etl_pipeline.py:389-448).

    Faithfully reproduces the §1.3 quirks in quirks mode:
    - rename name→FoodName; the category→FoodCategory rename is a no-op
      (no such column);
    - final projection keeps the intersection of NUTRITION_COLUMNS
      (FoodName, FoodCategory, calories, protein, carbs, fats, fiber)
      with reality → FoodName, calories, protein, fiber;
    - of those, the ones in NUMERIC_NUTRIENT_COLUMNS are unit-stripped +
      coerced (the reference strips every listed column that exists,
      typo'd irom/zink/lucopene/theobromine handling included, but only
      these reach the table);
    - dropna(FoodName), first-occurrence dedup on FoodName, FoodKey 1..N in
      row order.
    """
    cfg = cfg or PipelineConfig()
    df = with_order_index(normalize_columns(nutrition))
    df = df.withColumnRenamed("name", "FoodName")
    if "category" in df.columns:  # never true for the real data (quirk)
        df = df.withColumnRenamed("category", "FoodCategory")

    renamed = {"name": "FoodName", "category": "FoodCategory"}
    wanted = [renamed.get(c, c) for c in NUTRITION_COLUMNS]
    available = [c for c in wanted if c in df.columns]
    stripped = [c for c in available if c in NUMERIC_NUTRIENT_COLUMNS]
    if stripped:
        df = df.withColumns({c: strip_units(c) for c in stripped})

    base = df.select("_row_idx", *available).where(F.col("FoodName").isNotNull())
    firsts = base.groupBy("FoodName").agg(F.min("_row_idx").alias("_row_idx"))
    deduped = base.join(firsts, ["FoodName", "_row_idx"])
    # one nutrition sheet (thousands of rows) → single-partition keys
    return assign_sequential_ids(
        deduped, ["_row_idx"], "FoodKey", num_partitions=1
    ).select("FoodKey", *available)


def build_static_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """Dim_MetricType / Dim_MealType constants (main_etl_pipeline.py:450-462).

    Built from pandas, so the session's Arrow path turns them into local
    relations (``LocalTableScan``). A Python list would go through
    ``parallelize``, and the first scan of it forks Python workers."""
    metric = spark.createDataFrame(
        pd.DataFrame({
            "MetricTypeKey": [1, 2, 3, 4],
            "MetricName": ["heart_rate", "sleep", "weight", "bmi"],
        }),
        "MetricTypeKey long, MetricName string",
    )
    meal = spark.createDataFrame(
        pd.DataFrame({
            "MealTypeKey": [1, 2, 3, 4],
            "MealName": ["breakfast", "lunch", "dinner", "snack"],
        }),
        "MealTypeKey long, MealName string",
    )
    return {"Dim_MetricType": metric, "Dim_MealType": meal}


def build_dimensions(
    spark: SparkSession,
    staging: DataFrame,
    nutrition: DataFrame | None,
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    """All dimensions (main_etl_pipeline.py:363-482).

    The per-dimension builds are independent DAG declarations over the
    same pinned staging — pooled via parallel.declare_parallel.
    """
    from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel

    cfg = cfg or PipelineConfig()
    builders: list[tuple[str, object]] = [
        ("Dim_Date", lambda: build_dim_date(spark)),
        ("Dim_User", lambda: build_dim_user(staging)),
        ("Dim_FitnessGoal",
         lambda: build_value_dim(staging, "FitnessGoal", "GoalKey", "GoalName")),
        ("Dim_FitnessType",
         lambda: build_value_dim(staging, "FitnessType", "TypeKey", "TypeName")),
        ("Dim_HealthCondition",
         lambda: build_blob_dim(staging, "HealthConditions", "ConditionKey",
                                "ConditionName")),
        ("Dim_Exercise",
         lambda: build_blob_dim(staging, "WorkoutPreference", "ExerciseKey",
                                "ExerciseName")),
        ("Dim_Diet",
         lambda: build_blob_dim(staging, "DietPreference", "DietKey", "DietName")),
    ]
    if nutrition is not None:
        builders.append(
            ("Dim_FoodItem", lambda: build_dim_food_item(nutrition, cfg))
        )
    # Dim_WorkoutType reuses the fitness types (main_etl_pipeline.py:455-458)
    builders.append(
        ("Dim_WorkoutType",
         lambda: build_value_dim(staging, "FitnessType", "WorkoutTypeKey",
                                 "WorkoutName"))
    )
    dims = declare_parallel(builders)
    dims.update(build_static_dims(spark))
    return dims
