"""Fact-table builders (main_etl_pipeline.py:513-711).

Every reference iterrows loop becomes one lazy plan:
read → parse → (pre-aggregate) → broadcast-join user-map → inner-join
Dim_Date (drop-on-miss ≡ the ``if user_key and date_key`` guard) → project.
At scale the only shuffles are the daily pre-aggregations, keyed on
(device, day) — exactly the grain the output needs.
"""

from __future__ import annotations

import random
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import BMI_RANGE, PipelineConfig
from fitness_nutrition_data_pipeline_spark.functions.cleaning import null_out_of_range

# Metric keys from Dim_MetricType (main_etl_pipeline.py:451-453).
METRIC_KEYS = {"heart_rate": 1, "sleep": 2, "weight": 3, "bmi": 4}
MEAL_KEYS = {"breakfast": 1, "lunch": 2, "dinner": 3, "snack": 4}

# The Fitbit feeds that roll up to one Fact_HealthMetric row per user and
# day (main_etl_pipeline.py:540-569): feed -> (time column, daily
# aggregate, metric key, unit). The aggregate is built on call because a
# Column needs an active session. build_fact_health_metric and
# streaming/rollups.py::stream_fact_health_metric both read this table.
DAILY_FEEDS = {
    "sleep_minutes": ("date", lambda: F.sum("value") / 60, METRIC_KEYS["sleep"], "hours"),
    "heartrate": ("Time", lambda: F.avg("Value"), METRIC_KEYS["heart_rate"], "bpm"),
}


def parse_us_datetime(col) -> F.Column:
    """The sources mix ``3/25/2016`` and ``4/5/2016 11:59:59 PM`` —
    pd.to_datetime infers per value (main_etl_pipeline.py:542,558,574,598);
    here an explicit format coalesce (F4)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(
        F.try_to_timestamp(c, F.lit("M/d/yyyy h:mm:ss a")),
        F.try_to_timestamp(c, F.lit("M/d/yyyy")),
    )


def _fitbit_user_map(mapping: DataFrame) -> DataFrame:
    return mapping.where(F.col("source") == "fitbit").select(
        F.col("original_id").alias("_fitbit_id"), F.col("user_key").alias("UserKey")
    )


def _with_keys(df: DataFrame, mapping: DataFrame, dim_date: DataFrame) -> DataFrame:
    """Resolve UserKey (broadcast J3) + DateKey (J2, inner = drop-on-miss)."""
    users = _fitbit_user_map(mapping)
    dates = dim_date.select("DateKey", "FullDate")
    return (
        df.join(F.broadcast(users), df["Id"].cast("string") == users["_fitbit_id"])
        .join(F.broadcast(dates), df["_day"] == dates["FullDate"])
    )


def build_fact_user_snapshot(staging: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """One row per user; goal/type resolved via broadcast joins with
    NULL-on-miss (``Series.map`` semantics, main_etl_pipeline.py:517-522)."""
    goal = dims["Dim_FitnessGoal"].select(
        F.col("GoalName").alias("FitnessGoal"), "GoalKey"
    )
    typ = dims["Dim_FitnessType"].select(
        F.col("TypeName").alias("FitnessType"), "TypeKey"
    )
    return (
        staging.join(F.broadcast(goal), "FitnessGoal", "left")
        .join(F.broadcast(typ), "FitnessType", "left")
        .select("UserKey", "GoalKey", "TypeKey", "Height", "Weight", "BMI")
    )


def build_fact_health_metric(
    fitbit: dict[str, DataFrame], mapping: DataFrame, dim_date: DataFrame
) -> DataFrame | None:
    """Sleep daily sum (/60→hours), heart-rate daily mean (bpm), weight →
    two EAV rows (kg + range-checked bmi) — main_etl_pipeline.py:540-593."""
    parts: list[DataFrame] = []

    for feed, (ts_col, daily_agg, metric_key, unit) in DAILY_FEEDS.items():
        if feed not in fitbit:
            continue
        daily = (
            fitbit[feed]
            .withColumn("_day", parse_us_datetime(ts_col).cast("date"))
            .groupBy("Id", "_day")
            .agg(daily_agg().cast("double").alias("Value"))
        )
        parts.append(
            _with_keys(daily, mapping, dim_date).select(
                "UserKey",
                "DateKey",
                F.lit(metric_key).cast("long").alias("MetricTypeKey"),
                "Value",
                F.lit(unit).alias("Unit"),
            )
        )

    if "weight_log" in fitbit:
        w = fitbit["weight_log"].withColumn("_day", parse_us_datetime("Date").cast("date"))
        keyed = _with_keys(w, mapping, dim_date)
        # wide→long unpivot: each log row fans out to (weight, bmi)
        # (main_etl_pipeline.py:587-593) — stack(2, ...), with the bmi leg
        # range-nulled to BMI_RANGE, exclusive.
        parts.append(
            keyed.select(
                "UserKey",
                "DateKey",
                F.expr(
                    f"stack(2, {METRIC_KEYS['weight']}L, CAST(WeightKg AS DOUBLE), 'kg',"
                    f" {METRIC_KEYS['bmi']}L, CAST(NULL AS DOUBLE), 'bmi')"
                ).alias("MetricTypeKey", "_raw", "Unit"),
                null_out_of_range(F.col("BMI").cast("double"), *BMI_RANGE).alias("_bmi"),
                F.col("WeightKg").cast("double").alias("_kg"),
            ).select(
                "UserKey",
                "DateKey",
                "MetricTypeKey",
                F.when(F.col("Unit") == "kg", F.col("_kg"))
                .otherwise(F.col("_bmi"))
                .alias("Value"),
                "Unit",
            )
        )

    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_fact_workout_session(
    fitbit: dict[str, DataFrame],
    mapping: DataFrame,
    dim_date: DataFrame,
    dims: dict[str, DataFrame],
) -> DataFrame | None:
    """Daily activity → workout sessions with active_minutes>0 filter
    (main_etl_pipeline.py:596-616). WorkoutTypeKey = key of the literal
    type 'mixed' — NULL unless such a type exists (reference quirk :608,
    preserved by the left join)."""
    if "daily_activity" not in fitbit:
        return None
    act = (
        fitbit["daily_activity"]
        .withColumn("_day", parse_us_datetime("ActivityDate").cast("date"))
        .withColumn(
            "_active_min", F.col("VeryActiveMinutes") + F.col("FairlyActiveMinutes")
        )
        .where(F.col("_active_min") > 0)
    )
    mixed_key = (
        dims["Dim_WorkoutType"]
        .where(F.col("WorkoutName") == "mixed")
        .select(F.col("WorkoutTypeKey").alias("_mixed_key"))
    )
    return (
        _with_keys(act, mapping, dim_date)
        .join(F.broadcast(mixed_key), F.lit(True), "left")
        .select(
            "UserKey",
            "DateKey",
            F.col("_mixed_key").alias("WorkoutTypeKey"),
            (F.col("_active_min") / 60).cast("double").alias("DurationHours"),
            F.col("Calories").cast("long").alias("CaloriesBurned"),
            F.col("TotalSteps").cast("long").alias("TotalSteps"),
            F.col("TotalDistance").cast("double").alias("TotalDistance"),
            F.col("_active_min").cast("long").alias("ActiveMinutes"),
            F.lit(None).cast("long").alias("FrequencyPerWeek"),
        )
    )


def build_fact_nutrition_log(
    spark: SparkSession,
    staging: DataFrame,
    dims: dict[str, DataFrame],
    cfg: PipelineConfig | None = None,
) -> DataFrame | None:
    """Sample meal logs (the reference has no real meal-log source and
    generates demo rows, main_etl_pipeline.py:623-711). Differences, both
    deliberate: seeded RNG instead of bare np.random, and a configurable
    in-range anchor date instead of datetime.now() (whose post-2025 value
    silently yields zero rows — reference bug, reproducible with
    anchor=None)."""
    cfg = cfg or PipelineConfig()
    if "Dim_FoodItem" not in dims:
        return None
    food = dims["Dim_FoodItem"]
    n_foods = food.count()
    if n_foods == 0:
        return None
    sample_users = [
        r.UserKey for r in staging.select("UserKey").orderBy("UserKey").limit(10).collect()
    ]
    if not sample_users:
        return None

    rng = random.Random(cfg.nutrition_log_seed)
    anchor = (
        date.fromisoformat(cfg.nutrition_log_anchor)
        if cfg.nutrition_log_anchor
        else date.today()
    )
    window = [anchor - timedelta(days=i) for i in range(29, -1, -1)]

    spec_rows = []
    for user_key in sample_users:
        for log_date in rng.sample(window, rng.randint(3, 5)):
            for _ in range(rng.randint(3, 5)):
                meal = rng.choice(list(MEAL_KEYS))
                spec_rows.append(
                    (
                        int(user_key),
                        log_date,
                        MEAL_KEYS[meal],
                        rng.randint(1, n_foods),
                        round(rng.uniform(0.5, 3.0), 2),
                    )
                )
    # from pandas, so Arrow makes it a local relation: a list would be
    # parallelized and its first scan would fork Python workers
    spec = spark.createDataFrame(
        pd.DataFrame(
            spec_rows,
            columns=["UserKey", "_day", "MealTypeKey", "FoodKey", "ServingSize"],
        ),
        "UserKey long, _day date, MealTypeKey long, FoodKey long, ServingSize double",
    )

    def total(col: str) -> F.Column:
        src = F.coalesce(F.col(col).cast("double"), F.lit(0.0)) if col in food.columns else F.lit(0.0)
        return F.round(src * F.col("ServingSize"), 2)

    dates = dims["Dim_Date"].select("DateKey", "FullDate")
    return (
        spec.join(F.broadcast(dates), spec["_day"] == dates["FullDate"])  # drop-on-miss
        .join(F.broadcast(food), "FoodKey")
        .select(
            "UserKey",
            "DateKey",
            "MealTypeKey",
            "FoodKey",
            "ServingSize",
            total("calories").alias("TotalCalories"),
            total("protein").alias("TotalProtein"),
            total("carbs").alias("TotalCarbs"),
            total("fats").alias("TotalFats"),
        )
    )


def build_facts(
    spark: SparkSession,
    sources: dict[str, object],
    staging: DataFrame,
    mapping: DataFrame,
    dims: dict[str, DataFrame],
    cfg: PipelineConfig | None = None,
) -> dict[str, DataFrame]:
    cfg = cfg or PipelineConfig()
    fitbit = sources.get("fitbit") or {}
    # Independent declarations over the same pinned inputs — pooled for
    # the same reason as build_dimensions (parallel.declare_parallel).
    from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel

    builders = [
        ("Fact_UserSnapshot", lambda: build_fact_user_snapshot(staging, dims)),
        ("Fact_HealthMetric",
         lambda: build_fact_health_metric(fitbit, mapping, dims["Dim_Date"])),
        ("Fact_WorkoutSession",
         lambda: build_fact_workout_session(fitbit, mapping, dims["Dim_Date"],
                                            dims)),
        ("Fact_NutritionLog",
         lambda: build_fact_nutrition_log(spark, staging, dims, cfg)),
    ]
    built = declare_parallel(builders)
    return {name: df for name, df in built.items() if df is not None}
