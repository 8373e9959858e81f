"""Entity resolution ("user unification", SURVEY §2.3 J1).

Reproduces the reference's cross-dataset identity algorithm
(main_etl_pipeline.py:161-312) as set-based Spark:

- composite natural key ``{age}_{gender}_{round(h,2)}_{round(w,1)}``
  (:187, :251) — here a concat_ws of normalized parts;
- priority order mendeley → gym → fitbit, first-seen-wins within a source
  by row order (:189-232);
- a gym row whose key matches any mendeley profile links to that user
  (:253-257); unmatched gym rows create users (:259-282);
- fitbit device ids are always distinct new users with shell profiles
  (:289-310);
- dense UserKeys 1..N in priority+row order, assigned by ONE ordered
  ``assign_sequential_ids`` pass over the priority-tagged union of every
  source's new profiles (ordered by source rank, then source row or
  device id) — the loop's single ``next_user_id += 1`` counter.

Rounding uses ``bround`` (HALF_EVEN) to match Python's ``round`` banker's
rounding bit-for-bit (SURVEY §2.6 F7).

Rows whose age/height/weight fail numeric parsing are dropped, matching
the reference's per-row try/except (:235-236, 286-287).
"""

from __future__ import annotations

import functools
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import BMI_RANGE, DEFAULT_GOAL, PipelineConfig
from fitness_nutrition_data_pipeline_spark.functions.cleaning import (
    normalize_columns,
    null_out_of_range,
    standardize_fitness_goal,
)
from fitness_nutrition_data_pipeline_spark.operators.keys import assign_sequential_ids, with_order_index
from fitness_nutrition_data_pipeline_spark.pins import unpin

# Final staging-profile column set (main_etl_pipeline.py:211-227).
PROFILE_COLUMNS = [
    "UserKey",
    "Source",
    "OriginalID",
    "Age",
    "Gender",
    "Weight",
    "Height",
    "BMI",
    "HealthConditions",
    "FitnessGoal",
    "FitnessType",
    "WorkoutPreference",
    "DietPreference",
    "ExperienceLevel",
    "ActivityLevel",
]


class ResolutionResult(NamedTuple):
    staging: DataFrame  # one row per unified user (PROFILE_COLUMNS)
    mapping: DataFrame  # (source, original_id, user_key) per source row


def _profile_hash(age, gender, height, weight) -> F.Column:
    """``f"{age}_{gender}_{round(h,2)}_{round(w,1)}"`` — double→string in
    Spark matches Python float repr for these magnitudes."""
    return F.concat_ws(
        "_",
        age.cast("string"),
        gender,
        F.bround(height, 2).cast("string"),
        F.bround(weight, 1).cast("string"),
    )


def _prep_mendeley(mendeley: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Normalized mendeley rows with hash + parsed fields; unparseable rows
    dropped (reference try/except per row)."""
    df = with_order_index(normalize_columns(mendeley))
    age = F.col("age").try_cast("double").try_cast("int")
    gender = F.coalesce(F.lower(F.col("sex")), F.lit("none"))
    height = F.col("height").try_cast("double")
    weight = F.col("weight").try_cast("double")

    conditions = F.concat_ws(
        ", ",
        F.when(F.lower("hypertension") == "yes", "hypertension"),
        F.when(F.lower("diabetes") == "yes", "diabetes"),
    )
    # The reference reads row['fitness_goals'] / row['exercise'] which do
    # not exist post-normalization (actual: fitness_goal / exercises) —
    # quirks mode reproduces the resulting defaults (SURVEY §1.3).
    if cfg.reference_quirks:
        goal = F.lit(DEFAULT_GOAL)
        workout_pref = F.lit(None).cast("string")
    else:
        goal = standardize_fitness_goal(F.col("fitness_goal"), cfg.fitness_goals)
        workout_pref = F.col("exercises")

    return (
        df.where(age.isNotNull() & height.isNotNull() & weight.isNotNull())
        .select(
            F.col("_row_idx"),
            _profile_hash(age, gender, height, weight).alias("profile_hash"),
            age.alias("Age"),
            gender.alias("Gender"),
            F.bround(weight, 1).alias("Weight"),
            F.bround(height, 2).alias("Height"),
            null_out_of_range(F.col("bmi").try_cast("double"), *BMI_RANGE).alias("BMI"),
            F.when(conditions != "", conditions).alias("HealthConditions"),
            goal.alias("FitnessGoal"),
            F.col("fitness_type").alias("FitnessType"),
            workout_pref.alias("WorkoutPreference"),
            F.col("diet").alias("DietPreference"),
            F.lit(None).cast("string").alias("ExperienceLevel"),
            F.lit(None).cast("string").alias("ActivityLevel"),
            F.lit("mendeley").alias("Source"),
            F.col("_row_idx").cast("string").alias("OriginalID"),
        )
    )


def _prep_gym(gym: DataFrame, cfg: PipelineConfig) -> DataFrame:
    df = with_order_index(normalize_columns(gym))
    age = F.col("age").try_cast("double").try_cast("int")
    gender = F.coalesce(F.lower(F.col("gender")), F.lit("none"))
    height = F.col("height_(m)").try_cast("double")
    weight = F.col("weight_(kg)").try_cast("double")
    return (
        df.where(age.isNotNull() & height.isNotNull() & weight.isNotNull())
        .select(
            F.col("_row_idx"),
            _profile_hash(age, gender, height, weight).alias("profile_hash"),
            age.alias("Age"),
            gender.alias("Gender"),
            F.bround(weight, 1).alias("Weight"),
            F.bround(height, 2).alias("Height"),
            # gym BMI is taken as-is, no validity window (:273)
            F.col("bmi").try_cast("double").alias("BMI"),
            F.lit(None).cast("string").alias("HealthConditions"),
            standardize_fitness_goal(F.col("workout_type"), cfg.fitness_goals).alias(
                "FitnessGoal"
            ),
            F.col("workout_type").alias("FitnessType"),
            F.col("workout_type").alias("WorkoutPreference"),
            F.lit(None).cast("string").alias("DietPreference"),
            F.col("experience_level").cast("string").alias("ExperienceLevel"),
            F.lit(None).cast("string").alias("ActivityLevel"),
            F.lit("gym").alias("Source"),
            F.col("_row_idx").cast("string").alias("OriginalID"),
        )
    )


def _first_seen(df: DataFrame) -> DataFrame:
    """First row per profile_hash by source row order — the loop's
    'create profile only on first occurrence'. Implemented as a min-idx
    aggregation + self-join (shuffle on the hash, no window skew)."""
    firsts = df.groupBy("profile_hash").agg(F.min("_row_idx").alias("_row_idx"))
    return df.join(firsts, ["profile_hash", "_row_idx"])


def _device_ids(fitbit_ids: DataFrame) -> DataFrame:
    return fitbit_ids.select(F.col("Id").cast("long").alias("fitbit_id")).distinct()


def _pin(prep, df: DataFrame | None, *args) -> DataFrame | None:
    return None if df is None else prep(df, *args).localCheckpoint()


def _candidates(rows: DataFrame, rank: int) -> DataFrame:
    """First-seen profiles of one source, tagged with its priority rank
    and ordered by source row."""
    return _first_seen(rows).select(
        "profile_hash",
        *PROFILE_COLUMNS[1:],
        F.lit(rank).alias("_rank"),
        F.col("_row_idx").alias("_ord"),
    )


def _fitbit_shells(fb: DataFrame) -> DataFrame:
    """One shell profile per device id, ordered by id. The reference
    iterates a Python set (:296), which is order-unstable; sorted order
    is the documented deviation."""
    return fb.select(
        F.lit(None).cast("string").alias("profile_hash"),
        F.lit("fitbit").alias("Source"),
        F.col("fitbit_id").cast("string").alias("OriginalID"),
        F.lit(None).cast("int").alias("Age"),
        F.lit(None).cast("string").alias("Gender"),
        F.lit(None).cast("double").alias("Weight"),
        F.lit(None).cast("double").alias("Height"),
        F.lit(None).cast("double").alias("BMI"),
        F.lit(None).cast("string").alias("HealthConditions"),
        F.lit(DEFAULT_GOAL).alias("FitnessGoal"),
        F.lit(None).cast("string").alias("FitnessType"),
        F.lit(None).cast("string").alias("WorkoutPreference"),
        F.lit(None).cast("string").alias("DietPreference"),
        F.lit(None).cast("string").alias("ExperienceLevel"),
        F.lit(None).cast("string").alias("ActivityLevel"),
        F.lit(2).alias("_rank"),
        F.col("fitbit_id").alias("_ord"),
    )


def _mapping(rows: DataFrame, keys: DataFrame, source: str) -> DataFrame:
    return rows.join(keys, "profile_hash").select(
        F.lit(source).alias("source"),
        F.col("_row_idx").cast("string").alias("original_id"),
        F.col("UserKey").alias("user_key"),
    )


def resolve_users(
    mendeley: DataFrame | None,
    gym: DataFrame | None,
    fitbit_ids: DataFrame | None,
    cfg: PipelineConfig | None = None,
) -> ResolutionResult:
    """Unify users across sources; returns staging profiles + the
    per-source-row user mapping. Any input may be None (missing source);
    with none present both frames are empty.

    Materializes as flat ``localCheckpoint`` pins, not session caches:
    the prepared mendeley rows, gym rows and distinct Fitbit device ids
    (concurrently), then the keyed profiles. The device-id pin is
    released once the keyed profiles are pinned. The returned frames are
    lazy over the other pins; the caller pins them too
    (``pipeline.transform``) and then releases the pins under them.
    A pin is a ``LogicalRDD`` leaf, so its consumers never wait on
    another thread's cache build."""
    cfg = cfg or PipelineConfig()

    # Pinning the device ids scans the Fitbit CSVs once per run:
    # unpinned, building staging and building mapping each read all five
    # files (1.37M rows at the reference's sizes).
    from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel

    pins = declare_parallel(
        [
            ("m", lambda: _pin(_prep_mendeley, mendeley, cfg)),
            ("g", lambda: _pin(_prep_gym, gym, cfg)),
            ("fb", lambda: _pin(_device_ids, fitbit_ids)),
        ],
        max_workers=3,
    )
    m_rows, g_rows, fb = pins["m"], pins["g"], pins["fb"]
    if m_rows is None and g_rows is None and fb is None:
        spark = SparkSession.active()
        profile_schema = (
            "UserKey long, Source string, OriginalID string, Age int, Gender string,"
            " Weight double, Height double, BMI double, HealthConditions string,"
            " FitnessGoal string, FitnessType string, WorkoutPreference string,"
            " DietPreference string, ExperienceLevel string, ActivityLevel string"
        )
        return ResolutionResult(
            spark.createDataFrame([], profile_schema),
            spark.createDataFrame([], "source string, original_id string, user_key long"),
        )

    candidates: list[DataFrame] = []
    if m_rows is not None:
        candidates.append(_candidates(m_rows, 0))
    if g_rows is not None:
        # a gym row whose hash matches a mendeley profile links to it;
        # only the rest create gym profiles
        g_new = g_rows if m_rows is None else g_rows.join(
            F.broadcast(m_rows.select("profile_hash")), "profile_hash", "left_anti"
        )
        candidates.append(_candidates(g_new, 1))
    if fb is not None:
        candidates.append(_fitbit_shells(fb))

    # One ordered pass numbers every user: (_rank, _ord) is unique, so
    # keys are dense 1..N in priority and row order — the reference's
    # ``next_user_id += 1``.
    keyed = assign_sequential_ids(
        functools.reduce(DataFrame.unionByName, candidates),
        ["_rank", "_ord"],
        "UserKey",
        num_partitions=1,
    ).localCheckpoint()
    # the device ids feed only the keyed profiles, now pinned
    if fb is not None:
        unpin([fb])

    # every mendeley and gym hash matches exactly one keyed profile;
    # the Fitbit shells carry no hash
    keys = keyed.select("profile_hash", "UserKey")
    mappings = [
        _mapping(rows, keys, source)
        for rows, source in ((m_rows, "mendeley"), (g_rows, "gym"))
        if rows is not None
    ]
    if fb is not None:
        mappings.append(
            keyed.where(F.col("_rank") == 2).select(
                F.lit("fitbit").alias("source"),
                F.col("OriginalID").alias("original_id"),
                F.col("UserKey").alias("user_key"),
            )
        )
    return ResolutionResult(
        keyed.select(*PROFILE_COLUMNS),
        functools.reduce(DataFrame.unionByName, mappings),
    )
