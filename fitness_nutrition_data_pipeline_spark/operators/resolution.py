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
- dense UserKeys 1..N in priority+row order, assigned WITHOUT a global
  window via `assign_sequential_ids` (per-partition numbering + offsets) —
  the loop's ``next_user_id += 1`` rebuilt to scale.

Rounding uses ``bround`` (HALF_EVEN) to match Python's ``round`` banker's
rounding bit-for-bit (SURVEY §2.6 F7).

Rows whose age/height/weight fail numeric parsing are dropped, matching
the reference's per-row try/except (:235-236, 286-287).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import DEFAULT_GOAL, PipelineConfig
from fitness_nutrition_data_pipeline_spark.functions.cleaning import (
    normalize_columns,
    null_out_of_range,
    standardize_fitness_goal,
)
from fitness_nutrition_data_pipeline_spark.operators.keys import assign_sequential_ids, with_order_index

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
            null_out_of_range(F.col("bmi").try_cast("double"), 10, 60).alias("BMI"),
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


def resolve_users(
    mendeley: DataFrame | None,
    gym: DataFrame | None,
    fitbit_ids: DataFrame | None,
    cfg: PipelineConfig | None = None,
) -> ResolutionResult:
    """Unify users across sources; returns staging profiles + the
    per-source-row user mapping. Any input may be None (missing source).

    Materializes as flat ``localCheckpoint`` pins, not session caches:
    the prepared mendeley rows, gym rows and distinct Fitbit device ids
    (concurrently), then the mendeley and gym profiles. The returned
    frames are lazy unions over those pins; the caller pins them too
    (``pipeline.transform``). A pin is a ``LogicalRDD`` leaf, so its
    consumers never wait on another thread's cache build: caching a
    frame over a cache still being built blocked ~6 s in statistics."""
    cfg = cfg or PipelineConfig()
    spark = next(
        df.sparkSession for df in (mendeley, gym, fitbit_ids) if df is not None
    )

    pieces: list[DataFrame] = []
    mappings: list[DataFrame] = []
    # Key ranges chain across sources (mendeley 1..Nm, gym Nm+1.., fitbit
    # after both). The offsets ride as broadcast 1-row COUNT aggregates
    # added to each later source's local 1..N keys — column arithmetic
    # over the pinned profiles, not driver-side .count() calls.
    offset_cols: list[DataFrame] = []

    def _offset(df: DataFrame) -> DataFrame:
        """Shift df.UserKey by the total count of all prior sources."""
        for i, cnt in enumerate(offset_cols):
            df = df.crossJoin(F.broadcast(cnt)).withColumn(
                "UserKey", F.col("UserKey") + F.col(f"_prior_n{i}")
            ).drop(f"_prior_n{i}")
        return df

    # The three source pins are independent — materialize them side by
    # side; everything downstream chains (gym's match-or-create needs
    # mendeley's profiles). Pinning the device ids scans the Fitbit CSVs
    # once per run: unpinned, building staging and building mapping each
    # read all five files (1.37M rows at the reference's sizes).
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
    if m_rows is not None:
        # reference-scale staging is a handful of single-machine CSVs —
        # num_partitions=1 takes the single-partition path (no sizing
        # pass, no offsets collect); a billion-profile deployment passes
        # a real partition count here
        m_profiles = assign_sequential_ids(
            _first_seen(m_rows), ["_row_idx"], "UserKey", num_partitions=1
        ).localCheckpoint()
        offset_cols.append(
            m_profiles.agg(F.count(F.lit(1)).alias("_prior_n0"))
        )
        pieces.append(m_profiles.select(*PROFILE_COLUMNS))
        m_keys = m_profiles.select("profile_hash", "UserKey")
        mappings.append(
            m_rows.join(m_keys, "profile_hash").select(
                F.lit("mendeley").alias("source"),
                F.col("_row_idx").cast("string").alias("original_id"),
                F.col("UserKey").alias("user_key"),
            )
        )

    if g_rows is not None:
        # keys of every profile created so far (mendeley), for match-or-create
        prior_keys = (
            m_profiles.select("profile_hash", "UserKey") if m_rows is not None else None
        )

        if prior_keys is not None:
            g_matched = g_rows.join(F.broadcast(prior_keys), "profile_hash", "inner")
            g_unmatched = g_rows.join(
                F.broadcast(prior_keys.select("profile_hash")), "profile_hash", "left_anti"
            )
        else:
            g_matched = None
            g_unmatched = g_rows

        g_profiles = _offset(
            assign_sequential_ids(
                _first_seen(g_unmatched), ["_row_idx"], "UserKey",
                num_partitions=1,
            )
        ).localCheckpoint()
        offset_cols.append(
            g_profiles.agg(F.count(F.lit(1)).alias(f"_prior_n{len(offset_cols)}"))
        )
        pieces.append(g_profiles.select(*PROFILE_COLUMNS))

        g_keys = g_profiles.select("profile_hash", "UserKey")
        g_map_new = g_unmatched.join(g_keys, "profile_hash").select(
            F.lit("gym").alias("source"),
            F.col("_row_idx").cast("string").alias("original_id"),
            F.col("UserKey").alias("user_key"),
        )
        if g_matched is not None:
            g_map_matched = g_matched.select(
                F.lit("gym").alias("source"),
                F.col("_row_idx").cast("string").alias("original_id"),
                F.col("UserKey").alias("user_key"),
            )
            mappings.append(g_map_matched.unionByName(g_map_new))
        else:
            mappings.append(g_map_new)

    if fb is not None:
        # deterministic (sorted) key order — the reference iterates a
        # Python set (:296), which is order-unstable; we pin sorted order
        # and document the deviation.
        fb_profiles = _offset(
            assign_sequential_ids(fb, ["fitbit_id"], "UserKey", num_partitions=1)
        )
        shell = fb_profiles.select(
            "UserKey",
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
        ).select(*PROFILE_COLUMNS)
        pieces.append(shell)
        mappings.append(
            fb_profiles.select(
                F.lit("fitbit").alias("source"),
                F.col("fitbit_id").cast("string").alias("original_id"),
                F.col("UserKey").alias("user_key"),
            )
        )

    if not pieces:
        schema = (
            "UserKey long, Source string, OriginalID string, Age int, Gender string,"
            " Weight double, Height double, BMI double, HealthConditions string,"
            " FitnessGoal string, FitnessType string, WorkoutPreference string,"
            " DietPreference string, ExperienceLevel string, ActivityLevel string"
        )
        empty = spark.createDataFrame([], schema)
        return ResolutionResult(empty, spark.createDataFrame([], "source string, original_id string, user_key long"))

    staging = pieces[0]
    for p in pieces[1:]:
        staging = staging.unionByName(p)
    mapping = mappings[0]
    for m in mappings[1:]:
        mapping = mapping.unionByName(m)
    return ResolutionResult(staging, mapping)
