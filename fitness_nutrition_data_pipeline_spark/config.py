"""Engine configuration — ported semantics of the reference's config
(reference config.py:30-55) plus engine-level knobs.

``FITNESS_GOALS`` is an ordered mapping: categorization is
first-match-wins in this exact order (reference main_etl_pipeline.py:320-323
iterates dict order), with ``maintain_health`` the fall-through default.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# Keyword → standardized fitness-goal categories (reference config.py:30-35).
# Order matters: 'Weight Gain' hits 'gain' in build_muscle before any
# maintain_health keyword.
FITNESS_GOALS: dict[str, tuple[str, ...]] = {
    "lose_weight": ("lose", "weight loss", "fat loss", "cut"),
    "build_muscle": ("muscle", "strength", "hypertrophy", "build", "gain"),
    "endurance": ("endurance", "cardio", "running", "cycling", "marathon"),
    "maintain_health": ("maintain", "health", "wellness", "balance"),
}

DEFAULT_GOAL = "maintain_health"

# Validation-corpus bounds (validation.sql:7-13 session variables).
VALIDATION_BOUNDS: dict[str, float] = {
    "min_height_m": 1.20,
    "max_height_m": 2.30,
    "min_weight_kg": 30.0,
    "max_weight_kg": 250.0,
    "min_bmi": 10.0,
    "max_bmi": 60.0,
    "max_workout_hours": 18.0,
}

# BMI validity window, EXCLUSIVE bounds (main_etl_pipeline.py:204, 581).
BMI_RANGE = (10.0, 60.0)

# Dim_Date coverage (main_etl_pipeline.py:345).
DIM_DATE_START = "2016-01-01"
DIM_DATE_END = "2025-12-31"

# Nutrient columns subject to unit-strip + numeric coercion
# (main_etl_pipeline.py:395-414). Includes the list's 'iron'/'theobromin'
# entries which do NOT match the data's 'irom'/'theobromine' typo columns —
# those stay raw strings, faithfully to the reference (SURVEY §1.3 quirk).
NUMERIC_NUTRIENT_COLUMNS: tuple[str, ...] = (
    "calories", "total_fat", "saturated_fat", "cholesterol", "sodium",
    "choline", "folate", "folic_acid", "niacin", "pantothenic_acid",
    "riboflavin", "thiamin", "vitamin_a", "vitamin_a_rae", "carotene_alpha",
    "carotene_beta", "cryptoxanthin_beta", "lutein_zeaxanthin", "lucopene",
    "vitamin_b12", "vitamin_b6", "vitamin_c", "vitamin_d", "vitamin_e",
    "tocopherol_alpha", "vitamin_k", "calcium", "copper", "iron", "magnesium",
    "manganese", "phosphorous", "potassium", "selenium", "zink", "protein",
    "alanine", "arginine", "aspartic_acid", "cystine", "glutamic_acid",
    "glycine", "histidine", "hydroxyproline", "isoleucine", "leucine",
    "lysine", "methionine", "phenylalanine", "proline", "serine",
    "threonine", "tryptophan", "tyrosine", "valine",
    "carbohydrate", "fiber", "sugars", "fructose", "galactose", "glucose",
    "lactose", "maltose", "sucrose",
    "saturated_fatty_acids", "monounsaturated_fatty_acids",
    "polyunsaturated_fatty_acids", "fatty_acids_total_trans",
    "alcohol", "ash", "caffeine", "theobromin", "water",
)

# The nutrition columns Dim_FoodItem is projected from, by normalized name
# (main_etl_pipeline.py:436-440; name/category are renamed FoodName/
# FoodCategory). Extract hands over only these. The projection intersects
# them with the sheet's columns, so one the sheet lacks stays absent: the
# reference's sheet has no category/carbs/fats.
NUTRITION_COLUMNS: tuple[str, ...] = (
    "name", "category", "calories", "protein", "carbs", "fats", "fiber",
)


@dataclass
class PipelineConfig:
    """Runtime configuration for the warehouse pipeline."""

    data_dir: str = "./data"
    fitbit_dir: str = "./data/fitbit"
    warehouse_dir: str = "./spark-warehouse/fitness_dw"
    output_dir: str = "./output"

    # Reproduce the reference's silent behaviors exactly (SURVEY §1.3):
    #  - mendeley profile reads 'fitness_goals' / 'exercise' keys that don't
    #    exist after normalization ('fitness_goal' / 'exercises') → every
    #    mendeley user gets FitnessGoal='maintain_health' and
    #    WorkoutPreference=NULL (main_etl_pipeline.py:221-223);
    #  - Fact_WorkoutSession.WorkoutTypeKey = lookup('mixed') → NULL
    #    (main_etl_pipeline.py:608);
    #  - Dim_FoodItem keeps only FoodName/calories/protein/fiber, and
    #    nutrition-log carbs/fats totals are 0 (main_etl_pipeline.py:441-444,
    #    690-691).
    # False switches to the documented-intent behavior (goal/exercises read
    # from the real columns, etc.).
    reference_quirks: bool = True

    # Seed for the Fact_NutritionLog sample generator (the reference uses
    # unseeded np.random, main_etl_pipeline.py:664-685 — we are deterministic).
    nutrition_log_seed: int = 42
    # Anchor for the generator's 30-day window. The reference uses
    # datetime.now() (main_etl_pipeline.py:659), which past 2025-12-31 makes
    # every generated date miss Dim_Date and yields ZERO rows (reference
    # bug, flagged in SURVEY §7). A fixed in-range anchor keeps output
    # deterministic and non-empty; set to None to reproduce now() behavior.
    nutrition_log_anchor: str | None = "2025-11-01"

    fitness_goals: dict[str, tuple[str, ...]] = field(
        default_factory=lambda: dict(FITNESS_GOALS)
    )
