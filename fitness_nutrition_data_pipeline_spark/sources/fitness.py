"""Readers for the fitness/nutrition source files (SURVEY §1.3, §2.1).

Explicit StructType schemas everywhere — the source files carry messy
string columns ("0.1g", "3/25/2016 11:59:59 PM") where inference guesses
wrong, and a declared schema keeps the scan prunable and deterministic at
any scale (reference relies on pandas inference: main_etl_pipeline.py:77,
108, 122).

Missing-file tolerance matches the reference (skip + warn,
main_etl_pipeline.py:74-76): extraction returns only the sources present.
A source that cannot be read is logged with its traceback and skipped;
the other sources are unaffected.

Excel ingestion (S3): a parquet or CSV sibling of an xlsx takes
precedence in ``read_tabular`` (faster and splittable); otherwise the
sheet is read by the stdlib parser in sources/xlsx.py. ``extract_all``
parses each such sheet once, on its calling thread, and hands the rows
to the pooled task that builds the DataFrame.
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel
from fitness_nutrition_data_pipeline_spark.sources import xlsx

logger = logging.getLogger(__name__)

# --- declared schemas -------------------------------------------------------

DAILY_ACTIVITY_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.LongType()),
        T.StructField("ActivityDate", T.StringType()),  # M/d/yyyy — parsed downstream
        T.StructField("TotalSteps", T.LongType()),
        T.StructField("TotalDistance", T.DoubleType()),
        T.StructField("TrackerDistance", T.DoubleType()),
        T.StructField("LoggedActivitiesDistance", T.DoubleType()),
        T.StructField("VeryActiveDistance", T.DoubleType()),
        T.StructField("ModeratelyActiveDistance", T.DoubleType()),
        T.StructField("LightActiveDistance", T.DoubleType()),
        T.StructField("SedentaryActiveDistance", T.DoubleType()),
        T.StructField("VeryActiveMinutes", T.LongType()),
        T.StructField("FairlyActiveMinutes", T.LongType()),
        T.StructField("LightlyActiveMinutes", T.LongType()),
        T.StructField("SedentaryMinutes", T.LongType()),
        T.StructField("Calories", T.LongType()),
    ]
)

HEARTRATE_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.LongType()),
        T.StructField("Time", T.StringType()),  # M/d/yyyy h:mm:ss a
        T.StructField("Value", T.LongType()),
    ]
)

HOURLY_CALORIES_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.LongType()),
        T.StructField("ActivityHour", T.StringType()),
        T.StructField("Calories", T.LongType()),
    ]
)

WEIGHT_LOG_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.LongType()),
        T.StructField("Date", T.StringType()),
        T.StructField("WeightKg", T.DoubleType()),
        T.StructField("WeightPounds", T.DoubleType()),
        T.StructField("Fat", T.DoubleType()),
        T.StructField("BMI", T.DoubleType()),
        T.StructField("IsManualReport", T.BooleanType()),
        T.StructField("LogId", T.LongType()),
    ]
)

MINUTE_SLEEP_SCHEMA = T.StructType(
    [
        T.StructField("Id", T.LongType()),
        T.StructField("date", T.StringType()),
        T.StructField("value", T.LongType()),
        T.StructField("logId", T.LongType()),
    ]
)

FITBIT_FILES: dict[str, tuple[str, T.StructType]] = {
    "daily_activity": ("dailyActivity_merged.csv", DAILY_ACTIVITY_SCHEMA),
    "heartrate": ("heartrate_seconds_merged.csv", HEARTRATE_SCHEMA),
    "hourly_calories": ("hourlyCalories_merged.csv", HOURLY_CALORIES_SCHEMA),
    "weight_log": ("weightLogInfo_merged.csv", WEIGHT_LOG_SCHEMA),
    "sleep_minutes": ("minuteSleep_merged.csv", MINUTE_SLEEP_SCHEMA),
}

# gym_members / mendeley / nutrition carry free-form headers (spaces,
# parens, 77 nutrient columns) — read as all-string with header, normalize
# + cast downstream. Numeric coercion is explicit in the transforms, which
# is where the reference's to_numeric(errors='coerce') semantics live.


def _read_csv(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    # escape='"' → RFC4180 doubled-quote escaping (what pandas/csv write);
    # Spark's default backslash-escape silently corrupts quoted fields.
    reader = spark.read.option("header", True).option("escape", '"')
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # all-string: every cast is explicit downstream (coerce semantics)
        reader = reader.option("inferSchema", False)
    return reader.csv(path)


def _xlsx_without_sibling(path: str) -> bool:
    """True when ``read_tabular`` would parse the xlsx itself: it exists
    and has no parquet or csv sibling."""
    base, _ = os.path.splitext(path)
    return (
        path.endswith(".xlsx")
        and os.path.exists(path)
        and not os.path.exists(base + ".parquet")
        and not os.path.exists(base + ".csv")
    )


def read_tabular(
    spark: SparkSession, path: str, rows: list[list[str]] | None = None
) -> DataFrame | None:
    """Read a source that may exist as xlsx, csv, or parquet.

    Preference order: parquet sibling, csv sibling, native xlsx.
    ``rows`` are the xlsx's already parsed rows; without them the sheet
    is parsed here. Returns None when nothing is present or the xlsx
    cannot be read (logged with its traceback)."""
    base, _ = os.path.splitext(path)
    if os.path.exists(base + ".parquet"):
        return spark.read.parquet(base + ".parquet")
    if os.path.exists(base + ".csv"):
        return _read_csv(spark, base + ".csv")
    if _xlsx_without_sibling(path):
        try:
            # pin the parsed sheet as ONE executor block: the driver-side
            # relation would otherwise be re-serialized into every job
            # that touches this source (the warehouse DAG touches each
            # source many times — measured +6s on transform_load), and a
            # dim-sized sheet doesn't need scan parallelism (it ends up
            # broadcast downstream anyway)
            return xlsx.read_xlsx(spark, path, rows).coalesce(1).localCheckpoint()
        except Exception:  # noqa: BLE001 — e.g. formula/serial-date sheets
            logger.warning("xlsx read failed for %s, skipping", path, exc_info=True)
            return None
    if os.path.exists(path):
        return _read_csv(spark, path)
    logger.warning("source not found: %s, skipping", path)
    return None


def extract_fitbit(spark: SparkSession, fitbit_dir: str) -> dict[str, DataFrame]:
    """S1: the five Fitbit CSVs, skip-if-missing, per-file isolation
    (main_etl_pipeline.py:58-84)."""
    out: dict[str, DataFrame] = {}
    for key, (filename, schema) in FITBIT_FILES.items():
        path = os.path.join(fitbit_dir, filename)
        if not os.path.exists(path):
            logger.warning("fitbit file not found: %s, skipping", path)
            continue
        out[key] = _read_csv(spark, path, schema)
    return out


def extract_all(spark: SparkSession, cfg) -> dict[str, object]:
    """All sources (main_etl_pipeline.py:956-959): fitbit dict + gym CSV +
    mendeley/nutrition tabular. Only present sources appear in the dict.

    The four source groups are independent, so they extract on a thread
    pool: the CSV schema scans and the xlsx localCheckpoint jobs run
    JVM-side (GIL released). Sheets read natively are parsed first, on
    this thread, because the fork-parallel parse of a big sheet is
    main-thread-only; each pooled task gets its sheet's rows. A sheet
    whose parse fails is logged and its source skipped."""
    xlsx_sources = {
        "mendeley_health": os.path.join(cfg.data_dir, "gym_recommendation.xlsx"),
        "nutrition": os.path.join(cfg.data_dir, "nutrition.xlsx"),
    }
    parsed = xlsx.prewarm_rows_many(
        [p for p in xlsx_sources.values() if _xlsx_without_sibling(p)]
    )
    gym_path = os.path.join(cfg.data_dir, "gym_members_exercise_tracking.csv")
    builders = [
        ("fitbit", lambda: extract_fitbit(spark, cfg.fitbit_dir)),
        ("gym_members", lambda: read_tabular(spark, gym_path)),
    ]
    for name, path in xlsx_sources.items():
        rows = parsed.get(path)
        if isinstance(rows, Exception):
            logger.warning("xlsx parse failed for %s, skipping", path, exc_info=rows)
            continue
        builders.append((name, functools.partial(read_tabular, spark, path, rows)))
    results = declare_parallel(builders, max_workers=len(builders))
    # fitbit is a dict (empty = every file missing); the rest are
    # DataFrame-or-None
    return {
        name: df
        for name, df in results.items()
        if df is not None and (name != "fitbit" or df)
    }
