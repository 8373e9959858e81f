"""Structured Streaming ingestion of the Fitbit feeds (SURVEY §2.8).

The reference computes daily sleep/heart-rate rollups as batch group-bys
over per-second/per-minute files (main_etl_pipeline.py:540-569). Those
feeds are shaped like streams; here the same rollups run as a Structured
Streaming plan: file source → event-time parse → watermark → 1-day
tumbling window → the daily aggregate of plans/facts.py::DAILY_FEEDS.
The output is Fact_HealthMetric-shaped, so a stream can feed the same
warehouse table as the batch build.

The watermark evicts a window's state 1 day after the newest event has
passed it; state is bounded by devices × open windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.plans.facts import (
    DAILY_FEEDS,
    _fitbit_user_map,
    parse_us_datetime,
)
from fitness_nutrition_data_pipeline_spark.sources.fitness import FITBIT_FILES


def stream_fact_health_metric(
    spark: SparkSession,
    input_dir: str,
    kind: str,
    mapping: DataFrame,
    dim_date: DataFrame,
) -> DataFrame:
    """Streaming form of plans/facts.build_fact_health_metric for one
    feed of ``DAILY_FEEDS`` (``kind``: 'sleep_minutes' | 'heartrate'):
    stream-static broadcast joins resolve UserKey/DateKey BEFORE the
    windowed aggregation (join-after-agg is both restricted in streaming
    and the worse plan), then the 1-day tumbling rollup emits
    Fact_HealthMetric rows.
    """
    ts_col, daily_agg, metric_key, unit = DAILY_FEEDS[kind]
    src = (
        spark.readStream.schema(FITBIT_FILES[kind][1])
        .option("header", True)
        .option("maxFilesPerTrigger", 16)
        .csv(input_dir)
    )
    # snapshot the static sides: the streaming analyzer rejects plans whose
    # static lineage contains batch-only expressions (the resolution path
    # uses monotonically_increasing_id); localCheckpoint truncates lineage
    users = _fitbit_user_map(mapping).localCheckpoint()
    dates = dim_date.select("DateKey", "FullDate").localCheckpoint()
    parsed = src.withColumn("_ts", parse_us_datetime(ts_col)).where(F.col("_ts").isNotNull())
    keyed = parsed.join(
        F.broadcast(users), parsed["Id"].cast("string") == users["_fitbit_id"]
    ).join(F.broadcast(dates), F.col("_ts").cast("date") == dates["FullDate"])
    return (
        keyed.withWatermark("_ts", "1 day")
        .groupBy(F.window("_ts", "1 day").alias("_w"), "UserKey", "DateKey")
        .agg(daily_agg().cast("double").alias("Value"))
        .select(
            "UserKey",
            "DateKey",
            F.lit(metric_key).cast("long").alias("MetricTypeKey"),
            "Value",
            F.lit(unit).alias("Unit"),
        )
    )
