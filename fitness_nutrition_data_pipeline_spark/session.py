"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
shuffle partitions sized to the parallelism actually available, Arrow for
any pandas interchange, UTC session time zone so timestamp semantics match
the DuckDB oracle (which is time-zone-naive). PySpark's per-call DataFrame
debugging (call-site capture) is off.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fitness_nutrition_pipeline",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``SPARK_GRAFT_CPUS`` (driver contract) sizes both local parallelism and
    ``spark.sql.shuffle.partitions``; on a real cluster the master/partition
    settings come from spark-submit and only the semantic confs below matter.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # PySpark otherwise wraps every pyspark.sql.functions call in a
        # call-site capture: a conf read and two calls over py4j, a stack
        # walk, and an `import IPython` whose first run loads IPython,
        # jedi and prompt_toolkit into the driver (~26 MB). It feeds only
        # the call-site line of DataFrame-context error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # Timestamps in the synthetic data are wall-clock (no zone); read
        # them as NTZ so Spark values match the DuckDB oracle bit-for-bit.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) has no Spark type: read as
        # long nanos and convert explicitly in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
