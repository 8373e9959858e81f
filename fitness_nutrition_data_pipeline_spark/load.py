"""Warehouse load layer (SURVEY §2.1 S4-S5).

The reference DDL-replays db_schema.sql into MySQL and appends via to_sql
in dependency order (main_etl_pipeline.py:714-794). Spark-natively the
warehouse is parquet (SURVEY S5): overwrite ≙ DROP/CREATE
(db_schema.sql:10-27), each table registered as a view for the
validation corpus / downstream SQL.

Fact surrogate keys are ``monotonically_increasing_id`` — unique without
any coordination or shuffle (the AUTO_INCREMENT equivalent; dense 1..N
would force a global ordering for no analytical benefit).
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel

logger = logging.getLogger(__name__)

LOAD_ORDER = [
    "Dim_Date", "Dim_User", "Dim_FitnessGoal", "Dim_FitnessType",
    "Dim_HealthCondition", "Dim_Exercise", "Dim_Diet", "Dim_FoodItem",
    "Dim_MetricType", "Dim_WorkoutType", "Dim_MealType",
    "Bridge_User_HealthCondition", "Bridge_User_WorkoutPreference",
    "Bridge_User_DietPreference",
    "Fact_UserSnapshot", "Fact_WorkoutSession", "Fact_HealthMetric",
    "Fact_NutritionLog",
]

FACT_SURROGATES = {
    "Fact_UserSnapshot": "SnapshotKey",
    "Fact_WorkoutSession": "SessionKey",
    "Fact_HealthMetric": "MetricKey",
    "Fact_NutritionLog": "LogKey",
}


def load_warehouse(
    spark: SparkSession, warehouse: dict[str, DataFrame], warehouse_dir: str
) -> dict[str, str]:
    """Write all tables and register each as a temp view; returns
    table → path in dependency order.

    The reference's Dims→Bridges→Facts ordering exists for MySQL FK
    checks (main_etl_pipeline.py:757-764); parquet tables have no write
    dependencies, so the writes run CONCURRENTLY, one thread per table —
    Spark schedules independent jobs in parallel and each tiny table's
    job-submission overhead overlaps instead of serializing. Returned
    paths preserve LOAD_ORDER.
    """
    present = [n for n in LOAD_ORDER if n in warehouse]
    for name in LOAD_ORDER:
        if name not in warehouse:
            logger.warning("table %s not found in transformed data, skipping", name)
            # drop any stale view from a previous run in this session —
            # overwrite ≙ DROP/CREATE applies to absent tables too
            spark.catalog.dropTempView(name)

    def write_one(name: str) -> str:
        df = warehouse[name]
        if name in FACT_SURROGATES:
            df = df.withColumn(FACT_SURROGATES[name], F.monotonically_increasing_id())
        path = os.path.join(warehouse_dir, name.lower())
        df.write.mode("overwrite").parquet(path)
        # register on the writer thread (the catalog is concurrent and
        # names are distinct) with the schema just written: inferring it
        # would start one parquet-footer job per table
        spark.read.schema(df.schema).parquet(path).createOrReplaceTempView(name)
        return path

    try:
        return declare_parallel(
            [(n, functools.partial(write_one, n)) for n in present],
            max_workers=len(present),
        )
    except Exception:
        # views register on the writer threads, so by the time one write
        # fails, siblings may already have registered theirs — a caller
        # that catches and retries must not observe a partially-populated
        # catalog. declare_parallel joins every writer before the error
        # leaves it, so no sibling can re-register after this sweep.
        for name in present:
            try:
                spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001
                logger.warning("cleanup: could not drop temp view %s", name)
        raise


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int
) -> None:
    """Persist a table bucketed + sorted on its join key. Joins between
    tables bucketed the same way need NO shuffle — the disk-layout
    equivalent of the reference's fact-FK B-tree indexes
    (db_schema.sql:211-218), paid once at write time."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # an in-memory catalog forgets the table between sessions but the
    # managed location survives — clear it or saveAsTable refuses
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, table_name.lower()), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)  # managed table in spark.sql.warehouse.dir
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    *,
    bands: int,
    bits: int = 8,
) -> None:
    """Z-order-clustered parquet write: the lakehouse clustering
    primitive as an actual writer (operators/layout.py provides the
    curve key; zorder_locality_stats measures the effect; this applies
    it to storage).

    Quantizes (x, y) onto the Morton grid using their global min/max
    (one tiny aggregate, broadcast back — no collect) and writes one
    ``_zband=`` partition per band, sorted within by the interleaved key.
    The band is the TOP bits of the z-key (band = z >> (2*bits -
    log2(bands))), so every file spans a NARROW min/max band on BOTH
    dimensions and parquet footer pruning skips files for filters on
    either column — single-column sorting gives perfect pruning on one
    dimension and none on the other. The band of every row is a pure
    function of its values, so an external oracle can recompute the
    banding from the source relation and hash-check what the writer put
    on disk (zorder_write_band_spans); sampled range bounds would vary
    run to run. The write is one hash shuffle, the same cost class as
    any sorted write."""
    from fitness_nutrition_data_pipeline_spark.operators.layout import quantize, zvalue

    if bands < 1 or bands > 4**bits or bands & (bands - 1):
        raise ValueError(
            f"bands must be a power of two in [1, 4**bits={4**bits}]"
        )
    bounds = df.agg(
        F.min(x_col).alias("_xlo"),
        F.max(x_col).alias("_xhi"),
        F.min(y_col).alias("_ylo"),
        F.max(y_col).alias("_yhi"),
    )
    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z",
        zvalue(
            quantize(F.col(x_col), F.col("_xlo"), F.col("_xhi"), bits),
            quantize(F.col(y_col), F.col("_ylo"), F.col("_yhi"), bits),
            bits,
        ),
    ).drop("_xlo", "_xhi", "_ylo", "_yhi")
    shift = 2 * bits - (bands.bit_length() - 1)
    (
        keyed.withColumn("_zband", F.shiftright("_z", shift).cast("int"))
        .repartition(bands, "_zband")
        .sortWithinPartitions("_zband", "_z")
        .drop("_z")
        .write.mode("overwrite")
        .partitionBy("_zband")
        .parquet(path)
    )
