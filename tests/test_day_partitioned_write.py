"""Day-partitioned event writes (queries/warehouse_ops.py::
_write_day_partitioned): hot days are salted across several files."""

from pyspark.sql import functions as F


def test_day_partitioned_write_salts_hot_days(spark, tmp_path, monkeypatch):
    """r18 salted dynamic-partition write (_write_day_partitioned): a day
    whose row count exceeds the per-file target must split across
    MULTIPLE files (the r17 repartition(day) put every day in ONE writer
    task — a hot-day serialization ceiling at scale), while a small day
    keeps exactly one file; row counts survive the layout either way."""
    from fitness_nutrition_data_pipeline_spark.queries import warehouse_ops

    monkeypatch.setattr(warehouse_ops, "_ROWS_PER_DAY_FILE", 100)
    hot = [(i, "2024-01-01") for i in range(1000)]
    cold = [(10_000 + i, "2024-01-02") for i in range(50)]
    # null partition values must survive the write (the per-day sizing
    # join is LEFT — an inner join would silently drop them)
    nulls = [(20_000 + i, None) for i in range(3)]
    ev = spark.createDataFrame(
        hot + cold + nulls, "event_id long, day_s string"
    ).select("event_id", F.col("day_s").cast("date").alias("day"))
    path = str(tmp_path / "salted_days")
    # at toy scale AQE's partition coalescing (correctly) merges the tiny
    # salted groups back into one task; disable it here so the test
    # witnesses the salt MECHANISM the coalescer would re-merge below its
    # advisory size — at real scale the groups are advisory-sized and
    # coalescing leaves them parallel
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        warehouse_ops._write_day_partitioned(ev, path)
    finally:
        spark.conf.set(key, prev)

    import glob

    hot_files = glob.glob(f"{path}/day=2024-01-01/*.parquet")
    cold_files = glob.glob(f"{path}/day=2024-01-02/*.parquet")
    assert len(hot_files) > 1, hot_files  # ceil(1000/100)=10 groups spread out
    assert len(cold_files) == 1, cold_files  # groups=1: single file preserved
    back = spark.read.parquet(path)
    counts = {str(r["day"]): r["n"] for r in back.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"2024-01-01": 1000, "2024-01-02": 50, "None": 3}
