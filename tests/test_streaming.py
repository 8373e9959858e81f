"""The batch watermark replay (queries/analytics_ops.py::watermark_tags)
against Spark's own streaming engine."""


def test_watermark_replay_matches_engine(spark, tmp_path):
    """queries/analytics_ops.watermark_tags claims to reproduce the
    engine's batch-boundary watermark semantics. Prove it against the
    REAL engine: stream 5 files (one micro-batch each, availableNow +
    maxFilesPerTrigger=1) through withWatermark + dropDuplicates over
    unique keys — the row-level late filter — and compare surviving
    event_ids with the batch replay's dropped tags."""
    import pyspark.sql.functions as F

    from fitness_nutrition_data_pipeline_spark.queries.analytics_ops import (
        watermark_tags,
    )

    base = str(tmp_path / "wm_in")
    import os

    os.makedirs(base)
    # deterministic out-of-order series: 1 event/min, every 37th event
    # 2 hours late (far below the 10-min watermark once it advances),
    # every 11th event 5 minutes late (inside allowed lateness)
    rows = []
    t0 = 1700000000  # epoch seconds, fixed
    for i in range(1000):
        ts = t0 + i * 60
        if i % 37 == 0 and i > 0:
            ts -= 7200
        elif i % 11 == 0 and i > 0:
            ts -= 300
        rows.append((i, ts))
    # Drive the 5 micro-batches EXPLICITLY: one availableNow run per
    # file against a shared checkpoint, so batch order (and therefore
    # the watermark history) is pinned by construction — the file
    # source's own modification-time ordering is not reliable for
    # files written in the same instant.
    batch_size = 200
    survived_engine: set[int] = set()
    for b in range(5):
        with open(f"{base}/batch{b}.csv", "w") as f:
            f.write("event_id,ts\n")
            for i, ts in rows[b * batch_size : (b + 1) * batch_size]:
                f.write(f"{i},{ts}\n")
        stream = (
            spark.readStream.schema("event_id LONG, ts LONG")
            .option("header", True)
            .csv(base)
            .select("event_id", F.timestamp_seconds("ts").alias("ts"))
            .withWatermark("ts", "10 minutes")
            .dropDuplicates(["event_id", "ts"])
        )
        emitted: list[int] = []

        def sink(df, _epoch, _out=emitted):
            _out.extend(r["event_id"] for r in df.collect())

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination()
        survived_engine |= set(emitted)

    arr = spark.createDataFrame(rows, "event_id long, ts long").select(
        "event_id",
        F.expr(f"event_id div {batch_size}").alias("batch"),
        (F.col("ts") * 1_000_000).alias("t_us"),
    )
    tagged = watermark_tags(arr, delay_us=600_000_000)
    survived_replay = {
        r["event_id"]
        for r in tagged.where(F.col("dropped") == 0).collect()
    }
    n_dropped = 1000 - len(survived_replay)
    assert n_dropped > 0, "test must actually exercise drops"
    assert survived_engine == survived_replay
    # the 5-minute-late rows are inside allowed lateness -> never dropped
    late_ok = {r["event_id"] for r in tagged.where("late_ok = 1").collect()}
    assert late_ok and late_ok <= survived_replay
