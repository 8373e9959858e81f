"""Streaming drift monitor: windowed histogram state stays on
(window, bin) grain; the KS stage flags the shifted window and clears
the in-distribution one."""

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.streaming import drain
from fitness_nutrition_data_pipeline_spark.streaming.drift import (
    binned_drift_scores,
    windowed_value_histogram,
)


@pytest.fixture
def drift_stream_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("drift_stream"))
    # window 1 (10:00): values match the baseline 50/50 split across
    # bins 0 and 1; window 2 (10:10): all mass lands in bin 3 (drift)
    rows1 = [(i, f"2016-04-01 10:0{i % 10}:00", 5.0 if i % 2 else 15.0) for i in range(20)]
    rows2 = [(100 + i, f"2016-04-01 10:1{i % 10}:00", 35.0) for i in range(20)]
    with open(f"{base}/batch1.csv", "w") as f:
        f.write("event_id,ts,value\n")
        for r in rows1 + rows2:
            f.write(f"{r[0]},{r[1]},{r[2]}\n")
    return base


def test_windowed_histogram_bins_and_windows(spark, drift_stream_dir):
    src = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(drift_stream_dir)
    )
    hist = drain(
        windowed_value_histogram(src, "ts", "value", bin_width=10.0), "drift_hist", "complete"
    )
    rows = {(str(r.window_start), r.bin): r.n for r in hist.collect()}
    assert rows[("2016-04-01 10:00:00", 0)] == 10
    assert rows[("2016-04-01 10:00:00", 1)] == 10
    assert rows[("2016-04-01 10:10:00", 3)] == 20
    # state grain: (window, bin) only — 3 rows total, not 40
    assert len(rows) == 3


def test_drift_scores_flag_shifted_window(spark, drift_stream_dir):
    src = (
        spark.readStream.schema("event_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(drift_stream_dir)
    )
    hist = drain(
        windowed_value_histogram(src, "ts", "value", bin_width=10.0), "drift_hist2", "complete"
    )
    baseline = spark.createDataFrame([(0, 0.5), (1, 0.5)], "bin long, share double")
    scores = {str(r.window_start): r for r in binned_drift_scores(hist, baseline).collect()}
    in_dist = scores["2016-04-01 10:00:00"]
    shifted = scores["2016-04-01 10:10:00"]
    assert in_dist.ks_stat == 0.0 and in_dist.n_rows == 20
    assert shifted.ks_stat == 1.0 and shifted.n_rows == 20


def test_stream_batch_histogram_parity(spark, drift_stream_dir):
    """The SAME windowed_value_histogram function over the same rows must
    produce identical histograms streamed (availableNow drain) and batch
    (withWatermark no-op) — the parity that lets the driver's batch-replay
    query vouch for the streaming path."""
    schema = "event_id LONG, ts TIMESTAMP, value DOUBLE"
    src = (
        spark.readStream.schema(schema)
        .option("header", True)
        .option("maxFilesPerTrigger", 1)
        .csv(drift_stream_dir)
    )
    streamed = drain(
        windowed_value_histogram(src, "ts", "value", bin_width=10.0), "parity_hist", "complete"
    )
    batch = windowed_value_histogram(
        spark.read.schema(schema).option("header", True).csv(drift_stream_dir),
        "ts",
        "value",
        bin_width=10.0,
    )
    s_rows = sorted(tuple(r) for r in streamed.collect())
    b_rows = sorted(tuple(r) for r in batch.collect())
    assert s_rows == b_rows
