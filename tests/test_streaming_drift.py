"""Drift monitor (streaming/drift.py): the windowed histogram stays on
(window, bin) grain; the KS stage flags the shifted window and clears
the in-distribution one."""

import pytest

from fitness_nutrition_data_pipeline_spark.streaming.drift import (
    binned_drift_scores,
    windowed_value_histogram,
)


@pytest.fixture
def drift_events(spark):
    # window 1 (10:00): values match the baseline 50/50 split across
    # bins 0 and 1; window 2 (10:10): all mass lands in bin 3 (drift)
    rows1 = [(i, f"2016-04-01 10:0{i % 10}:00", 5.0 if i % 2 else 15.0) for i in range(20)]
    rows2 = [(100 + i, f"2016-04-01 10:1{i % 10}:00", 35.0) for i in range(20)]
    return spark.createDataFrame(rows1 + rows2, "event_id long, ts string, value double").selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "value"
    )


def test_windowed_histogram_bins_and_windows(drift_events):
    hist = windowed_value_histogram(drift_events, "ts", "value", bin_width=10.0)
    rows = {(str(r.window_start), r.bin): r.n for r in hist.collect()}
    assert rows[("2016-04-01 10:00:00", 0)] == 10
    assert rows[("2016-04-01 10:00:00", 1)] == 10
    assert rows[("2016-04-01 10:10:00", 3)] == 20
    # grain: (window, bin) only — 3 rows total, not 40
    assert len(rows) == 3


def test_drift_scores_flag_shifted_window(spark, drift_events):
    hist = windowed_value_histogram(drift_events, "ts", "value", bin_width=10.0)
    baseline = spark.createDataFrame([(0, 0.5), (1, 0.5)], "bin long, share double")
    scores = {str(r.window_start): r for r in binned_drift_scores(hist, baseline).collect()}
    in_dist = scores["2016-04-01 10:00:00"]
    shifted = scores["2016-04-01 10:10:00"]
    assert in_dist.ks_stat == 0.0 and in_dist.n_rows == 20
    assert shifted.ks_stat == 1.0 and shifted.n_rows == 20
