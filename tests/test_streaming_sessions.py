"""The stateful streaming sessionizer must close sessions on >30min gaps
and keep the open tail in state (not emitted)."""

from datetime import datetime

import pytest

from fitness_nutrition_data_pipeline_spark.streaming import drain
from fitness_nutrition_data_pipeline_spark.streaming.sessions import stream_sessionize


def _ts(minute: int) -> datetime:
    return datetime(2024, 1, 1, minute // 60, minute % 60, 0)


@pytest.fixture(scope="module")
def session_table(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("sess"))
    rows = [
        # user 1: events at t=0,10,20 (one session), gap, t=60,65 (second
        # session closes the first), open tail stays in state
        (1, _ts(0), 1, "view", 1.0),
        (2, _ts(10), 1, "view", 1.0),
        (3, _ts(20), 1, "click", 1.0),
        (4, _ts(60), 1, "view", 1.0),
        (5, _ts(65), 1, "view", 1.0),
        # user 2: single burst, never closes in-batch
        (6, _ts(5), 2, "view", 1.0),
        (7, _ts(6), 2, "view", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    df.write.mode("overwrite").parquet(f"{base}/events")
    return drain(stream_sessionize(spark, f"{base}/events"), "sess_out")


def test_closed_sessions_emitted(session_table):
    rows = session_table.collect()
    assert len(rows) == 1  # only user 1's first session closed
    r = rows[0]
    assert r.user_id == 1
    assert r.n_events == 3
    assert (r.session_end_us - r.session_start_us) == 20 * 60 * 1_000_000


def test_open_sessions_not_emitted(session_table):
    assert session_table.where("user_id = 2").count() == 0


def test_native_session_window_stream_matches_custom(spark, tmp_path_factory):
    """The engine-managed session_window stream must emit the SAME closed
    sessions as the custom applyInPandasWithState sessionizer on the
    same feed (sessions whose windows the watermark has sealed). Events
    for two users with an intra-session 10-min gap and an inter-session
    2-hour gap, plus a final far-future flush event per user so every
    real session's window passes the watermark and emits."""
    import datetime
    import os

    from fitness_nutrition_data_pipeline_spark.streaming.sessions import (
        EVENT_SCHEMA,
        stream_sessionize_native,
    )

    t0 = datetime.datetime(2016, 4, 1, 10, 0, 0)

    def ev(eid, minutes, uid):
        return (eid, t0 + datetime.timedelta(minutes=minutes), uid, "click", 1.0)

    rows = [
        ev(1, 0, 1), ev(2, 10, 1), ev(3, 20, 1),      # session A: 3 events
        ev(4, 140, 1), ev(5, 150, 1),                 # session B: 2 events
        ev(6, 5, 2),                                  # session C: 1 event
        # flush events far in the future advance the watermark past B/C
        ev(7, 10000, 1), ev(8, 10000, 2),
    ]
    base = str(tmp_path_factory.mktemp("native_sess"))
    indir = os.path.join(base, "in")
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(indir)

    native = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in drain(stream_sessionize_native(spark, indir), "native_sess_out").collect()
    }

    custom = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in drain(stream_sessionize(spark, indir), "custom_sess_out").collect()
    }
    # both emit exactly the sealed sessions A, B, C (flush events' own
    # sessions stay open in both implementations)
    us = lambda m: int(  # noqa: E731
        (t0 + datetime.timedelta(minutes=m))
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
        * 1_000_000
    )
    expected = {
        (1, us(0), us(20), 3),
        (1, us(140), us(150), 2),
        (2, us(5), us(5), 1),
    }
    assert native == expected
    assert custom == expected
