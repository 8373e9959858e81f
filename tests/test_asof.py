"""as_of_join semantics: latest at-or-before match, tie-inclusive, NULL
when nothing precedes, and the whole latest right row carried (its NULL
fields included)."""

from datetime import datetime

from fitness_nutrition_data_pipeline_spark.operators.asof import as_of_join


def _ts(m):
    return datetime(2024, 1, 1, 0, m, 0)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(5)), (2, 10, _ts(20)), (3, 10, _ts(1)), (4, 20, _ts(9))],
        "id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, 10, _ts(2), 1.0), (101, 10, _ts(5), 2.0), (102, 10, _ts(15), 3.0),
         (103, 30, _ts(1), 9.0)],
        "rid long, k long, ts timestamp, v double",
    )
    out = {
        r.id: (r.asof_rid, r.asof_v)
        for r in as_of_join(
            left, right, "k", "ts", "ts", right_value_cols=["rid", "v"]
        ).collect()
    }
    assert out[1] == (101, 2.0)   # tie at ts=5 matches (inclusive)
    assert out[2] == (102, 3.0)   # latest ≤ 20
    assert out[3] is not None and out[3] == (None, None)  # nothing precedes
    assert out[4] == (None, None)  # key 20 has no right rows


def test_asof_join_null_field_in_latest_row(spark):
    """If the latest right row has v=NULL, ASOF must return (that row's id,
    NULL) — not splice in the previous row's non-NULL v. Matches DuckDB
    ASOF JOIN row semantics."""
    t = lambda m: datetime(2024, 1, 1, 0, m, 0)
    left = spark.createDataFrame([(1, 10, t(20))], "id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(100, 10, t(2), 1.0), (101, 10, t(15), None)],
        "rid long, k long, ts timestamp, v double",
    )
    out = as_of_join(
        left, right, "k", "ts", "ts", right_value_cols=["rid", "v"]
    ).collect()
    assert len(out) == 1
    assert out[0].asof_rid == 101
    assert out[0].asof_v is None, "must not mix v from an earlier right row"
