"""Incremental view maintenance (streaming/ivm.py): the signed fold
the oracle-checked ivm_batch_replay query runs."""

from fitness_nutrition_data_pipeline_spark.streaming.ivm import (
    delta_effects,
    empty_state,
    merge_state,
)


def _state_dict(df):
    return {
        r["k"]: (r["n_events"], r["value_ppm"]) for r in df.collect()
    }


def test_merge_is_order_insensitive_fold(spark):
    """Folding waves A,B then C must equal folding A then B,C — the
    associativity that lets batch boundaries fall anywhere."""
    rows = [("a", 3, "I"), ("b", 2, "I"), ("a", 4, "I"), ("a", 3, "R"),
            ("c", 9, "I"), ("b", 1, "I")]
    splits = [
        [rows[:2], rows[2:4], rows[4:]],
        [rows[:4], rows[4:]],
        [rows[:1], rows[1:5], rows[5:]],
    ]
    outs = []
    for waves in splits:
        state = empty_state(spark, "k string")
        for w in waves:
            batch = spark.createDataFrame(w, "k string, v long, op string")
            state = merge_state(
                state, delta_effects(batch, ["k"], "v", op_col="op"), ["k"]
            )
        outs.append(_state_dict(state))
    assert outs[0] == outs[1] == outs[2]
    # and equals the hand recompute over net-surviving rows ('a' had
    # one retraction of its 3-valued insert)
    assert outs[0] == {"a": (1, 4), "b": (2, 3), "c": (1, 9)}


def test_retraction_drops_fully_retracted_key(spark):
    state = empty_state(spark, "k string")
    for wave in ([("a", 10, "I"), ("b", 7, "I")], [("a", 10, "R"), ("b", 1, "I")]):
        batch = spark.createDataFrame(wave, "k string, v long, op string")
        state = merge_state(state, delta_effects(batch, ["k"], "v", op_col="op"), ["k"])
    # 'a' fully retracted -> dropped from state; 'b' keeps both inserts
    assert _state_dict(state) == {"b": (2, 8)}
