"""Property-style parity for the CEP sequence detector
(streaming/cep.py): the matches the per-user NFA emits through
``applyInPandas`` must equal a pure-Python simulation of the same
skip-till-next-match NFA over each user's events, for any arrival order,
any interleaving of users, and any mix of in-window/expired gaps.
"""


from __future__ import annotations

# slow tier: excluded from the default pytest run (see pytest.ini);
# run with -m slow
import pytest

pytestmark = pytest.mark.slow

import datetime
import os
import sys

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = 30
T0 = datetime.datetime(2016, 4, 1, 10, 0, 0)
PATTERN = ("view", "cart", "purchase")
STEP_US = 30 * 60 * 1_000_000
TYPES = (*PATTERN, "click")  # click = noise


@st.composite
def feed(draw):
    etypes = draw(
        st.lists(st.sampled_from(TYPES), min_size=N_EVENTS, max_size=N_EVENTS)
    )
    users = draw(
        st.lists(st.integers(0, 1), min_size=N_EVENTS, max_size=N_EVENTS)
    )
    # gap BEFORE each event: 10 s (in-window) or 2400 s (expires any
    # pending attempt — 2400 s > 30 min)
    gaps = draw(
        st.lists(st.sampled_from([10, 2400]), min_size=N_EVENTS,
                 max_size=N_EVENTS)
    )
    order = draw(st.permutations(range(N_EVENTS)))
    return etypes, users, gaps, order


# one complete view→cart→purchase attempt (hypothesis's first draws
# rarely complete one)
_MATCH = (
    ["view", "cart", "purchase"] + ["click"] * (N_EVENTS - 3),
    [0] * N_EVENTS,
    [10] * N_EVENTS,
    list(range(N_EVENTS)),
)


def _simulate(rows):
    """The NFA's semantics, straight-line Python: per user, in
    (ts, event_id) order, skip-till-next-match with a per-step deadline."""
    out = []
    state = {}  # user -> [stage, t_first, t_second, t_prev]
    for event_id, ts_us, user, etype in rows:
        st_ = state.setdefault(user, [0, 0, 0, 0])
        stage, t_first, t_second, t_prev = st_
        if stage > 0 and ts_us - t_prev > STEP_US:
            stage = 0
        if stage == 0:
            if etype == "view":
                stage, t_first, t_prev = 1, ts_us, ts_us
        elif stage == 1:
            if etype == "cart":
                stage, t_second, t_prev = 2, ts_us, ts_us
        elif etype == "purchase":
            out.append((user, t_first, t_second, ts_us))
            stage = 0
        state[user] = [stage, t_first, t_second, t_prev]
    return sorted(out)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(feed())
@example(case=_MATCH)
def test_cep_matches_simulation(spark, case):
    from fitness_nutrition_data_pipeline_spark.streaming.cep import (
        MATCH_SCHEMA,
        make_detector,
    )

    etypes, users, gaps, order = case
    rows, t = [], 0
    for i in range(N_EVENTS):
        t += gaps[i]
        rows.append((i, T0 + datetime.timedelta(seconds=t), users[i], etypes[i]))
    df = spark.createDataFrame(
        [rows[i] for i in order],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    got = sorted(
        tuple(r)
        for r in df.groupBy("user_id")
        .applyInPandas(make_detector(PATTERN, STEP_US), MATCH_SCHEMA)
        .collect()
    )
    # build the simulation's epoch-us inputs through the SAME
    # Spark->pandas conversion the detector itself sees, so no
    # naive-datetime/session-timezone offset can skew absolute times
    pdf = df.toPandas()
    pdf = pdf.assign(_us=pdf["ts"].astype("int64") // 1000).sort_values(
        "event_id"
    )
    sim_rows = list(
        zip(pdf["event_id"], pdf["_us"].astype(int),
            pdf["user_id"], pdf["event_type"])
    )
    want = _simulate(sim_rows)
    assert got == want, (
        f"got-only={set(got) - set(want)} want-only={set(want) - set(got)}"
    )
