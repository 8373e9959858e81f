"""Property-style parity for the rate limiter (streaming/ratelimit.py):
for any user assignment, quota and arrival order, the events the
per-user function admits through ``applyInPandas`` and their admission
numbering must equal the closed-form first-k-per-user answer — which is
exactly what the registered ``ratelimit_batch_replay`` oracle computes.
"""


from __future__ import annotations

# slow tier: excluded from the default pytest run (see pytest.ini);
# run with -m slow
import pytest

pytestmark = pytest.mark.slow

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_EVENTS = 36


@st.composite
def feed(draw):
    users = draw(
        st.lists(st.integers(0, 2), min_size=N_EVENTS, max_size=N_EVENTS)
    )
    limit = draw(st.sampled_from([1, 2, 3, 5]))
    order = draw(st.permutations(range(N_EVENTS)))
    return users, limit, order


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(feed())
def test_rate_limiter_admits_first_k_per_user(spark, case):
    from fitness_nutrition_data_pipeline_spark.streaming.ratelimit import (
        ADMITTED_SCHEMA,
        _limiter,
    )

    users, limit, order = case
    df = spark.createDataFrame(
        [(users[i], i) for i in order], "user_id long, event_id long"
    )
    got = sorted(
        tuple(r)
        for r in df.groupBy("user_id")
        .applyInPandas(_limiter(limit), ADMITTED_SCHEMA)
        .collect()
    )
    # closed form == the ratelimit_batch_replay oracle: first `limit`
    # event_ids per user, numbered 1..k in id order
    want = []
    per_user: dict[int, int] = {}
    for i in range(N_EVENTS):
        u = users[i]
        k = per_user.get(u, 0) + 1
        if k <= limit:
            per_user[u] = k
            want.append((u, i, k))
    assert got == sorted(want), (
        f"limit={limit} got-only={set(got) - set(want)} "
        f"want-only={set(want) - set(got)}"
    )
