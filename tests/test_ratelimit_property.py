"""Property-style engine parity for the rate limiter's batch replay
(extends the r12 watermark-property pattern to a second §2.8 family):
for an IN-ORDER feed (event_id monotone across micro-batches — the
regime where the batch QUALIFY-replay oracle is exact), the set of
admitted events and their admission numbering must be invariant to HOW
the feed is split across micro-batches. hypothesis draws the user
assignment, the quota, and the split points; each example drives the
REAL applyInPandasWithState engine once per micro-batch (availableNow
on a shared checkpoint) and compares against the closed-form
first-k-per-user answer — which is exactly what the registered
``ratelimit_batch_replay`` oracle computes.
"""


from __future__ import annotations

# slow tier (r18): heavy replay/property suite, excluded from the
# default pytest run (see pytest.ini) -- run with -m slow
import pytest

pytestmark = pytest.mark.slow

import datetime
import os
import shutil
import sys
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import streaming_feed as SF  # noqa: E402

N_EVENTS = 36
T0 = datetime.datetime(2016, 4, 1, 10, 0, 0)


@st.composite
def feed(draw):
    users = draw(
        st.lists(st.integers(0, 2), min_size=N_EVENTS, max_size=N_EVENTS)
    )
    limit = draw(st.sampled_from([1, 2, 3, 5]))
    cuts = draw(
        st.lists(st.integers(1, N_EVENTS - 1), max_size=3, unique=True)
    )
    return users, limit, sorted(cuts)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(feed())
def test_rate_limiter_admission_invariant_to_batching(spark, case):
    from fitness_nutrition_data_pipeline_spark.streaming.ratelimit import (
        rate_limit_stream,
    )

    users, limit, cuts = case
    work = tempfile.mkdtemp(prefix="rl_prop_")
    try:
        rows = [
            (i, T0 + datetime.timedelta(seconds=i), users[i], "click", 1.0)
            for i in range(N_EVENTS)
        ]
        bounds = [0, *cuts, N_EVENTS]
        emitted = []
        for b in range(len(bounds) - 1):
            emitted += SF.feed(
                work,
                rows[bounds[b] : bounds[b + 1]],
                lambda indir: rate_limit_stream(spark, indir, limit=limit),
            )

        got = sorted((r.user_id, r.event_id, r.admitted_no) for r in emitted)
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
            f"limit={limit} cuts={cuts} got-only={set(got) - set(want)} "
            f"want-only={set(want) - set(got)}"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
