"""Property-style engine parity for the CEP sequence detector (third of
the r12 §2.8 trilogy, after watermark and rate-limiter): for an
in-order feed, the matches emitted by the REAL applyInPandasWithState
NFA — state carried across micro-batches through the checkpoint — must
equal a pure-Python simulation of the same skip-till-next-match NFA
over each user's events, for ANY split of the feed into micro-batches,
any interleaving of users, and any mix of in-window/expired gaps.
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

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests import streaming_feed as SF  # noqa: E402

N_EVENTS = 30
T0 = datetime.datetime(2016, 4, 1, 10, 0, 0)
STEP_US = 30 * 60 * 1_000_000  # module default deadline
TYPES = ("view", "cart", "purchase", "click")  # click = noise


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
    cuts = draw(
        st.lists(st.integers(1, N_EVENTS - 1), max_size=3, unique=True)
    )
    return etypes, users, gaps, sorted(cuts)


# micro-batch cuts on both sides of the cart of an open view→cart→
# purchase attempt: the purchase matches only if the detector's state
# crosses both cuts (hypothesis's first draws rarely cut an attempt)
_CUT_ATTEMPT = (
    ["view", "cart", "purchase"] + ["click"] * (N_EVENTS - 3),
    [0] * N_EVENTS,
    [10] * N_EVENTS,
    [1, 2],
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
@example(case=_CUT_ATTEMPT)
def test_cep_matches_invariant_to_batching(spark, case):
    from fitness_nutrition_data_pipeline_spark.streaming.cep import (
        stream_detect_sequences,
    )

    etypes, users, gaps, cuts = case
    work = tempfile.mkdtemp(prefix="cep_prop_")
    try:
        rows, t = [], 0
        for i in range(N_EVENTS):
            t += gaps[i]
            rows.append((i, T0 + datetime.timedelta(seconds=t), users[i],
                         etypes[i], 1.0))
        bounds = [0, *cuts, N_EVENTS]
        emitted = []
        for b in range(len(bounds) - 1):
            emitted += SF.feed(
                work,
                rows[bounds[b] : bounds[b + 1]],
                lambda indir: stream_detect_sequences(spark, indir),
            )

        got = sorted(
            (r.user_id, r.t_view_us, r.t_cart_us, r.t_purchase_us)
            for r in emitted
        )
        # build the simulation's epoch-us inputs through the SAME
        # parquet->pandas conversion the detector itself uses, so no
        # naive-datetime/session-timezone offset can skew absolute times
        pdf = spark.read.parquet(os.path.join(work, "in")).toPandas()
        pdf = pdf.assign(_us=pdf["ts"].astype("int64") // 1000).sort_values(
            "event_id"
        )
        sim_rows = list(
            zip(pdf["event_id"], pdf["_us"].astype(int),
                pdf["user_id"], pdf["event_type"])
        )
        want = _simulate(sim_rows)
        assert got == want, (
            f"cuts={cuts} got-only={set(got) - set(want)} "
            f"want-only={set(want) - set(got)}"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
