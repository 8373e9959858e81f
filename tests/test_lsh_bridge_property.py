"""Property parity for the incremental LSH dedup bridge
(streaming/lsh_bridge.py): the emitted pair set is invariant to HOW the
corpus is cut into batches, equals the global batch answer, and a batch
processed twice emits nothing the second time.

The corpus is synthesized from a tiny vocabulary so near-dup band
collisions actually occur (docs drawn from few token templates collide
in all four bands; unrelated docs collide in none), and the expected
pair set comes from a single global run of the SAME band algebra — the
batch/incremental equivalence is the property under test, the band
algebra itself is pinned cross-engine by tests/test_lsh_dedup_replay.py.
"""


from __future__ import annotations

# slow tier (r18): heavy replay/property suite, excluded from the
# default pytest run (see pytest.ini) -- run with -m slow
import pytest

pytestmark = pytest.mark.slow

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.streaming.lsh_bridge import (  # noqa: E402
    LshDedupBridge,
)

# 12 docs over 3 templates: template twins are guaranteed near-dups
# (identical shingle sets -> identical signatures -> 4 shared bands);
# the suffix token perturbs half of them so partial-band collisions and
# singletons occur too.
_TEMPLATES = (
    "alpha beta gamma delta epsilon zeta",
    "one two three four five six seven",
    "red green blue yellow purple orange",
)


def _mk_docs(variant_bits: list[int]) -> list[tuple[int, str]]:
    docs = []
    for i, bit in enumerate(variant_bits):
        base = _TEMPLATES[i % len(_TEMPLATES)]
        text = base if bit == 0 else base + " tail" + str(i % 2)
        docs.append((i, text))
    return docs


def _global_pairs(spark, docs) -> dict[tuple[int, int], int]:
    """One-shot ground truth: run the same band algebra globally and
    join bands to bands — no incremental state involved."""
    bridge = LshDedupBridge(spark)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bands = bridge.bands_of(df).collect()
    by_bucket: dict[tuple[int, str], list[int]] = {}
    for r in bands:
        by_bucket.setdefault((r["band_id"], r["band_key"]), []).append(
            r["doc_id"]
        )
    out: dict[tuple[int, int], int] = {}
    for (_band, _key), ids in by_bucket.items():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                out[(a, b)] = out.get((a, b), 0) + 1
    return out


@st.composite
def corpus_and_split(draw):
    n = draw(st.integers(6, 12))
    bits = draw(st.lists(st.integers(0, 1), min_size=n, max_size=n))
    # arbitrary batch assignment (not contiguous): the bridge's state
    # algebra must not care which batch a doc lands in
    assign = draw(st.lists(st.integers(0, 2), min_size=n, max_size=n))
    return _mk_docs(bits), assign


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus_and_split())
def test_bridge_split_invariant_and_exactly_once(spark, case):
    docs, assign = case
    expected = _global_pairs(spark, docs)

    bridge = LshDedupBridge(spark)
    emitted: dict[tuple[int, int], int] = {}
    batch_of = dict(zip([d for d, _ in docs], assign))
    for b in range(3):
        batch = [(d, t) for (d, t) in docs if batch_of[d] == b]
        bdf = spark.createDataFrame(
            batch or [], "doc_id long, text string"
        )
        for r in bridge.process_batch(bdf).collect():
            key = (r["doc_id_a"], r["doc_id_b"])
            assert key not in emitted, f"pair {key} emitted twice"
            emitted[key] = r["n_shared_bands"]
            # a pair is discovered no earlier than both docs' batches
            assert b == max(batch_of[key[0]], batch_of[key[1]])
    assert emitted == expected


def test_bridge_redelivery_is_noop(spark):
    """Re-processing an already-folded batch must emit zero pairs and
    leave the state unchanged — the anti-join on doc identity."""
    docs = _mk_docs([0] * 8)
    bridge = LshDedupBridge(spark)
    b0 = spark.createDataFrame(docs[:4], "doc_id long, text string")
    b1 = spark.createDataFrame(docs[4:], "doc_id long, text string")
    first = bridge.process_batch(b0).count()
    assert bridge.process_batch(b0).count() == 0  # redelivery
    n_state = bridge.state.count()
    assert bridge.process_batch(b0).count() == 0
    assert bridge.state.count() == n_state
    second = bridge.process_batch(b1).count()
    # template twins across the two halves must have been found
    assert first > 0 and second > 0
