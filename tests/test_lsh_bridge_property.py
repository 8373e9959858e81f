"""Property parity for the streaming LSH dedup bridge
(streaming/lsh_bridge.py): the incremental engine's emitted pair set is
invariant to HOW the corpus is cut into micro-batches (the §2.8
drawn-split discipline — tests/test_drift_property.py is the template),
equals the global batch answer, is idempotent under foreachBatch's
at-least-once redelivery, and survives the durable-state swap protocol's
crash windows.

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
import shutil
import sys
import tempfile
import time

import pytest
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
        for r in bridge.process_batch(bdf, b).collect():
            key = (r["doc_id_a"], r["doc_id_b"])
            assert key not in emitted, f"pair {key} emitted twice"
            emitted[key] = r["n_shared_bands"]
            # a pair is discovered no earlier than both docs' batches
            assert b == max(batch_of[key[0]], batch_of[key[1]])
    assert emitted == expected


def test_bridge_redelivery_is_noop(spark):
    """foreachBatch is at-least-once: re-processing an already-folded
    batch must emit zero pairs and leave the state unchanged — the
    bridge's idempotence is algebraic (anti-join on doc identity), no
    watermark sidecar involved."""
    docs = _mk_docs([0] * 8)
    bridge = LshDedupBridge(spark)
    b0 = spark.createDataFrame(docs[:4], "doc_id long, text string")
    b1 = spark.createDataFrame(docs[4:], "doc_id long, text string")
    first = bridge.process_batch(b0, 0).count()
    assert bridge.process_batch(b0, 0).count() == 0  # redelivery
    n_state = bridge.read_state().count()
    assert bridge.process_batch(b0, 0).count() == 0
    assert bridge.read_state().count() == n_state
    second = bridge.process_batch(b1, 1).count()
    # template twins across the two halves must have been found
    assert first > 0 and second > 0


def test_bridge_durable_state_and_crash_recovery(spark):
    """The parquet state tier: state survives bridge re-instantiation
    (restart), and both crash windows of the write-new-then-swap repair
    — a complete ._next rolls forward, a lone ._old rolls back."""
    base = tempfile.mkdtemp(prefix="lsh_bridge_state_")
    state_dir = os.path.join(base, "state")
    try:
        docs = _mk_docs([0, 1] * 5)
        b0 = spark.createDataFrame(docs[:5], "doc_id long, text string")
        b1 = spark.createDataFrame(docs[5:], "doc_id long, text string")

        bridge = LshDedupBridge(spark, state_dir=state_dir)
        bridge.process_batch(b0, 0)
        n0 = bridge.read_state().count()
        assert n0 > 0 and os.path.isdir(state_dir)

        # restart: a fresh instance reads the same durable state and a
        # redelivered batch is still a no-op
        bridge2 = LshDedupBridge(spark, state_dir=state_dir)
        assert bridge2.read_state().count() == n0
        assert bridge2.process_batch(b0, 0).count() == 0

        pairs1 = bridge2.process_batch(b1, 1)
        n1 = bridge2.read_state().count()
        assert n1 > n0 and pairs1.count() > 0

        # crash window 1: state renamed aside, complete ._next waiting
        os.replace(state_dir, state_dir + "._next")
        shutil.copytree(state_dir + "._next", state_dir + "._old")
        bridge3 = LshDedupBridge(spark, state_dir=state_dir)
        assert bridge3.read_state().count() == n1  # rolled forward
        assert not os.path.isdir(state_dir + "._next")
        assert not os.path.isdir(state_dir + "._old")

        # crash window 2: ._next incomplete (no _SUCCESS), ._old intact
        os.replace(state_dir, state_dir + "._old")
        os.makedirs(state_dir + "._next")
        bridge4 = LshDedupBridge(spark, state_dir=state_dir)
        assert bridge4.read_state().count() == n1  # rolled back
        assert not os.path.isdir(state_dir + "._next")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bridge_rejects_remote_state_uri(spark):
    with pytest.raises(ValueError, match="local filesystem"):
        LshDedupBridge(spark, state_dir="s3a://bucket/state")


def test_bridge_under_real_stream(spark):
    """§2.8 parity: the bridge driven by the REAL Structured Streaming
    runtime (file source, maxFilesPerTrigger=1, availableNow drain,
    foreachBatch sink) emits exactly the global pair set, each pair
    surfacing in the micro-batch where its later doc arrived."""
    from fitness_nutrition_data_pipeline_spark.streaming.lsh_bridge import (
        run_lsh_bridge_stream,
    )

    base = tempfile.mkdtemp(prefix="lsh_bridge_stream_")
    try:
        docs = _mk_docs([0, 1, 0, 0, 1, 0, 1, 1, 0])
        expected = _global_pairs(spark, docs)
        # three files -> three micro-batches, arrival order = file order
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        batch_of = {}
        base_mtime = int(time.time())
        for b in range(3):
            chunk = [d for i, d in enumerate(docs) if i % 3 == b]
            for doc_id, _ in chunk:
                batch_of[doc_id] = b
            out_dir = os.path.join(in_dir, f"b{b}.parquet")
            spark.createDataFrame(
                chunk, "doc_id long, text string"
            ).coalesce(1).write.parquet(out_dir)
            # FileStreamSource orders micro-batches by data-file mtime;
            # three dirs written back-to-back can TIE on coarse-mtime
            # filesystems, making batch order flaky (ADVICE r16 #1).
            # Pin strictly increasing mtimes so arrival order == b.
            for root, _dirs, files in os.walk(out_dir):
                for f in files:
                    os.utime(os.path.join(root, f),
                             (base_mtime + b, base_mtime + b))
        emitted = {}
        out = run_lsh_bridge_stream(
            spark,
            in_dir + "/*/",
            state_dir=os.path.join(base, "state"),
        )
        for r in out.collect():
            key = (r["doc_id_a"], r["doc_id_b"])
            assert key not in emitted
            emitted[key] = r["n_shared_bands"]
            # the batch-tagging contract must hold under the REAL
            # scheduler too: a pair surfaces in the micro-batch where
            # its LATER doc arrived (file order = batch order here —
            # the source lists by modification time and the three
            # files were written sequentially)
            assert r["batch_id"] == max(
                batch_of[key[0]], batch_of[key[1]]
            ), f"pair {key} surfaced in micro-batch {r['batch_id']}"
        assert emitted == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_sink_failure_does_not_advance_state(spark):
    """The exactly-once ordering (code-review r16): the pair sink runs
    BEFORE the state swap, so a sink crash leaves the state untouched
    and the redelivered batch recomputes the identical pairs — with the
    old (post-swap) ordering those pairs would have been lost forever."""
    base = tempfile.mkdtemp(prefix="lsh_bridge_sinkfail_")
    try:
        docs = _mk_docs([0] * 6)
        bridge = LshDedupBridge(
            spark, state_dir=os.path.join(base, "state")
        )
        b0 = spark.createDataFrame(docs, "doc_id long, text string")

        class Boom(Exception):
            pass

        def failing_sink(pairs):
            raise Boom()

        with pytest.raises(Boom):
            bridge.process_batch(b0, 0, sink=failing_sink)
        assert bridge.read_state().count() == 0, (
            "state advanced past a failed sink — the redelivered batch "
            "would emit zero pairs and the batch's output is lost"
        )
        # redelivery after the crash recomputes the full pair set
        got = []
        bridge.process_batch(b0, 0, sink=lambda p: got.extend(p.collect()))
        assert len(got) > 0
        assert {(r["doc_id_a"], r["doc_id_b"]): r["n_shared_bands"]
                for r in got} == _global_pairs(spark, docs)
        # and now the state HAS advanced: a second delivery is a no-op
        assert bridge.process_batch(b0, 0).count() == 0
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_bridge_restart_catchup_without_engine_checkpoint(spark):
    """Restart semantics the durable state buys on its own: a FRESH
    streaming query (no checkpointLocation) re-reads every input file,
    but the redelivered docs are state-side and emit nothing — only
    files that arrived since the last run surface pairs. Exactly-once
    across restarts without engine-checkpoint coupling."""
    from fitness_nutrition_data_pipeline_spark.streaming.lsh_bridge import (
        run_lsh_bridge_stream,
    )

    base = tempfile.mkdtemp(prefix="lsh_bridge_restart_")
    try:
        docs = _mk_docs([0] * 9)
        expected = _global_pairs(spark, docs)
        in_dir = os.path.join(base, "in")
        state_dir = os.path.join(base, "state")
        os.makedirs(in_dir)

        def write(b, chunk):
            spark.createDataFrame(
                chunk, "doc_id long, text string"
            ).coalesce(1).write.parquet(os.path.join(in_dir, f"b{b}.parquet"))

        write(0, docs[:3])
        write(1, docs[3:6])
        first = run_lsh_bridge_stream(
            spark, in_dir + "/*/", state_dir=state_dir
        ).collect()
        assert len(first) > 0

        # "restart": new query, same input glob (both old files re-read),
        # plus one new arrival
        write(2, docs[6:])
        second = run_lsh_bridge_stream(
            spark, in_dir + "/*/", state_dir=state_dir
        ).collect()
        new_docs = {d for d, _ in docs[6:]}
        for r in second:
            assert r["doc_id_a"] in new_docs or r["doc_id_b"] in new_docs, (
                f"pair ({r['doc_id_a']},{r['doc_id_b']}) re-emitted on "
                f"restart despite both docs predating it"
            )
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["n_shared_bands"]
            for r in [*first, *second]
        }
        assert len(got) == len(first) + len(second), "a pair emitted twice"
        assert got == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)
