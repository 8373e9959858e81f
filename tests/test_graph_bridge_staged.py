"""Staged-for-r18 streaming kNN-graph bridge (streaming/graph_bridge.py
+ queries/llm_ops.py::graph_ingest_batch_replay): the exact driver-gate
compare at two scale factors, the IVM split-invariance property (final
graph == batch build for ANY batch assignment), the algebraic
exactly-once behaviors (redelivery no-op, sink-before-swap), durable
state recovery, and the real-streaming-runtime drive — the same
discipline test_lsh_bridge_property.py applies to the LSH bridge.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from fitness_nutrition_data_pipeline_spark.operators.similarity import (  # noqa: E402
    assign_centroids,
    knn_graph_edges,
)
from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (  # noqa: E402
    _GRAPH_INGEST_ORACLE,
    _GRAPH_K_EDGE,
    graph_ingest_batch_replay,
)
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table  # noqa: E402
from fitness_nutrition_data_pipeline_spark.streaming.graph_bridge import (  # noqa: E402
    GraphIngestBridge,
)
from tools.verify_queries import connect_oracle, fetch_oracle, fetch_spark, norm_rows  # noqa: E402


def _emb(spark, sf="sf0.001"):
    return load_table(spark, f"/root/testdata/{sf}", "embeddings")


def _batch_build(spark, e):
    """The closed form: one global knn_graph_edges build."""
    centroids = e.where(F.col("vec_id") < 10)
    assignments = assign_centroids(e, centroids, "vec_id", "embedding")
    return knn_graph_edges(
        e, assignments, "vec_id", "embedding", k=_GRAPH_K_EDGE
    )


def _edge_set(df):
    return {
        (r["src"], r["dst"], r["edge_sim"])
        for r in df.select("src", "dst", "edge_sim").collect()
    }


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_graph_ingest_replay_matches_oracle(spark, sf):
    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_GRAPH_INGEST_ORACLE))
    s_cols, s_rows = fetch_spark(graph_ingest_batch_replay(spark, sf_dir))
    assert len(s_rows) == len(o_rows) > 0
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"


@pytest.mark.parametrize(
    "split",
    [
        lambda vid: vid % 3,  # modulo interleave (the replay query's)
        lambda vid: 0 if vid < 100 else (1 if vid < 300 else 2),  # ranges
        lambda vid: (vid * 2654435761) % 3,  # Knuth-hash scramble
    ],
)
def test_graph_bridge_split_invariance(spark, split):
    """IVM contract: the final edge relation equals the one-shot batch
    build for ANY batch assignment — insert-only top-k folds converge
    to the same fixpoint regardless of arrival order."""
    e = _emb(spark)
    expected = _edge_set(_batch_build(spark, e))
    bridge = GraphIngestBridge(
        spark, e.where(F.col("vec_id") < 10), k=_GRAPH_K_EDGE
    )
    ids = [r[0] for r in e.select("vec_id").collect()]
    for b in range(3):
        members = [i for i in ids if split(i) == b]
        bridge.process_batch(e.where(F.col("vec_id").isin(members)), b)
    assert _edge_set(bridge.read_edges()) == expected


def test_graph_bridge_redelivery_is_noop(spark):
    """Algebraic exactly-once: a redelivered batch contributes zero new
    nodes, emits an EMPTY delta, and leaves the edge state fixed."""
    e = _emb(spark)
    bridge = GraphIngestBridge(
        spark, e.where(F.col("vec_id") < 10), k=_GRAPH_K_EDGE
    )
    b0 = e.where(F.col("vec_id") % 3 == 0)
    d1 = bridge.process_batch(b0, 0)
    assert d1.count() > 0
    before = _edge_set(bridge.read_edges())
    d2 = bridge.process_batch(b0, 0)  # foreachBatch is at-least-once
    assert d2.count() == 0
    assert _edge_set(bridge.read_edges()) == before


def test_graph_bridge_delta_is_touched_srcs_only(spark):
    """Per-batch cost shape: the delta's srcs are exactly the new nodes
    plus the state nodes sharing a touched IVF partition — never the
    whole history (the |batch| x partition bound, not |history|^2)."""
    e = _emb(spark)
    centroids = e.where(F.col("vec_id") < 10)
    assigns = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_centroids(
            e, centroids, "vec_id", "embedding"
        ).collect()
    }
    bridge = GraphIngestBridge(spark, centroids, k=_GRAPH_K_EDGE)
    bridge.process_batch(e.where(F.col("vec_id") % 3 == 0), 0)
    new_ids = {v for v in assigns if v % 3 == 1}
    touched_parts = {assigns[v] for v in new_ids}
    state_touched = {
        v for v, c in assigns.items()
        if v % 3 == 0 and c in touched_parts
    }
    delta = bridge.process_batch(e.where(F.col("vec_id") % 3 == 1), 1)
    delta_srcs = {r["src"] for r in delta.select("src").distinct().collect()}
    assert delta_srcs <= (new_ids | state_touched)
    assert new_ids <= delta_srcs  # every new node got edges


def test_graph_bridge_durable_state_and_sink_order(spark):
    """Durable tier: the parent-dir swap survives both crash windows,
    the sink sees the delta BEFORE the state advances, and a fresh
    bridge over the same dir resumes exactly."""
    base = tempfile.mkdtemp(prefix="graph_bridge_state_")
    state_dir = os.path.join(base, "state")
    try:
        e = _emb(spark)
        centroids = e.where(F.col("vec_id") < 10)
        bridge = GraphIngestBridge(
            spark, centroids, k=_GRAPH_K_EDGE, state_dir=state_dir
        )
        sunk: list[int] = []

        def sink(delta):
            # sink-before-swap ordering: at sink time the durable state
            # must still be the OLD one (here: absent — first batch)
            sunk.append(delta.count())
            assert not os.path.isdir(state_dir)

        b0 = e.where(F.col("vec_id") % 2 == 0)
        bridge.process_batch(b0, 0, sink=sink)
        assert sunk and sunk[0] > 0
        n_edges = bridge.read_edges().count()
        n_nodes = bridge.read_nodes().count()
        assert n_edges > 0 and n_nodes > 0

        # crash window 1: complete ._next waiting -> rolled forward
        os.replace(state_dir, state_dir + "._next")
        shutil.copytree(state_dir + "._next", state_dir + "._old")
        b2 = GraphIngestBridge(
            spark, centroids, k=_GRAPH_K_EDGE, state_dir=state_dir
        )
        assert b2.read_edges().count() == n_edges
        assert not os.path.isdir(state_dir + "._next")
        assert not os.path.isdir(state_dir + "._old")

        # crash window 2: incomplete ._next, intact ._old -> rolled back
        os.replace(state_dir, state_dir + "._old")
        os.makedirs(os.path.join(state_dir + "._next", "nodes"))
        b3 = GraphIngestBridge(
            spark, centroids, k=_GRAPH_K_EDGE, state_dir=state_dir
        )
        assert b3.read_nodes().count() == n_nodes
        assert not os.path.isdir(state_dir + "._next")

        # resume: folding the rest converges to the batch build
        b3.process_batch(e.where(F.col("vec_id") % 2 == 1), 1)
        assert _edge_set(b3.read_edges()) == _edge_set(_batch_build(spark, e))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_graph_bridge_rejects_remote_state_uri(spark):
    with pytest.raises(ValueError, match="local filesystem"):
        GraphIngestBridge(
            spark,
            _emb(spark).where(F.col("vec_id") < 10),
            state_dir="s3a://bucket/state",
        )


def test_graph_bridge_under_real_stream(spark):
    """§2.8 parity: the bridge driven by the REAL Structured Streaming
    runtime (file source, maxFilesPerTrigger=1, availableNow drain,
    foreachBatch fold) converges to the batch-build graph."""
    from fitness_nutrition_data_pipeline_spark.streaming.graph_bridge import (
        run_graph_bridge_stream,
    )

    base = tempfile.mkdtemp(prefix="graph_bridge_stream_")
    try:
        e = _emb(spark).localCheckpoint()
        in_dir = os.path.join(base, "in")
        os.makedirs(in_dir)
        base_mtime = int(time.time())
        for b in range(3):
            out_dir = os.path.join(in_dir, f"b{b}.parquet")
            (
                e.where(F.col("vec_id") % 3 == b)
                .select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("embedding"),
                )
                .coalesce(1)
                .write.parquet(out_dir)
            )
            # pin strictly increasing mtimes: FileStreamSource orders
            # micro-batches by data-file mtime, and back-to-back writes
            # can tie on coarse-mtime filesystems (ADVICE r16 #1)
            for root, _dirs, files in os.walk(out_dir):
                for f in files:
                    os.utime(os.path.join(root, f),
                             (base_mtime + b, base_mtime + b))
        final = run_graph_bridge_stream(
            spark,
            in_dir + "/*/",
            e.where(F.col("vec_id") < 10),
            state_dir=os.path.join(base, "state"),
            k=_GRAPH_K_EDGE,
        )
        assert _edge_set(final) == _edge_set(_batch_build(spark, e))
    finally:
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_graph_bridge_search_equivalence(spark, sf):
    """Ingest-then-search == index-then-search: the beam walk over the
    bridge-built graph reproduces graph_ann_recall_contract's readout
    under ITS verbatim oracle — the online index serves identically."""
    from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (
        _GRAPH_ANN_ORACLE,
        graph_bridge_search_contract,
    )

    sf_dir = f"/root/testdata/{sf}"
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    con = connect_oracle(sf_dir)
    o_cols, o_rows = fetch_oracle(con.sql(_GRAPH_ANN_ORACLE))
    s_cols, s_rows = fetch_spark(graph_bridge_search_contract(spark, sf_dir))
    assert len(s_rows) == len(o_rows) == 5
    s_norm = norm_rows(s_cols, s_rows)
    o_norm = norm_rows(o_cols, o_rows)
    assert s_norm[0] == o_norm[0], "schema (sorted column names) must match"
    assert s_norm[1] == o_norm[1], "value lanes diverged"
