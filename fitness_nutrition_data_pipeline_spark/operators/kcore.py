"""k-core decomposition to FIXPOINT — the loop-until-converged form of
queries/graph_ops.kcore_peel_audit's bounded two-round unroll.

The k-core of a graph is the maximal subgraph in which every vertex has
degree >= k; it is computed by repeatedly deleting vertices of degree
< k (and the edges touching them) until no vertex drops. Each deletion
round is exactly the audit query's shape — ONE degree aggregate plus two
semi-joins of the edge list against surviving vertices — so the
distributed cost is O(rounds x |E|) with rounds bounded by the graph's
peeling depth (degeneracy ordering), not |V|.

An iterative Spark loop must truncate lineage each round or the plan
doubles per iteration: every round's edge list and degree table is
pinned with ``localCheckpoint``. Once the edge state fits one task
(``components.ONE_TASK_ROWS``), the remaining rounds run as a single-task
peel — on every test- and sf-sized graph that is the whole peel.

Convergence needs one scalar action per round (did any vertex drop?);
both counts come from a single vertex-grain aggregate, so the per-round
driver traffic is a few longs — never vertex or edge rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators import components


def _pin(df: DataFrame, n_parts: int | None = None) -> DataFrame:
    """Truncate lineage with ``localCheckpoint``. ``n_parts`` coalesces
    the state first — size-derived by the caller, it collapses the
    materialized layout on small rounds."""
    if n_parts:
        df = df.coalesce(n_parts)
    return df.localCheckpoint()


def _local_peel(cur: DataFrame, k: int) -> tuple[DataFrame, int]:
    """Single-task exact peel of a pinned edge state under
    ``components.ONE_TASK_ROWS`` rows — the finish of ``kcore_peel``:
    once the surviving edge mass fits one task, every remaining
    distributed round is pure stage-scheduling latency (degree pin +
    two-long action + two semi-joins + state pin, ~3 jobs per round).
    The simulation replays the IDENTICAL round semantics (drop ALL
    vertices with out-degree < k simultaneously; count only rounds that
    dropped something; stop at fixpoint or empty keep-set),
    executor-side via ``mapInPandas`` — never a driver collect. Returns (core_edges, extra_rounds). A marker row (null src)
    carries the round count out of the task; it is filtered off the
    returned relation and exists only inside the pinned state."""
    from pyspark.sql import types as T

    st = cur.schema["src"].dataType
    dt = cur.schema["dst"].dataType
    schema = T.StructType(
        [
            T.StructField("src", st, True),
            T.StructField("dst", dt, True),
            T.StructField("_r", T.LongType(), True),
        ]
    )

    def peel(batches):
        import numpy as np
        import pandas as pd

        # keep the state in numpy arrays (the input columns' own dtypes),
        # not Python object lists: at the 2M-row bound object tuples cost
        # ~0.5-1 GB of worker memory where arrays cost tens of MB, and —
        # critically — mixing a None marker into an int list would make
        # pandas infer float64 and silently round ids above 2^53 (the
        # repo's xxhash64-derived ids exceed that); the marker therefore
        # travels on its own all-null row yielded as a SEPARATE frame, so
        # the edge frame keeps the exact input dtype end to end.
        chunks_s, chunks_d = [], []
        for pdf in batches:
            chunks_s.append(pdf["src"].to_numpy())
            chunks_d.append(pdf["dst"].to_numpy())
        src = np.concatenate(chunks_s) if chunks_s else np.array([])
        dst = np.concatenate(chunks_d) if chunks_d else np.array([])
        r = 0
        while src.size:
            vals, counts = np.unique(src, return_counts=True)
            keep = vals[counts >= k]
            if keep.size == vals.size:
                break
            mask = np.isin(src, keep) & np.isin(dst, keep)
            src, dst = src[mask], dst[mask]
            r += 1
            if keep.size == 0:
                break
        yield pd.DataFrame(
            {
                "src": src,
                "dst": dst,
                "_r": np.full(src.size, r, dtype="int64"),
            }
        )
        yield pd.DataFrame({"src": [None], "dst": [None], "_r": [r]})

    out = _pin(cur.coalesce(1).mapInPandas(peel, schema), 1)
    extra = out.select("_r").first()["_r"]
    core = out.where(F.col("src").isNotNull()).select("src", "dst")
    return core, int(extra)


def kcore_peel(edges: DataFrame, k: int) -> tuple[DataFrame, int]:
    """Peel ``edges`` (columns ``src``, ``dst``) to its k-core fixpoint;
    return (core_edges, rounds).

    ``edges`` must be oriented-symmetric (both (u,v) and (v,u) present,
    as queries/graph_ops.copurchase_edges emits), so out-degree IS
    degree. ``rounds`` counts peel rounds that actually dropped a
    vertex; the returned edge list is the k-core (possibly empty — every
    graph with max degree < k peels to nothing).

    Per round: one map-side-partial degree aggregate, one two-long
    driver action, two left-semi joins. Nothing vertex- or edge-sized
    ever reaches the driver. Once the edge state is under
    ``components.ONE_TASK_ROWS`` rows (checked at entry and after every
    round), the remaining rounds run as one single-task peel.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = _pin(edges.select("src", "dst"))
    # Size every later round's pin from the materialized round-0 edge
    # count (one cheap action on pinned state): ONE_TASK_ROWS edge rows
    # per partition. Edge mass only shrinks while peeling, so sizing
    # once is conservative. Measured −17% on kcore_fixpoint_audit at
    # sf0.1 (state collapses to 1 partition). A lazy-pin variant
    # (localCheckpoint(eager=False), fewer jobs) was measured SLOWER
    # (2.7 s vs 2.2 s) and rejected.
    n_edges = cur.count()
    n_parts = components.state_partitions(cur, n_edges)
    rounds = 0
    while True:
        # small-state finish: once the surviving edge mass fits one
        # task, run the remaining peel as a single simulation instead of
        # ~3 jobs per round — at sf0.1 the whole peel takes this exit on
        # round 0. Entry check uses the pin-sizing count; later rounds
        # use the degree-sum the per-round stat action already computes.
        if n_edges < components.ONE_TASK_ROWS:
            core, extra = _local_peel(cur, k)
            return core, rounds + extra
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        deg = _pin(deg, n_parts)
        # one action, three longs: vertex count + survivors + edge mass
        stat = deg.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("_d") >= k, 1)).alias("n_keep"),
            F.coalesce(F.sum("_d"), F.lit(0)).alias("n_edges"),
        ).first()
        if stat["n_keep"] == stat["n"]:
            # no vertex drops — fixpoint (also the empty-graph case)
            break
        keep = deg.where(F.col("_d") >= k).select("src")
        cur = cur.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        rounds += 1
        cur = _pin(cur, n_parts)
        # the pre-drop degree sum upper-bounds the new state's edge mass,
        # so the next iteration's small-state check costs zero extra jobs
        n_edges = int(stat["n_edges"])
        if stat["n_keep"] == 0:
            break
    return cur.select("src", "dst"), rounds
