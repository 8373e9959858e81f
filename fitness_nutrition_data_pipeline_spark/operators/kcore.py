"""k-core decomposition to FIXPOINT — the loop-until-converged form of
queries/graph_ops.kcore_peel_audit's bounded two-round unroll.

The k-core of a graph is the maximal subgraph in which every vertex has
degree >= k; it is computed by repeatedly deleting vertices of degree
< k (and the edges touching them) until no vertex drops. Each deletion
round is exactly the audit query's shape — ONE degree aggregate plus two
semi-joins of the edge list against surviving vertices — so the
distributed cost is O(rounds x |E|) with rounds bounded by the graph's
peeling depth (degeneracy ordering), not |V|.

Round-state protocol (the reason this module exists separately from the
bounded audit): an iterative Spark loop must truncate lineage each round
or the plan doubles per iteration, and `localCheckpoint` — fine for the
audit's two bounded rounds — is executor-memory-resident and
lineage-unsafe under executor loss. At 100 TB the loop runs dozens of
rounds over hours; this operator pins each round's edge list to a
parquet round-state directory (the streaming/ivm.py precedent: durable
storage IS the lineage truncation), reads it back, and deletes the
n-2 round's state once round n is durable. Executor loss mid-round
recomputes at most one round from the previous round's parquet. When no
``state_dir`` is given it falls back to ``localCheckpoint`` — the
small-graph / test path, same math.

Convergence needs one scalar action per round (did any vertex drop?);
both counts come from a single vertex-grain aggregate, so the per-round
driver traffic is two longs — never vertex or edge rows.
"""

from __future__ import annotations

import logging
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators import components


def _join(state_dir: str, tag: str) -> str:
    # posixpath so scheme'd URIs (s3a://…, hdfs://…) join correctly on
    # any driver OS; Hadoop Path treats plain paths as file: locals.
    return posixpath.join(state_dir, tag)


def _pin(
    df: DataFrame, state_dir: str | None, tag: str, n_parts: int | None = None
) -> DataFrame:
    """Truncate lineage: parquet round-state when durable storage is
    given (survives executor loss; the 100 TB path), localCheckpoint
    otherwise (tests / bounded graphs). ``n_parts`` coalesces the state
    before pinning — size-derived by the caller (r17 optimization,
    guide §2.6/§6: collapses the materialized layout on small rounds,
    sizes the round-state parquet files on the durable path)."""
    if n_parts:
        df = df.coalesce(n_parts)
    if state_dir is None:
        return df.localCheckpoint()
    path = _join(state_dir, tag)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _drop_stale(
    spark: SparkSession, state_dir: str | None, tags: list[str]
) -> None:
    """Delete superseded round-state through the Hadoop FileSystem API —
    the SAME resolution the Spark writer used to create it, so scheme'd
    URIs (s3a://, hdfs://) are cleaned for real instead of a driver-local
    shutil no-op (ADVICE r10: rmtree on a remote state_dir silently
    leaks every round's parquet)."""
    if state_dir is None:
        return
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for t in tags:
        # Cleanup is advisory: the returned DataFrame's state must never
        # be cost by a transient delete failure (flaky S3, perms) —
        # log the leaked path and keep peeling (ADVICE r11).
        try:
            p = jvm.org.apache.hadoop.fs.Path(_join(state_dir, t))
            fs = p.getFileSystem(hconf)
            fs.delete(p, True)
        except Exception as e:  # noqa: BLE001
            logging.getLogger(__name__).warning(
                "k-core state cleanup failed for %s (leaking superseded "
                "round state; result unaffected): %s", _join(state_dir, t), e
            )


def _local_peel(
    cur: DataFrame,
    k: int,
    state_dir: str | None,
    tag: str,
    budget: int | None = None,
) -> tuple[DataFrame, int]:
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
        while (budget is None or r < budget) and src.size:
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

    out = _pin(cur.coalesce(1).mapInPandas(peel, schema), state_dir, tag, 1)
    extra = out.select("_r").first()["_r"]
    core = out.where(F.col("src").isNotNull()).select("src", "dst")
    return core, int(extra)


def kcore_peel(
    edges: DataFrame,
    k: int,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int | None = None,
    state_dir: str | None = None,
) -> tuple[DataFrame, int]:
    """Peel ``edges`` to its k-core fixpoint; return (core_edges, rounds).

    ``edges`` must be oriented-symmetric (both (u,v) and (v,u) present,
    as queries/graph_ops.copurchase_edges emits), so out-degree IS
    degree. ``rounds`` counts peel rounds that actually dropped a
    vertex; the returned edge list is the k-core (possibly empty — every
    graph with max degree < k peels to nothing). ``max_rounds`` bounds
    the loop for callers that want the audit query's bounded-unroll
    semantics; ``None`` iterates until convergence.

    Per round: one map-side-partial degree aggregate, one two-long
    driver action, two left-semi joins. Nothing vertex- or edge-sized
    ever reaches the driver. Once the edge state is under
    ``components.ONE_TASK_ROWS`` rows (checked at entry and after every
    round), the remaining rounds run as one single-task peel.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = edges.sparkSession
    cur = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    cur = _pin(cur, state_dir, "edges_r0")
    # Size every later round's pin from the materialized round-0 edge
    # count (one cheap action on pinned state): ONE_TASK_ROWS edge rows
    # per partition. Edge mass only shrinks while peeling, so sizing
    # once is conservative. Measured −17% on kcore_fixpoint_audit at
    # sf0.1 (state collapses to 1 partition); a 100 TB edge set still
    # gets thousands of partitions, and on the durable path this also
    # sizes the round-state parquet files (guide §6). A lazy-pin
    # variant (localCheckpoint(eager=False), fewer jobs) was measured
    # SLOWER (2.7 s vs 2.2 s) and rejected.
    n_edges = cur.count()
    n_parts = components.state_partitions(cur, n_edges)
    rounds = 0
    prev_tags: list[str] = []
    while max_rounds is None or rounds < max_rounds:
        # small-state finish: once the surviving edge mass fits one
        # task, run the remaining peel as a single simulation instead of
        # ~3 jobs per round — at sf0.1 the whole peel takes this exit on
        # round 0; at 100 TB the long small-tail rounds of a deep
        # degeneracy peel collapse into one task once they shrink under
        # the bound. Entry check uses the pin-sizing count; later rounds
        # use the degree-sum the per-round stat action already computes.
        if n_edges < components.ONE_TASK_ROWS:
            budget = None if max_rounds is None else max_rounds - rounds
            core, extra = _local_peel(
                cur, k, state_dir, f"edges_local_r{rounds}", budget
            )
            _drop_stale(
                spark, state_dir, [*prev_tags, f"edges_r{rounds}"]
            )
            return core, rounds + extra
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
        deg = _pin(deg, state_dir, f"deg_r{rounds}", n_parts)
        # one action, three longs: vertex count + survivors + edge mass
        stat = deg.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("_d") >= k, 1)).alias("n_keep"),
            F.coalesce(F.sum("_d"), F.lit(0)).alias("n_edges"),
        ).first()
        if stat["n_keep"] == stat["n"]:
            # no vertex drops — fixpoint (also the empty-graph case).
            # This round's degree table AND the n-1 round's state are
            # both superseded; only edges_r{rounds} (backing the
            # returned DataFrame) must survive (ADVICE r10: the break
            # path used to leak prev_tags).
            _drop_stale(spark, state_dir, [f"deg_r{rounds}", *prev_tags])
            prev_tags = []
            break
        keep = deg.where(F.col("_d") >= k).select("src")
        cur = cur.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )
        rounds += 1
        cur = _pin(cur, state_dir, f"edges_r{rounds}", n_parts)
        # the pre-drop degree sum upper-bounds the new state's edge mass,
        # so the next iteration's small-state check costs zero extra jobs
        n_edges = int(stat["n_edges"])
        # round n is durable -> everything before round n-1 is garbage
        _drop_stale(spark, state_dir, prev_tags)
        prev_tags = [f"edges_r{rounds - 1}", f"deg_r{rounds - 1}"]
        if stat["n_keep"] == 0:
            break
    # max_rounds exhaustion / empty-core break: the n-1 round is garbage
    _drop_stale(spark, state_dir, prev_tags)
    return cur.select("src", "dst"), rounds


def core_numbers(
    edges: DataFrame,
    k_max: int,
    *,
    src: str = "src",
    dst: str = "dst",
    state_dir: str | None = None,
) -> DataFrame:
    """(vertex, core) for every vertex: the largest k <= k_max whose
    k-core contains the vertex (0 if below the 1-core, i.e. isolated).

    Computed by nested peeling — the (k+1)-core is a subgraph of the
    k-core, so each level peels the PREVIOUS level's output, and total
    work is sum over levels of that level's (shrinking) edge mass, not
    k_max full passes over the input.
    """
    spark = edges.sparkSession
    sym = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    out = sym.select(F.col("src").alias("vertex")).distinct().withColumn(
        "core", F.lit(0)
    )
    cur = sym
    last_k = 0
    for k in range(1, k_max + 1):
        sub = _join(state_dir, f"k{k}") if state_dir else None
        cur, _ = kcore_peel(cur, k, state_dir=sub)
        # kcore_peel's first _pin re-materialized cur under k{k}, so the
        # previous level's directory is now garbage (ADVICE r10: the
        # per-level k{j} / core_r{j} state used to accumulate for the
        # whole run)
        if k > 1:
            _drop_stale(spark, state_dir, [f"k{k - 1}"])
        members = cur.select(F.col("src").alias("vertex")).distinct()
        out = (
            out.join(members.withColumn("_in", F.lit(k)), "vertex", "left")
            .select(
                "vertex",
                F.coalesce("_in", F.col("core")).alias("core"),
            )
        )
        out = _pin(out, state_dir, f"core_r{k}")
        if last_k:
            _drop_stale(spark, state_dir, [f"core_r{last_k}"])
        last_k = k
        if cur.isEmpty():
            break
    # only core_r{last_k} (backing the returned DataFrame) and the final
    # level's k{last_k}/edges_r* remain; both back live DataFrames and
    # are the caller's to clean once consumed
    return out
