"""Connected components over an edge list — the transitive-closure stage
of near-dedup: LSH gives pairwise collisions; the dedup *cluster* is the
component (A~B, B~C ⟹ {A,B,C} keep one survivor).

``connected_components`` is large-star/small-star [Kiveris et al.,
SoCC'14]: O(log n) alternations even on long duplicate chains, each
linear in |E|, with a single-task union-find finish when the edge state
fits one task. tests/test_components.py checks both paths against a
pure-Python union-find. ``bucket_clusters`` is the one duplicate-cluster
operator built on it: every clustering query resolves its id↔bucket
membership there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rows of pinned edge state one task handles (~32 MB of id pairs). Round
# state is cut into partitions of this many rows, and a state below it
# finishes in one task — the union-find here, the simulated peel in
# kcore.kcore_peel. Read at call time; 0 forces the distributed loops.
ONE_TASK_ROWS = 2_000_000


def state_partitions(df: DataFrame, n_rows: int) -> int:
    """Partition count for ``n_rows`` rows of round state: ONE_TASK_ROWS
    rows each, never more than ``df`` already has, never fewer than 1."""
    per_part = max(ONE_TASK_ROWS, 1)
    return max(1, min(df.rdd.getNumPartitions(), -(-n_rows // per_part)))


def bucket_clusters(membership: DataFrame, id_col: str, bucket_col: str) -> DataFrame:
    """Duplicate clusters from (``id_col``, ``bucket_col``) membership
    rows, e.g. LSH band buckets: two ids sharing a bucket are one
    cluster, transitively (A~B in one bucket, B~C in another ⇒ {A,B,C}).

    Star edges id↔bucket-minimum (linear in membership, no pairwise
    expansion) are resolved by ``connected_components``, so chains of
    any length collapse. Returns (``id_col``, cluster_id) for every id
    in ``membership``; cluster_id is the cluster's minimum id, and an id
    that shares no bucket with another labels itself.

    ``membership`` is pinned first: the bucket-min aggregate, the join's
    probe side and the id list read one materialization instead of each
    re-running the caller's corpus scan and hashing."""
    membership = membership.select(id_col, bucket_col).localCheckpoint()
    mins = membership.groupBy(bucket_col).agg(F.min(id_col).alias("_bucket_min"))
    edges = membership.join(mins, bucket_col).select(
        F.col(id_col).alias("src"), F.col("_bucket_min").alias("dst")
    )
    labels = connected_components(edges).withColumnRenamed("vertex", id_col)
    return (
        membership.select(id_col)
        .distinct()
        .join(labels, id_col, "left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("cluster_id"))
    )


def _union_find_labels(sym: DataFrame) -> DataFrame:
    """Single-task exact union-find over a (pinned, answer-sized) edge
    state: (vertex, component=min reachable id) for every vertex in
    ``sym``. The small-state finish of ``connected_components`` —
    executor-side via ``mapInPandas`` (never a driver collect), one
    linear pass, zero shuffles, zero rounds.

    Ordering note: roots are kept at the set minimum under Python ``<``,
    which matches Spark's ``least`` for numerics and for strings (UTF-8
    byte order preserves code-point order), so labels are bit-identical
    to the distributed alternation's.
    """
    from pyspark.sql import types as T

    vt = sym.schema["a"].dataType
    out_schema = T.StructType(
        [T.StructField("vertex", vt), T.StructField("component", vt)]
    )

    def labels(batches):
        import numpy as np
        import pandas as pd

        # factorized union-find: endpoints are mapped to integer codes
        # (pd.factorize) and the parent table is one int64 array — tens
        # of MB at the 2M-row bound where a Python dict of boxed values
        # costs hundreds; `uniq` keeps the ORIGINAL values (exact dtype,
        # no None mixed in, so no float64 inference corrupting ids
        # above 2^53) for both the min-root comparisons and the output.
        a_chunks, b_chunks = [], []
        for pdf in batches:
            a_chunks.append(pdf["a"].to_numpy())
            b_chunks.append(pdf["b"].to_numpy())
        if not a_chunks:
            yield pd.DataFrame({"vertex": [], "component": []})
            return
        a = np.concatenate(a_chunks)
        b = np.concatenate(b_chunks)
        codes, uniques = pd.factorize(np.concatenate([a, b]))
        uniq = np.asarray(uniques)
        ca, cb = codes[: a.size], codes[a.size :]
        parent = np.arange(uniq.size, dtype=np.int64)

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for i in range(a.size):
            ra, rb = find(ca[i]), find(cb[i])
            if ra != rb:
                # attach the larger-valued root under the smaller, so a
                # set's root IS its minimum original value throughout
                if uniq[rb] < uniq[ra]:
                    ra, rb = rb, ra
                parent[rb] = ra
        roots = np.array([find(i) for i in range(uniq.size)], dtype=np.int64)
        order = np.argsort(uniq, kind="stable")
        yield pd.DataFrame(
            {"vertex": uniq[order], "component": uniq[roots][order]}
        )

    return sym.coalesce(1).mapInPandas(labels, out_schema)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", *, max_rounds: int = 30
) -> DataFrame:
    """(vertex, component) for every vertex of a non-self-loop edge in
    ``edges``; component = the minimum vertex id reachable from it.
    Edges are undirected; self-loops and repeated edges are ignored, so
    an edge list of self-loops alone gives an empty result.

    The symmetric edge state is pinned and counted once, at entry. Below
    ``ONE_TASK_ROWS`` rows one executor task labels it by union-find
    (``_union_find_labels``); otherwise large-star/small-star pairs run
    until one leaves the edge set unchanged, at most ``max_rounds``
    pairs. The union-find exit is checked only at entry: a state that
    shrinks below the bound during the alternations stays on the
    distributed loop. Both paths give identical labels.

    Measured at sf0.1: the single-task finish cut dedup_clusters_exact
    from 8.06 s to 2.58 s median, because its 22k-row state had spent 5
    alternations × ~8 stages on scheduling latency alone.
    """
    # dedup the orientation-normalized half, then add the reverse: half
    # the rows through the distinct shuffle for the same symmetric set
    half = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    sym = half.union(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    vertices = sym.select(F.col("a").alias("vertex")).distinct()
    # edge mass only shrinks across alternations, so sizing once at
    # entry is conservative for every later round
    n_edges = sym.count()
    if n_edges < ONE_TASK_ROWS:
        return _union_find_labels(sym)
    n_state_parts = state_partitions(sym, n_edges)

    def star(adj: DataFrame, large: bool, dedup: bool) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}); every u also re-links itself to m(u),
        # so connectivity is preserved under both phases
        m = adj.groupBy("a").agg(
            F.least(F.first("a"), F.min("b")).alias("m")
        )
        nbr = adj.join(m, "a")
        cond = F.col("b") > F.col("a") if large else F.col("b") <= F.col("a")
        out = (
            nbr.where(cond)
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
        )
        if dedup:
            out = out.distinct()
        return out.union(
            out.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(F.col("u").alias("a"), F.col("v").alias("b"))

    for _ in range(max_rounds):
        # one materialization per ALTERNATION PAIR, and one distinct: the
        # large-star output feeds small-star un-deduplicated (groupBy-min
        # and the phase filters are multiplicity-insensitive); the
        # symmetrized union may still carry an edge twice, which the
        # convergence check tolerates (anti-joins, not exceptAll)
        nxt = (
            star(star(sym, large=True, dedup=False), large=False, dedup=True)
            .coalesce(n_state_parts)
            .localCheckpoint()
        )
        diff = (
            nxt.join(sym, ["a", "b"], "left_anti")
            .union(sym.join(nxt, ["a", "b"], "left_anti"))
            .limit(1)
            .count()
        )
        sym = nxt
        if diff == 0:
            break

    labels = (
        sym.groupBy("a")
        .agg(F.least(F.first("a"), F.min("b")).alias("component"))
        .select(F.col("a").alias("vertex"), "component")
    )
    # vertices that became isolated stars' centers keep their own label
    return (
        vertices.join(labels, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", F.col("vertex")).alias("component"),
        )
    )
