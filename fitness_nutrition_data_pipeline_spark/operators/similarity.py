"""Reusable embedding-similarity operators (north-star ANN surface):
in-order double-precision cosine, brute-force top-k, centroid (IVF)
assignment and cluster-probed search. All JVM-side (zip_with folds),
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def cosine(a: Column, b: Column) -> Column:
    """In-order fold cosine of two array<double> columns (deterministic
    accumulation order — oracle-verifiable). try_divide: a zero vector
    yields NULL (DuckDB's x/0 behavior) instead of an ANSI-mode
    divide-by-zero error."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return F.try_divide(dot, na * nb)


def _as_double(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(id_col, F.col(vec_col).cast("array<double>").alias(vec_col))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, *, k: int = 3
) -> DataFrame:
    """Exact top-k neighbors: broadcast the query set against the
    partitioned corpus; only k rows per query survive the final shuffle."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).cast("array<double>").alias("q_vec")
    )
    # corpus keeps its non-vector columns (labels/metadata ride along)
    c = corpus.withColumn(vec_col, F.col(vec_col).cast("array<double>")).withColumnRenamed(
        id_col, "neighbor_id"
    )
    extra = [col for col in c.columns if col not in ("neighbor_id", vec_col)]
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("q_id")).select(
        "q_id",
        "neighbor_id",
        *extra,
        F.round(cosine(F.col("q_vec"), F.col(vec_col)), 6).alias("cosine_sim"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def assign_centroids(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid (IVF coarse quantization) assignment: (id,
    centroid_id). Centroids broadcast; one pass over the corpus."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).cast("array<double>").alias("c_vec")
    )
    v = _as_double(vectors, id_col, vec_col)
    scored = v.join(F.broadcast(c)).select(
        id_col,
        "centroid_id",
        F.round(cosine(F.col(vec_col), F.col("c_vec")), 6).alias("c_sim"),
    )
    w = W.partitionBy(id_col).orderBy(F.desc("c_sim"), "centroid_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(id_col, "centroid_id", "c_sim")
    )


def ivf_probe_topk(
    vectors: DataFrame,
    assignments: DataFrame,
    query_ids: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 3,
) -> DataFrame:
    """ANN via cluster probing (nprobe=1): each query scans only its own
    centroid's cluster — 1/k_centroids of the corpus per query.

    ``query_ids`` may carry ``vec_col``; when it does, the query vectors
    are taken from it directly instead of re-joining the full corpus —
    callers already hold the (pushdown-filtered) query rows, so the
    corpus-wide fetch join was a pure extra scan (r17, guide §2.4)."""
    v = _as_double(vectors, id_col, vec_col)
    q_src = (
        _as_double(query_ids, id_col, vec_col)
        if vec_col in query_ids.columns
        else v.join(query_ids.select(id_col), id_col)
    )
    q = (
        q_src.join(assignments.select(id_col, "centroid_id"), id_col)
        .select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            F.col("centroid_id").alias("q_centroid"),
        )
    )
    cand = assignments.select(
        F.col(id_col).alias("neighbor_id"), F.col("centroid_id").alias("n_centroid")
    )
    scored = (
        cand.join(
            F.broadcast(q),
            (F.col("n_centroid") == F.col("q_centroid"))
            & (F.col("neighbor_id") != F.col("q_id")),
        )
        .join(
            v.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec")),
            "neighbor_id",
        )
        .select(
            "q_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias("cosine_sim"),
        )
    )
    w = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k).drop("rn")
    )


def random_hyperplane_lsh(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_planes: int = 8,
    dim: int = 64,
    seed: str = "h",
) -> DataFrame:
    """Cosine-LSH bucket assignment via random hyperplanes (SimHash for
    vectors): bucket_id packs the sign bits of ⟨v, h_j⟩ for n_planes
    md5-derived pseudo-random hyperplanes. Vectors whose cosine is high
    land in the same bucket with probability (1 − θ/π)^n_planes — the
    candidate generator that replaces all-pairs search at corpus scale.
    ``seed`` prefixes the plane hash, giving an independent LSH table per
    seed — multiple tables union their buckets to boost recall (standard
    LSH amplification).

    The plane components are deterministic md5 folds (portable hex→int,
    no RNG state), so any engine reproduces the identical buckets. Plan
    shape: the (n_planes × dim) plane table is generated and broadcast;
    the corpus posexplodes its vector once, partial-aggregates the per-
    plane dot products map-side, and only n_planes partials per vector
    cross the shuffle.
    """
    k = F.col("id")
    comp = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed),
                        (k / dim).cast("int").cast("string"),
                        F.lit("|"),
                        (k % dim).cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(16777215.0)
    ) * 2 - 1
    planes = vectors.sparkSession.range(n_planes * dim).select(
        (k / dim).cast("int").alias("j"),
        (k % dim).cast("int").alias("i"),
        comp.alias("comp"),
        F.pow(F.lit(2.0), (k / dim).cast("int")).cast("long").alias("weight"),
    )
    v = vectors.select(
        id_col, F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "v")
    )
    dots = (
        v.join(F.broadcast(planes), "i")
        .groupBy(id_col, "j", "weight")
        .agg(F.sum(F.col("v") * F.col("comp")).alias("dot"))
    )
    # sign decided on the ROUNDED dot: the raw sum's last ulps depend on
    # partial-aggregation order, and a near-zero dot flipping sign flips
    # the whole bucket — rounding keeps buckets reproducible across runs
    # and engines (the module's portability contract)
    return dots.groupBy(id_col).agg(
        F.sum(
            F.when(F.round(F.col("dot"), 6) >= 0, F.col("weight")).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("bucket_id")
    )


def kmeans_lloyd_step(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """One Lloyd iteration of k-means: assign every vector to its nearest
    centroid (cosine, centroids broadcast — ``assign_centroids``), then
    recompute each centroid as the per-dimension mean of its members.

    Returns (centroid_id, i, new_comp, n_assigned), dimension-exploded:
    the recompute is a groupBy on (centroid_id, i) with map-side partial
    sums, so one iteration is two broadcast joins + two shuffles
    regardless of corpus size — the shape that trains an IVF coarse
    quantizer over 100 TB of embeddings. Iterate by re-collecting the k×d
    result (tiny) into the next round's centroid table; per-round plan is
    identical, so lineage stays flat.
    """
    # assign feeds TWO consumers (member_dims join + sizes agg); unpinned,
    # each re-runs the full corpus-scan + broadcast-score + window lineage
    # (audited 6 embeddings scans for one Lloyd step). The relation is
    # narrow (id, centroid_id, c_sim) metadata — the bands-pin precedent:
    # localCheckpoint spills to disk rather than OOMs at scale (r17,
    # guide §5 caching-when-reused).
    assign = assign_centroids(vectors, centroids, id_col, vec_col).localCheckpoint()
    v = _as_double(vectors, id_col, vec_col)
    member_dims = v.join(assign.select(id_col, "centroid_id"), id_col).select(
        "centroid_id", F.posexplode(vec_col).alias("i", "x")
    )
    sizes = assign.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n_assigned"))
    means = member_dims.groupBy("centroid_id", "i").agg(F.avg("x").alias("new_comp"))
    return means.join(F.broadcast(sizes), "centroid_id")


def ivf_beam_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 3,
    nprobe: int = 3,
) -> DataFrame:
    """Multi-probe (beam) IVF search — the recall/cost knob between
    ``ivf_probe_topk`` (nprobe=1) and ``brute_force_topk`` (nprobe=all),
    the same move an HNSW beam makes over its layer graph: rank EVERY
    centroid per query by cosine (centroids broadcast — they are the
    index's tiny coarse layer), probe the top-``nprobe`` partitions, and
    exact-rank only the union of their members. Each corpus vector
    belongs to exactly one partition, so the probe union is
    duplicate-free by construction. Output carries ``n_candidates``
    (scanned per query) beside each neighbor so the cost of the beam is
    measured, not assumed. At 100 TB: candidate scoring shuffles on the
    bucketed centroid id and touches nprobe/k_centroids of the corpus;
    the final top-k is one per-query window over the candidates."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    # queries carrying vec_col skip the corpus-wide vector fetch join —
    # the caller's (pushdown-filtered) query rows ARE the vectors (r17)
    q_src = (
        queries if vec_col in queries.columns
        else corpus.join(queries.select(id_col), id_col)
    )
    qv = q_src.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    wp = W.partitionBy("q_id").orderBy(F.desc("c_sim"), "centroid_id")
    probes = (
        qv.crossJoin(F.broadcast(c))
        .select(
            "q_id",
            "q_vec",
            "centroid_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "centroid_id")
    )
    nv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    cand = (
        probes.join(
            assignments.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("centroid_id").alias("n_centroid"),
            ),
            F.col("n_centroid") == F.col("centroid_id"),
        )
        .where(F.col("neighbor_id") != F.col("q_id"))
        .join(nv, "neighbor_id")
        .select(
            "q_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    wk = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    return (
        cand.select(
            "q_id",
            "neighbor_id",
            "cosine_sim",
            F.count(F.lit(1)).over(W.partitionBy("q_id")).alias("n_candidates"),
            F.row_number().over(wk).alias("rn"),
        )
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def knn_graph_edges(
    corpus: DataFrame,
    assignments: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 8,
) -> DataFrame:
    """Partition-local kNN graph — the NSW/HNSW base-layer build step,
    IVF-blocked so the pair stage is per-partition quadratic, never
    global: each vector links to its k nearest neighbors among vectors
    sharing its coarse (IVF) partition. Returns directed (src, dst,
    edge_sim) rows, k per src. At 100 TB the self-join shuffles on the
    centroid id (bucketed layout co-locates it) and the per-partition
    pair mass is bounded by the centroid count chosen at index build —
    the standard sqrt(n)-centroids rule keeps it linear-ish overall."""
    v = _as_double(corpus, id_col, vec_col)
    tagged = v.join(assignments.select(id_col, "centroid_id"), id_col)
    a = tagged.select(
        F.col(id_col).alias("src"),
        F.col("centroid_id").alias("_part"),
        F.col(vec_col).alias("_src_vec"),
    )
    b = tagged.select(
        F.col(id_col).alias("dst"),
        F.col("centroid_id").alias("_part"),
        F.col(vec_col).alias("_dst_vec"),
    )
    scored = (
        a.join(b, "_part")
        .where(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            F.round(cosine(F.col("_src_vec"), F.col("_dst_vec")), 6).alias(
                "edge_sim"
            ),
        )
    )
    w = W.partitionBy("src").orderBy(F.desc("edge_sim"), "dst")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def graph_beam_search(
    corpus: DataFrame,
    centroids: DataFrame,
    edges: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 3,
    n_entry: int = 2,
    hops: int = 3,
) -> DataFrame:
    """Greedy-frontier ANN over a kNN graph (the navigable-small-world
    search HNSW runs per layer, unrolled to a fixed hop budget so the
    plan is a bounded join chain, not a driver loop): per query, enter
    at the ``n_entry`` nearest coarse centroids (which are corpus nodes
    themselves), expand the frontier ``hops`` times along graph edges
    (frontier = frontier ∪ out-neighbors, set semantics), then
    exact-rank the final candidate set. Output: (q_id, neighbor_id,
    cosine_sim, n_candidates) — top-k rows per query with the measured
    scan cost beside them.

    The scale contract vs partition probing (ivf_probe_topk /
    ivf_beam_topk): a probe scans EVERY member of the probed partition,
    so its cost grows with partition size; the graph walk touches at
    most n_entry * sum(degree**h for h in 0..hops) nodes NO MATTER how
    big partitions get (the bound tests/test_graph_ann_staged.py
    enforces) — the knob that keeps per-query latency flat as the
    corpus grows, at the price of graph-build cost and bounded recall.

    Caller contract (ADVICE r16 #2): pass ``edges`` MATERIALIZED. The
    per-hop frontier pin is eager, so a lazily-derived edges relation
    (e.g. knn_graph_edges straight off the corpus) re-executes its
    self-join + window once per hop — ~hops+1 graph builds in one call.
    A kNN graph is an offline-built index: at production scale write it
    to parquet once and pass the scan; at contract/test scale a
    localCheckpoint pin of the (corpus × k)-row edge list is the same
    materialize-once semantics."""
    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    # same query-vector pass-through as ivf_probe_topk/ivf_beam_topk (r17)
    q_src = (
        queries if vec_col in queries.columns
        else corpus.join(queries.select(id_col), id_col)
    )
    qv = q_src.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
    )
    wp = W.partitionBy("q_id").orderBy(F.desc("c_sim"), "centroid_id")
    frontier = (
        qv.crossJoin(F.broadcast(c))
        .select(
            "q_id",
            "centroid_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("c_sim"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= n_entry)
        .select("q_id", F.col("centroid_id").alias("node"))
    )
    out_nbrs = edges.select(F.col("src").alias("node"), "dst")
    for _ in range(hops):
        # pin per hop: the union references `frontier` twice (identity
        # branch + expansion branch), so unpinned the subplan doubles
        # per hop — 2^hops copies of the entry window and the kNN-graph
        # self-join in one action (the repo's union recompute class).
        # The frontier is answer-sized (≤ queries × the walk bound), so
        # the localCheckpoint pin is admissible.
        frontier = frontier.localCheckpoint()
        frontier = (
            frontier.unionByName(
                frontier.join(out_nbrs, "node").select(
                    "q_id", F.col("dst").alias("node")
                )
            )
            .distinct()
        )
    nv = corpus.select(
        F.col(id_col).alias("node"),
        F.col(vec_col).cast("array<double>").alias("n_vec"),
    )
    scored = (
        frontier.where(F.col("node") != F.col("q_id"))
        .join(nv, "node")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            F.col("node").alias("neighbor_id"),
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias(
                "cosine_sim"
            ),
        )
    )
    wr = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    wc = W.partitionBy("q_id")
    return (
        scored.withColumn("n_candidates", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def sq_dist(a: Column, b: Column) -> Column:
    """In-order fold squared-L2 of two array<double> columns — the
    deterministic-accumulation twin of :func:`cosine` (same
    oracle-verifiable shape: one IEEE op per element, folded in index
    order, so the double is bit-identical cross-engine)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_subvectors(
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    sub_dim: int = 8,
) -> DataFrame:
    """Product-quantization subspace split: (id, j, sub) — each vector
    as its ``m`` contiguous ``sub_dim``-dim slices (one posexplode pass,
    no shuffle). The PQ decomposition step shared by codebook building,
    encoding, and the ADC query tables."""
    v = _as_double(vectors, id_col, vec_col)
    slices = F.array(
        *[F.slice(F.col(vec_col), j * sub_dim + 1, sub_dim) for j in range(m)]
    )
    return v.select(F.col(id_col), F.posexplode(slices).alias("j", "sub"))


def pq_encode(
    sub_vectors: DataFrame, code_sub: DataFrame, id_col: str
) -> DataFrame:
    """PQ encoding: per (vector, subspace) the nearest codebook entry —
    (id, j, code_id), the 100 TB-scale compressed index (m small code
    ids per vector instead of the full float payload; with m=8 and 16
    codes that is 4 bits/subspace = 4 bytes vs 512).

    ``code_sub`` is the codebook in subvector form (code_id, j, cs) —
    m × n_codes rows, broadcast; encoding is therefore one map-side
    pass over the corpus subvectors. Distances are squared-L2 in
    INTEGER MICRO-UNITS (round(d2 × 1e6) as BIGINT): the per-subspace
    fold is the bit-identical in-order shape, and everything summed or
    ranked after it is integer math — order-free across engines (the
    serving_ops ppm discipline applied to the ANN ladder)."""
    d2u = F.round(sq_dist(F.col("sub"), F.col("cs")) * 1e6, 0).cast("long")
    scored = sub_vectors.join(F.broadcast(code_sub), "j").select(
        id_col, "j", "code_id", d2u.alias("d2_micro")
    )
    w = W.partitionBy(id_col, "j").orderBy("d2_micro", "code_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(id_col, "j", "code_id")
    )
