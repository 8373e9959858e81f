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
