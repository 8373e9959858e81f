"""Large-scale training-data operators (BASELINE.json north star): exact
and near dedup (MinHash+LSH, SimHash, n-gram Jaccard), embedding
similarity search (brute-force top-k, centroid/IVF assignment, cluster-
probed ANN, near-dup pairs).

Each registered query binds reusable operators from
``operators/dedup.py`` / ``operators/similarity.py`` to the testdata
tables and pairs them with a DuckDB oracle.

Portability contract: every hash is md5 (identical hex in Spark and
DuckDB), every float reduction is an in-order fold over doubles, and every
ranking is on rounded values with explicit id tie-breaks — so each op stays
hash-verifiable against the oracle while the Spark plan remains the one
you would run at 100 TB (explode → partial-agg → shuffle-on-key; no
driver-side loops, no UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.components import bucket_clusters
from fitness_nutrition_data_pipeline_spark.operators.dedup import (
    exact_dedup_summary,
    jaccard_on_adjacent_pairs,
    lsh_bands,
    lsh_buckets,
    lsh_dup_flags,
    minhash_signatures,
    near_dup_pipeline,
    simhash16,
)
from fitness_nutrition_data_pipeline_spark.operators.similarity import (
    assign_centroids,
    brute_force_topk,
    cosine,
    ivf_probe_topk,
    kmeans_lloyd_step,
    random_hyperplane_lsh,
)
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

N_MINHASH = 8  # permutations
N_BANDS = 4  # LSH bands (rows_per_band = 2)


# ---------------------------------------------------------------------------
# Oracle SQL builders (shared CTE fragments)
# ---------------------------------------------------------------------------

_SHINGLE_CTE = r"""
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, len(string_split_regex(lower(text), '\s+'))),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1]))) AS shingle
      FROM documents
"""


def _sig_exprs_sql() -> list[str]:
    """8 minhash signatures from 2 md5 evaluations: each md5 is 128 bits,
    sliced into four 32-bit (8-hex-char) windows; lexicographic min over
    hex ≡ numeric min. Quarters the hash cost vs one md5 per permutation
    with the same plan shape."""
    exprs = []
    for k in range(N_MINHASH):
        seed, window = divmod(k, 4)
        exprs.append(f"min(substr(md5('s{seed}|' || shingle), {window * 8 + 1}, 8)) AS sig{k}")
    return exprs


def _bands_cte() -> str:
    """WITH list ending in ``bands(doc_id, band_id, band_key)``. ``bands``
    is MATERIALIZED: DuckDB 1.0 otherwise inlines the CTE at every
    reference, re-running the shingle explode and MinHash per reference
    and per recursion round (dedup_clusters_exact's oracle: 81.4 s
    inlined, 1.3 s materialized at sf0.01, identical rows)."""
    sig_cols = ",\n             ".join(_sig_exprs_sql())
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5(sig{2 * b} || sig{2 * b + 1}) AS band_key FROM sigs"
        for b in range(N_BANDS)
    )
    return rf"""
    WITH sh AS (
      {_SHINGLE_CTE}
    ),
    sigs AS (
      SELECT doc_id,
             {sig_cols}
      FROM sh GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
      {band_selects}
    )"""


# DuckDB twin of operators/similarity.cosine — in-order fold over the
# 64-dim embeddings (same accumulation order as the zip_with fold)
_COS_SQL = (
    "list_sum(list_transform(range(1, 65), "
    "i -> {a}[i] * {b}[i])) / "
    "(sqrt(list_sum(list_transform({a}, x -> x * x))) * "
    "sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_summary",
    """
    SELECT count(*) AS total_docs,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
           count(*) - CAST(count(DISTINCT md5(text)) AS BIGINT) AS duplicate_docs
    FROM documents
    """,
    doc="Exact dedup via content-hash groupBy — map-side partial agg, one "
    "shuffle on the hash; at 100 TB this is the standard first dedup pass.",
)
def dedup_exact_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_summary(load_table(spark, sf_dir, "documents"), "text")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (candidate pairs = adjacent doc_ids)
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split_regex(lower(text), '\s+'))),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1])) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))), 4)
               AS jaccard,
           CASE WHEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5
                THEN 1 ELSE 0 END AS is_near_dup
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_id_a
    """,
    sort=("doc_id_a",),
    doc="n-gram (2-shingle) Jaccard similarity on candidate pairs — the "
    "verify stage of near-dedup, explode-join-aggregate so work is "
    "proportional to matching shingles. Candidates here are adjacent "
    "doc_ids; at scale candidates come from LSH buckets "
    "(minhash_lsh_buckets) so the compare never goes globally quadratic.",
)
def ngram_jaccard_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_on_adjacent_pairs(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    return pairs.select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        F.round("jaccard", 4).alias("jaccard"),
        F.when(F.col("jaccard") >= 0.5, 1).otherwise(0).alias("is_near_dup"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


@register(
    "minhash_lsh_buckets",
    _bands_cte()
    + """
    SELECT band_id, band_key, count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
    FROM bands
    GROUP BY band_id, band_key
    HAVING count(*) >= 2
    ORDER BY band_id, band_key
    """,
    sort=("band_id", "band_key"),
    doc="MinHash (8 perms over md5 windows) + LSH banding (4 bands × 2 "
    "rows): shingle-explode → per-doc min-agg → band-key groupBy. Buckets "
    "with ≥2 docs are the near-dup candidate sets; the shuffle is on "
    "band_key so the pairwise verify never goes quadratic globally — the "
    "canonical 100 TB near-dedup plan.",
)
def minhash_lsh_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_hashes=N_MINHASH
    )
    return lsh_buckets(lsh_bands(sigs, "doc_id", n_bands=N_BANDS), "doc_id")


@register(
    "minhash_dedup_flags",
    _bands_cte()
    + """
    , mins AS (
      SELECT band_id, band_key, min(doc_id) AS bucket_min
      FROM bands GROUP BY band_id, band_key
    )
    SELECT b.doc_id,
           CAST(max(CASE WHEN b.doc_id > m.bucket_min THEN 1 ELSE 0 END) AS INT)
               AS is_dup_candidate
    FROM bands b JOIN mins m USING (band_id, band_key)
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    sort=("doc_id",),
    doc="LSH dedup decision without pairwise expansion: per-bucket min "
    "doc_id is the canonical survivor; any doc above a bucket minimum is a "
    "near-dup candidate. Linear in corpus size (agg + broadcast-join), "
    "never quadratic — the decision stage of the 100 TB near-dedup plan.",
)
def minhash_dedup_flags_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_hashes=N_MINHASH
    )
    return lsh_dup_flags(lsh_bands(sigs, "doc_id", n_bands=N_BANDS), "doc_id")


# ---------------------------------------------------------------------------
# SimHash (16-bit, md5-nibble-parity — portable across engines)
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    odd = "('1','3','5','7','9','b','d','f')"
    bit_sums = ",\n             ".join(
        f"CASE WHEN sum(CASE WHEN substr(md5(tok), {i + 1}, 1) IN {odd} "
        f"THEN 1 ELSE -1 END) > 0 THEN {1 << i} ELSE 0 END AS bit{i}"
        for i in range(16)
    )
    bits_total = " + ".join(f"bit{i}" for i in range(16))
    return rf"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({bits_total} AS BIGINT) AS simhash16
    FROM bits
    ORDER BY doc_id
    """


@register(
    "simhash_signatures",
    _simhash_oracle(),
    sort=("doc_id",),
    doc="SimHash (16-bit): per-token md5 nibble parity votes, sign-summed "
    "per bit, assembled into an integer signature — token-explode + one "
    "16-expression groupBy, all codegen'd. Hamming-close signatures = "
    "near-dups; production variant uses 64-bit xxhash64 (same plan shape).",
)
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash16(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------


@register(
    "embedding_knn_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
             round({_COS_SQL.format(a="q.q_emb", b="e.emb")}, 6) AS cosine_sim
      FROM q JOIN e ON e.vec_id >= 5
    )
    SELECT q_id, neighbor_id, neighbor_label, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored
    ) t WHERE rn <= 3
    ORDER BY q_id, neighbor_id
    """,
    sort=("q_id", "neighbor_id"),
    doc="Brute-force cosine top-k ANN baseline: broadcast the query set, "
    "score every candidate JVM-side (zip_with fold, no UDF), per-query "
    "row_number top-k. At 100 TB the candidate side stays partitioned and "
    "only k rows per query cross the final shuffle.",
)
def embedding_knn_bruteforce_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.where(F.col("vec_id") >= 5).withColumnRenamed("label", "neighbor_label")
    queries = e.where(F.col("vec_id") < 5)
    return brute_force_topk(corpus, queries, "vec_id", "embedding", k=3).select(
        "q_id", "neighbor_id", "neighbor_label", "cosine_sim"
    )


@register(
    "embedding_centroid_assign",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e WHERE vec_id < 10),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             round({_COS_SQL.format(a="e.emb", b="c.c_emb")}, 6) AS cosine_sim
      FROM e JOIN c ON true
    ),
    best AS (
      SELECT vec_id, centroid_id, cosine_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine_sim DESC, centroid_id) AS rn
      FROM scored
    )
    SELECT centroid_id, count(*) AS n_assigned,
           round(avg(cosine_sim), 6) AS avg_sim
    FROM best WHERE rn = 1
    GROUP BY centroid_id
    ORDER BY centroid_id
    """,
    sort=("centroid_id",),
    doc="IVF-style coarse quantization: assign every vector to its nearest "
    "of k centroids (broadcast) — the scale path for ANN: probe only the "
    "matching centroid's partition instead of the full corpus.",
)
def embedding_centroid_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 10)
    assign = assign_centroids(e, centroids, "vec_id", "embedding")
    return assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.round(F.avg("c_sim"), 6).alias("avg_sim"),
    )


@register(
    "embedding_near_dup_pairs",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, label FROM embeddings),
    pairs AS (
      SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
             round({_COS_SQL.format(a="a.emb", b="b.emb")}, 6) AS sim
      FROM e a JOIN e b ON a.label = b.label AND b.vec_id > a.vec_id
    )
    SELECT label, count(*) AS n_pairs,
           CAST(sum(CASE WHEN sim >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           round(max(sim), 6) AS max_sim
    FROM pairs GROUP BY label
    ORDER BY label
    """,
    sort=("label",),
    doc="Embedding-cosine near-dup detection, blocked by label so the "
    "pairwise compare stays within blocks (the embedding analogue of LSH "
    "bucketing): at scale blocks come from coarse quantization and the "
    "cross-block pair space is never materialized.",
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "label"
    )
    a = e.alias("a")
    b = e.alias("b")
    sim = F.round(cosine(F.col("a.emb"), F.col("b.emb")), 6)
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("b.vec_id") > F.col("a.vec_id"))
    ).select(F.col("a.label").alias("label"), sim.alias("sim"))
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("sim") >= 0.9, 1).otherwise(0)).alias("n_near_dup"),
        F.round(F.max("sim"), 6).alias("max_sim"),
    )


@register(
    "embedding_ann_ivf_probe",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e WHERE vec_id < 10),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 round({_COS_SQL.format(a="e.emb", b="c.c_emb")}, 6) DESC,
                 c.centroid_id) AS rn
        FROM e JOIN c ON true
      ) WHERE rn = 1
    ),
    q AS (SELECT e.vec_id AS q_id, e.emb AS q_emb, assign.centroid_id
          FROM e JOIN assign ON e.vec_id = assign.vec_id
          WHERE e.vec_id >= 495),
    scored AS (
      SELECT q.q_id, e.vec_id AS neighbor_id,
             round({_COS_SQL.format(a="q.q_emb", b="e.emb")}, 6) AS cosine_sim
      FROM q
      JOIN assign cand ON cand.centroid_id = q.centroid_id AND cand.vec_id <> q.q_id
      JOIN e ON e.vec_id = cand.vec_id
    )
    SELECT q_id, neighbor_id, cosine_sim
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rn
      FROM scored
    ) WHERE rn <= 3
    ORDER BY q_id, neighbor_id
    """,
    sort=("q_id", "neighbor_id"),
    doc="IVF-probed ANN: assign all vectors to their nearest of k "
    "centroids, then answer each query by scanning ONLY its centroid's "
    "cluster — the scale path where brute force scans 1/k of the corpus "
    "per query (nprobe=1). Same result contract as the brute-force "
    "baseline, recall traded for the pruned scan.",
)
def embedding_ann_ivf_probe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 10)
    # pin: assignments feed the probe's q-build AND candidate side —
    # unpinned, each re-ran the corpus scan + broadcast-score + window
    # (audited 7 embeddings scans; now 4: centroids/queries are pushdown-
    # filtered scans, assignment + neighbor fetch are the two full passes
    # the algorithm needs). Narrow metadata pin, the bands precedent.
    # Queries pass their vectors through, so the probe skips the
    # corpus-wide query-vector fetch join.
    assignments = assign_centroids(
        e, centroids, "vec_id", "embedding"
    ).localCheckpoint()
    queries = e.where(F.col("vec_id") >= 495)
    return ivf_probe_topk(e, assignments, queries, "vec_id", "embedding", k=3)


@register(
    "simhash_hamming_pairs",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      FROM documents
    ),
    bits AS (
      SELECT doc_id,
             """
    + ",\n             ".join(
        f"CASE WHEN sum(CASE WHEN substr(md5(tok), {i + 1}, 1) IN "
        f"('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END AS bit{i}"
        for i in range(16)
    )
    + """
      FROM toks GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, CAST("""
    + " + ".join(f"bit{i}" for i in range(16))
    + """ AS BIGINT) AS simhash16 FROM bits
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT) AS hamming,
           CASE WHEN bit_count(xor(a.simhash16, b.simhash16)) <= 3
                THEN 1 ELSE 0 END AS is_near_dup
    FROM sigs a JOIN sigs b ON b.doc_id = a.doc_id + 1
    ORDER BY doc_id_a
    """,
    sort=("doc_id_a",),
    doc="SimHash near-dup verify: Hamming distance (bit_count of XOR) "
    "between candidate-pair signatures — the O(1)-per-pair compare that "
    "makes SimHash the cheapest near-dup verifier; candidates here are "
    "adjacent ids, at scale they come from signature-prefix buckets.",
)
def simhash_hamming_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = simhash16(load_table(spark, sf_dir, "documents"), "doc_id", "text")
    a = sigs.alias("a")
    b = sigs.alias("b")
    hamming = F.bit_count(F.col("a.simhash16").bitwiseXOR(F.col("b.simhash16")))
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.cast("int").alias("hamming"),
            F.when(hamming <= 3, 1).otherwise(0).alias("is_near_dup"),
        )
    )


@register(
    "embedding_lsh_buckets",
    """
    WITH planes AS (
      SELECT CAST(k // 64 AS INT) AS j, CAST(k % 64 AS INT) + 1 AS i,
             (CAST('0x' || substr(md5('h' || CAST(k // 64 AS INT)
                                       || '|' || CAST(k % 64 AS INT)), 1, 6)
                   AS BIGINT) / 16777215.0) * 2 - 1 AS comp,
             CAST(power(2, k // 64) AS BIGINT) AS weight
      FROM range(0, 512) t(k)
    ),
    vecs AS (
      SELECT vec_id, generate_subscripts(emb, 1) AS i, unnest(emb) AS v
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    ),
    dots AS (
      SELECT vec_id, j, weight, sum(v * comp) AS dot
      FROM vecs JOIN planes USING (i)
      GROUP BY vec_id, j, weight
    ),
    buckets AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN round(dot, 6) >= 0 THEN weight ELSE 0 END) AS BIGINT)
                 AS bucket_id
      FROM dots GROUP BY vec_id
    )
    SELECT bucket_id, count(*) AS n_vecs,
           CAST(min(vec_id) AS BIGINT) AS canonical_vec_id
    FROM buckets GROUP BY bucket_id HAVING count(*) >= 2
    ORDER BY bucket_id
    """,
    sort=("bucket_id",),
    doc="Cosine-LSH candidate buckets via md5-derived random hyperplanes "
    "(operators/similarity.py::random_hyperplane_lsh): sign-bit bucket "
    "per vector, buckets with >= 2 members are the near-neighbor "
    "candidates. Planes broadcast; one posexplode + map-side partial "
    "dots; never all-pairs. Completes the ANN ladder: brute-force "
    "(exact) -> IVF probe (coarse quantization) -> hyperplane LSH "
    "(sublinear candidate generation).",
)
def embedding_lsh_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = random_hyperplane_lsh(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding", n_planes=8, dim=64
    )
    return (
        buckets.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("canonical_vec_id"),
        )
        .where(F.col("n_vecs") >= 2)
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (exact connected components of id↔bucket membership)
# ---------------------------------------------------------------------------

def _exact_labels_sql(ctes: str, id_col: str) -> str:
    """Exact cluster labels in DuckDB: ``ctes`` is a WITH list whose last
    CTE is ``mem({id_col}, bucket)``; the result appends
    ``labels({id_col}, label)``, label = the minimum id reachable through
    shared buckets, for every id of ``mem``.

    Min-label propagation to a fixpoint, independent of the Spark
    algorithms: ``lp`` carries one row per id per round, each round
    lowers every label to the minimum over its buckets, and the loop
    stops after the first round in which no label fell."""
    head, body = ctes.split("WITH ", 1)
    return f"""{head}WITH RECURSIVE {body},
    lp(it, {id_col}, label, changed) AS (
      SELECT DISTINCT 0, {id_col}, {id_col}, true FROM mem
      UNION ALL
      SELECT l.it + 1, l.{id_col}, min(b.label), min(b.label) < l.label
      FROM lp l
      JOIN mem m USING ({id_col})
      JOIN (
        SELECT bucket, min(label) AS label
        FROM mem JOIN lp USING ({id_col}) GROUP BY bucket
      ) b USING (bucket)
      WHERE (SELECT bool_or(changed) FROM lp)
      GROUP BY l.it, l.{id_col}, l.label
    ),
    labels AS (SELECT {id_col}, min(label) AS label FROM lp GROUP BY {id_col})"""


# the head of every LSH cluster oracle: exact labels of the doc↔bucket
# membership, one bucket per (band, key)
_LSH_LABELS_SQL = _exact_labels_sql(
    _bands_cte()
    + """
    , mem AS MATERIALIZED (
      SELECT doc_id, CAST(band_id AS VARCHAR) || band_key AS bucket FROM bands
    )""",
    "doc_id",
)


def _lsh_clusters(sigs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every doc of ``sigs`` (MinHash signature
    rows): the exact duplicate clusters of its LSH band buckets."""
    bands = lsh_bands(sigs, "doc_id", n_bands=N_BANDS)
    membership = bands.select(
        "doc_id",
        F.concat(F.col("band_id").cast("string"), F.col("band_key")).alias("bucket"),
    )
    return bucket_clusters(membership, "doc_id", "bucket")


@register(
    "lsh_dedup_clusters",
    _LSH_LABELS_SQL
    + """
    SELECT CAST(label AS BIGINT) AS cluster_id, count(*) AS n_docs,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM labels
    GROUP BY label HAVING count(*) >= 2
    ORDER BY cluster_id
    """,
    sort=("cluster_id",),
    doc="Duplicate clusters: LSH band buckets → exact connected components "
    "of the doc↔bucket graph (operators/components.py::bucket_clusters: "
    "doc↔bucket-min star edges, no pairwise expansion, resolved by "
    "connected_components), so chains of any length form one cluster. "
    "Completes the dedup story: candidate buckets (minhash_lsh_buckets) → "
    "pairwise verify (ngram_jaccard_pairs) → clusters → keep-one survivor.",
)
def lsh_dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_hashes=N_MINHASH
    )
    return (
        _lsh_clusters(sigs)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.max("doc_id").alias("max_doc_id"))
        .where(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# k-means Lloyd step (IVF quantizer training)
# ---------------------------------------------------------------------------


@register(
    "kmeans_lloyd_update",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e WHERE vec_id < 10),
    scored AS (
      SELECT e.vec_id, c.centroid_id,
             round({_COS_SQL.format(a="e.emb", b="c.c_emb")}, 6) AS cosine_sim
      FROM e JOIN c ON true
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine_sim DESC, centroid_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    member_dims AS (
      SELECT a.centroid_id, generate_subscripts(e.emb, 1) AS i, unnest(e.emb) AS x
      FROM e JOIN assign a USING (vec_id)
    ),
    means AS (
      SELECT centroid_id, i, avg(x) AS nc
      FROM member_dims GROUP BY centroid_id, i
    ),
    sizes AS (
      SELECT centroid_id, count(*) AS n_assigned FROM assign GROUP BY centroid_id
    ),
    old_dims AS (
      SELECT centroid_id, generate_subscripts(c_emb, 1) AS i, unnest(c_emb) AS oc
      FROM c
    )
    SELECT m.centroid_id, max(s.n_assigned) AS n_assigned,
           round(sqrt(sum(m.nc * m.nc)), 6) AS new_norm,
           round(sum(m.nc * o.oc)
                 / (sqrt(sum(m.nc * m.nc)) * sqrt(sum(o.oc * o.oc))), 6)
               AS drift_cos
    FROM means m
    JOIN old_dims o USING (centroid_id, i)
    JOIN sizes s USING (centroid_id)
    GROUP BY m.centroid_id
    ORDER BY m.centroid_id
    """,
    sort=("centroid_id",),
    doc="One Lloyd iteration of k-means over the embedding corpus "
    "(operators/similarity.py::kmeans_lloyd_step): broadcast-assign to "
    "nearest centroid, per-dimension mean recompute via (centroid, dim) "
    "groupBy with map-side partials. Output per centroid: member count, "
    "new-centroid norm, cosine drift vs the old centroid — the "
    "convergence signal. This is how the IVF coarse quantizer "
    "(embedding_centroid_assign / embedding_ann_ivf) gets trained at "
    "100 TB: k×d result rows per round, corpus never re-materialized.",
)
def kmeans_lloyd_update_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    centroids = e.where(F.col("vec_id") < 10)
    step = kmeans_lloyd_step(e, centroids, "vec_id", "embedding")
    old_dims = centroids.select(
        F.col("vec_id").alias("centroid_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "oc"),
    )
    return (
        step.join(old_dims, ["centroid_id", "i"])
        .groupBy("centroid_id")
        .agg(
            F.max("n_assigned").alias("n_assigned"),
            F.round(F.sqrt(F.sum(F.col("new_comp") * F.col("new_comp"))), 6).alias(
                "new_norm"
            ),
            F.round(
                F.sum(F.col("new_comp") * F.col("oc"))
                / (
                    F.sqrt(F.sum(F.col("new_comp") * F.col("new_comp")))
                    * F.sqrt(F.sum(F.col("oc") * F.col("oc")))
                ),
                6,
            ).alias("drift_cos"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization parameters
# ---------------------------------------------------------------------------


@register(
    "embedding_quantization_params",
    """
    WITH dims AS (
      SELECT generate_subscripts(emb, 1) - 1 AS i, unnest(emb) AS x
      FROM (SELECT embedding::DOUBLE[] AS emb FROM embeddings)
    )
    SELECT i,
           round(min(x), 6) AS dim_min,
           round(max(x), 6) AS dim_max,
           round((max(x) - min(x)) / 255.0, 9) AS scale,
           CAST(round(-min(x) / (CASE WHEN max(x) > min(x)
                                 THEN (max(x) - min(x)) / 255.0
                                 ELSE 1.0 END)) AS BIGINT) AS zero_point
    FROM dims GROUP BY i
    ORDER BY i
    """,
    sort=("i",),
    doc="Per-dimension int8 quantization parameters (asymmetric min/max "
    "scheme: scale = range/255, zero_point = round(-min/scale)) for "
    "compressing the vector index 4× before ANN serving. One posexplode "
    "+ 64-group min/max agg — map-side partial, nothing but 64 rows "
    "crosses the shuffle; at 100 TB this is a single cheap pass.",
)
def embedding_quantization_params_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    dims = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    dmin, dmax = F.min("x"), F.max("x")
    scale = (dmax - dmin) / F.lit(255.0)
    safe_scale = F.when(dmax > dmin, scale).otherwise(F.lit(1.0))
    return dims.groupBy("i").agg(
        F.round(dmin, 6).alias("dim_min"),
        F.round(dmax, 6).alias("dim_max"),
        F.round(scale, 9).alias("scale"),
        F.round(-dmin / safe_scale, 0).cast("long").alias("zero_point"),
    )


# ---------------------------------------------------------------------------
# Embedding near-dup clusters (multi-table hyperplane LSH → components)
# ---------------------------------------------------------------------------

_HP_SEEDS = ("h", "g")


def _hp_mem_sql(seeds: tuple[str, ...] = _HP_SEEDS, n_planes: int = 8, dim: int = 64) -> str:
    """Hyperplane-LSH membership CTEs: one independent plane table per
    seed; mem = union of per-table buckets keyed '<table>|<bucket_id>'."""
    parts = ["""
    WITH vecs AS (
      SELECT vec_id, generate_subscripts(emb, 1) AS i, unnest(emb) AS v
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    )"""]
    for t, seed in enumerate(seeds):
        parts.append(f""",
    hp_p{t} AS (
      SELECT CAST(k // {dim} AS INT) AS j, CAST(k % {dim} AS INT) + 1 AS i,
             (CAST('0x' || substr(md5('{seed}' || CAST(k // {dim} AS INT)
                                       || '|' || CAST(k % {dim} AS INT)), 1, 6)
                   AS BIGINT) / 16777215.0) * 2 - 1 AS comp,
             CAST(power(2, k // {dim}) AS BIGINT) AS weight
      FROM range(0, {n_planes * dim}) t(k)
    ),
    hp_d{t} AS (
      SELECT vec_id, j, weight, sum(v * comp) AS dot
      FROM vecs JOIN hp_p{t} USING (i)
      GROUP BY vec_id, j, weight
    ),
    hp_b{t} AS (
      SELECT vec_id,
             '{t}|' || CAST(CAST(sum(CASE WHEN round(dot, 6) >= 0 THEN weight ELSE 0 END)
                                 AS BIGINT) AS VARCHAR) AS bucket
      FROM hp_d{t} GROUP BY vec_id
    )""")
    union = "\n      UNION ALL ".join(
        f"SELECT vec_id, bucket FROM hp_b{t}" for t in range(len(seeds))
    )
    parts.append(f""",
    mem AS MATERIALIZED (
      {union}
    )""")
    return "".join(parts)


@register(
    "embedding_dedup_clusters",
    _exact_labels_sql(_hp_mem_sql(), "vec_id")
    + """
    SELECT CAST(label AS BIGINT) AS cluster_id, count(*) AS n_vecs,
           CAST(max(vec_id) AS BIGINT) AS max_vec_id
    FROM labels
    GROUP BY label HAVING count(*) >= 2
    ORDER BY cluster_id
    """,
    sort=("cluster_id",),
    doc="Embedding near-dup clusters: TWO independent hyperplane-LSH "
    "tables (seeds amplify recall — a pair missed by one table's 8 sign "
    "bits is caught by the other) unioned into vec↔bucket membership, "
    "then exact connected components (bucket_clusters) merge buckets "
    "that share vectors into transitive clusters. Planes broadcast, two "
    "posexplode passes, star edges to each bucket's minimum — the "
    "embedding-side mirror of lsh_dedup_clusters, never all-pairs.",
)
def embedding_dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    tables = [
        random_hyperplane_lsh(e, "vec_id", "embedding", seed=s) for s in _HP_SEEDS
    ]
    mem = None
    for t, buckets in enumerate(tables):
        part = buckets.select(
            "vec_id",
            F.concat(F.lit(f"{t}|"), F.col("bucket_id").cast("string")).alias(
                "bucket"
            ),
        )
        mem = part if mem is None else mem.unionByName(part)
    clusters = bucket_clusters(mem, "vec_id", "bucket")
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.max("vec_id").alias("max_vec_id"))
        .where(F.col("n_vecs") >= 2)
    )


# ---------------------------------------------------------------------------
# ANN recall contract (IVF vs exact, each engine self-comparing)
# ---------------------------------------------------------------------------


def _ann_recall_single_pass(
    spark: SparkSession, sf_dir: str, *, nprobe: int, k: int = 3
) -> DataFrame:
    """Shared SINGLE-PASS body of ann_recall_contract (nprobe=1) and
    ivf_beam_recall_contract (nprobe=3). A brute-force pass beside a
    probe branch would re-scan the corpus in the probe's neighbor-vector
    fetch to recompute cosines the brute pass already has, then join
    probe-top-k against exact-top-k. Here every (neighbor, query) pair is scored ONCE,
    carrying an is_cand flag (neighbor's centroid ∈ the query's
    top-nprobe probes, attached by metadata joins BEFORE the vectors are
    touched; at nprobe=1 the query's own assignment IS its top-1 probe —
    identical ranking expression, rounding, and tie-break); exact rank
    and in-probe rank are two window functions over one q_id-clustered
    pipeline (hashpartitioning(q_id) satisfies both windows' clustering;
    the in-group rank costs one extra local sort, no exchange), and the
    overlap is counted per row — no exact/probe self-join, no pins
    beyond the shared assignment relation, one corpus-vector pass plus
    the assignment pass. Returns (q_id, n_overlap, n_candidates) at
    query grain, one row per query with >= 1 scored neighbor.
    """
    from pyspark.sql import Window as W

    from fitness_nutrition_data_pipeline_spark.operators.similarity import (
        cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.where(F.col("vec_id") >= 495)
    centroids = e.where(F.col("vec_id") < 10)
    assignments = assign_centroids(
        e, centroids, "vec_id", "embedding"
    ).localCheckpoint()
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").cast("array<double>").alias("q_vec"),
    )
    if nprobe == 1:
        # the query's own (pinned) assignment is its top-1 probe
        probes = assignments.select(
            F.col("vec_id").alias("p_q_id"),
            F.col("centroid_id").alias("p_centroid"),
        ).join(
            q.select(F.col("q_id").alias("p_q_id")), "p_q_id", "left_semi"
        )
    else:
        # rank ALL centroids per query (tiny broadcast), keep nprobe
        cvec = centroids.select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("c_vec"),
        )
        wp = W.partitionBy("q_id").orderBy(F.desc("c_sim"), "centroid_id")
        probes = (
            q.crossJoin(F.broadcast(cvec))
            .select(
                "q_id",
                "centroid_id",
                F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias(
                    "c_sim"
                ),
            )
            .withColumn("rn", F.row_number().over(wp))
            .where(F.col("rn") <= nprobe)
            .select(
                F.col("q_id").alias("p_q_id"),
                F.col("centroid_id").alias("p_centroid"),
            )
        )
    nv = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("n_vec"),
    ).join(
        assignments.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("centroid_id").alias("n_centroid"),
        ),
        "neighbor_id",
    )
    scored = (
        nv.join(F.broadcast(q), F.col("neighbor_id") != F.col("q_id"))
        .join(
            F.broadcast(probes),
            (F.col("p_q_id") == F.col("q_id"))
            & (F.col("p_centroid") == F.col("n_centroid")),
            "left",
        )
        .select(
            F.col("q_id"),
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6).alias(
                "cosine_sim"
            ),
            F.col("p_centroid").isNotNull().alias("is_cand"),
        )
    )
    wk = W.partitionBy("q_id").orderBy(F.desc("cosine_sim"), "neighbor_id")
    wc = W.partitionBy("q_id", "is_cand").orderBy(
        F.desc("cosine_sim"), "neighbor_id"
    )
    ranked = scored.select(
        "q_id",
        "is_cand",
        F.row_number().over(wk).alias("rn_all"),
        F.row_number().over(wc).alias("rn_grp"),
    )
    return ranked.groupBy("q_id").agg(
        F.sum(
            F.when(
                F.col("is_cand")
                & (F.col("rn_grp") <= k)
                & (F.col("rn_all") <= k),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_overlap"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_candidates"),
    )



@register(
    "ann_recall_contract",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e WHERE vec_id < 10),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id >= 495),
    exact AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round({_COS_SQL.format(a="q.q_emb", b="e.emb")}, 6) DESC,
                 e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.q_id
      ) WHERE rn <= 3
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 round({_COS_SQL.format(a="e.emb", b="c.c_emb")}, 6) DESC,
                 c.centroid_id) AS rn
        FROM e JOIN c ON true
      ) WHERE rn = 1
    ),
    ivf AS (
      SELECT q_id, neighbor_id FROM (
        SELECT qq.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY qq.q_id ORDER BY
                 round({_COS_SQL.format(a="qq.q_emb", b="e.emb")}, 6) DESC,
                 e.vec_id) AS rn
        FROM (SELECT q.q_id, q.q_emb, a.centroid_id
              FROM q JOIN assign a ON a.vec_id = q.q_id) qq
        JOIN assign cand ON cand.centroid_id = qq.centroid_id
                        AND cand.vec_id <> qq.q_id
        JOIN e ON e.vec_id = cand.vec_id
      ) WHERE rn <= 3
    )
    SELECT x.q_id, count(i.neighbor_id) AS n_overlap,
           round(count(i.neighbor_id) / 3.0, 4) AS recall_at_3
    FROM exact x LEFT JOIN ivf i
      ON i.q_id = x.q_id AND i.neighbor_id = x.neighbor_id
    GROUP BY x.q_id
    ORDER BY x.q_id
    """,
    sort=("q_id",),
    doc="ANN quality contract: recall@3 of the IVF-probed search "
    "(nprobe=1) measured against the exact brute-force top-3 on the same "
    "queries — each engine computes BOTH sides itself and reports the "
    "overlap, so the approximate index's quality is itself an "
    "oracle-checkable number (the sketch-contract pattern applied to "
    "ANN). At scale this is the standing canary dashboard for index "
    "drift after each quantizer retrain.",
)
def ann_recall_contract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every query keeps a row (as an exact-side spine over all queries
    # would); n_candidates is internal here — ann reports recall only
    return _ann_recall_single_pass(spark, sf_dir, nprobe=1).select(
        "q_id",
        "n_overlap",
        F.round(F.col("n_overlap") / F.lit(3.0), 4).alias("recall_at_3"),
    )


# ---------------------------------------------------------------------------
# PCA power-iteration step (index-rotation training primitive)
# ---------------------------------------------------------------------------

_V0_SQL = """
      SELECT CAST(k AS INT) + 1 AS i,
             (CAST('0x' || substr(md5('p0|' || CAST(k AS INT)), 1, 6)
                   AS BIGINT) / 16777215.0) * 2 - 1 AS v0
      FROM range(0, 64) t(k)
"""


@register(
    "pca_power_iteration",
    f"""
    WITH vecs AS (
      SELECT vec_id, generate_subscripts(emb, 1) AS i, unnest(emb) AS x
      FROM (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings)
    ),
    v0 AS ({_V0_SQL}),
    xv AS (
      SELECT vec_id, sum(x * v0) AS dot
      FROM vecs JOIN v0 USING (i) GROUP BY vec_id
    ),
    s AS (
      SELECT i, sum(x * dot) AS sd
      FROM vecs JOIN xv USING (vec_id) GROUP BY i
    ),
    nrm AS (SELECT sqrt(sum(sd * sd)) AS n FROM s)
    SELECT i - 1 AS dim, round(sd / n, 6) AS v1_comp
    FROM s, nrm
    ORDER BY dim
    """,
    sort=("dim",),
    doc="One power-iteration step toward the corpus's top principal "
    "component: v1 = normalize(Σ_i x_i⟨x_i, v0⟩) with a deterministic "
    "md5-derived start vector — the X^T(Xv) formulation, so the corpus "
    "is read twice ((vec,dim) partial-agg shuffles of 64 rows per "
    "vector / dimension) and the d×d covariance matrix is NEVER "
    "materialized. Iterating (feed the 64-row v1 back in) converges to "
    "the PCA rotation used for OPQ/whitening before embedding "
    "quantization (embedding_quantization_params); same bounded-round "
    "oracle pattern as kmeans_lloyd_update.",
)
def pca_power_iteration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.col("id")
    v0 = spark.range(64).select(
        k.cast("int").alias("i"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("p0|"), k.cast("string"))), 1, 6),
                    16,
                    10,
                ).cast("long")
                / F.lit(16777215.0)
            )
            * 2
            - 1
        ).alias("v0"),
    )
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x")
    )
    xv = (
        vecs.join(F.broadcast(v0), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("x") * F.col("v0")).alias("dot"))
    )
    # s is 64 rows (answer-sized) and feeds TWO consumers (the norm and
    # the final projection); unpinned, each re-ran BOTH X^T(Xv) corpus
    # passes (audited 4 embeddings scans — now the documented 2)
    s = (
        vecs.join(xv, "vec_id")
        .groupBy("i")
        .agg(F.sum(F.col("x") * F.col("dot")).alias("sd"))
        .localCheckpoint()
    )
    nrm = s.agg(F.sqrt(F.sum(F.col("sd") * F.col("sd"))).alias("n"))
    return s.crossJoin(F.broadcast(nrm)).select(
        F.col("i").alias("dim"),
        F.round(F.col("sd") / F.col("n"), 6).alias("v1_comp"),
    )


# ---------------------------------------------------------------------------
# MMR diversified selection
# ---------------------------------------------------------------------------

def _mmr_oracle(k: int = 5) -> str:
    """Unrolled k-stage MMR: stage i picks argmax of
    0.7*rel - 0.3*max_sim_to_selected over the remaining candidates.
    (Literal 0.7/0.3 strings on both engines — ``1 - 0.7`` in Python
    would print 0.30000000000000004.)"""
    cos = _COS_SQL
    sql = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.emb,
             round({cos.format(a='q.q_emb', b='e.emb')}, 6) AS rel
      FROM e CROSS JOIN q WHERE e.vec_id >= 1
    ),
    s1 AS (
      SELECT vec_id, emb, rel, 0.7 * rel AS score
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    )"""
    for i in range(2, k + 1):
        prev = ", ".join(f"s{j}" for j in range(1, i))
        notin = ", ".join(f"s{j}.vec_id" for j in range(1, i))
        sims = [
            f"round({cos.format(a='c.emb', b=f's{j}.emb')}, 6)"
            for j in range(1, i)
        ]
        div = sims[0] if len(sims) == 1 else "greatest(" + ", ".join(sims) + ")"
        sql += f""",
    s{i} AS (
      SELECT c.vec_id, c.emb, c.rel,
             0.7 * c.rel - 0.3 * {div} AS score
      FROM cand c, {prev}
      WHERE c.vec_id NOT IN ({notin})
      ORDER BY score DESC, c.vec_id LIMIT 1
    )"""
    union = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS sel_rank, vec_id, rel, round(score, 6) AS mmr_score"
        f" FROM s{i}"
        for i in range(1, k + 1)
    )
    return sql + f"\n    {union}\n    ORDER BY sel_rank"


@register(
    "mmr_diversified_topk",
    _mmr_oracle(),
    sort=("sel_rank",),
    doc="Maximal-marginal-relevance selection (k=5, lambda=0.7) against "
    "query vector vec_id 0: greedily pick the candidate maximizing "
    "0.7*rel - 0.3*max_cos_to_already_selected — the diversity-aware "
    "variant of top-k used to de-redundify retrieval results and "
    "curriculum batches. Execution is k TakeOrdered(1) passes over a "
    "cached relevance-scored corpus: the selected set (<= k vectors) "
    "rides into each pass as broadcast literals, the corpus never "
    "re-shuffles, and no pass sorts globally. At 100 TB this is k cheap "
    "scans — the only way to do exact MMR without materializing an "
    "all-pairs similarity matrix; the oracle is the same greedy unrolled "
    "into k SQL stages.",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.similarity import cosine

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q_emb = e.where(F.col("vec_id") == 0).select("emb").head()[0]
    q_lit = F.array(*[F.lit(float(x)) for x in q_emb])
    cand = (
        e.where(F.col("vec_id") >= 1)
        .select(
            "vec_id", "emb", F.round(cosine(F.col("emb"), q_lit), 6).alias("rel")
        )
        .persist()
    )
    selected: list = []
    try:
        for _ in range(5):
            if selected:
                sims = [
                    F.round(
                        cosine(
                            F.col("emb"),
                            F.array(*[F.lit(float(x)) for x in s["emb"]]),
                        ),
                        6,
                    )
                    for s in selected
                ]
                div = sims[0] if len(sims) == 1 else F.greatest(*sims)
                score = F.lit(0.7) * F.col("rel") - F.lit(0.3) * div
                pool = cand.where(
                    ~F.col("vec_id").isin([s["vec_id"] for s in selected])
                )
            else:
                score = F.lit(0.7) * F.col("rel")
                pool = cand
            best = (
                pool.select("vec_id", "emb", "rel", score.alias("score"))
                .orderBy(F.desc("score"), "vec_id")
                .limit(1)
                .head()
            )
            selected.append(best)
    finally:
        cand.unpersist()
    rows = [
        (i + 1, s["vec_id"], s["rel"], s["score"]) for i, s in enumerate(selected)
    ]
    out = spark.createDataFrame(
        rows, "sel_rank int, vec_id bigint, rel double, score double"
    )
    return out.select(
        "sel_rank", "vec_id", "rel", F.round("score", 6).alias("mmr_score")
    )


@register(
    "dedup_cluster_size_histogram",
    _LSH_LABELS_SQL
    + """
    , sizes AS (
      SELECT label, count(*) AS n FROM labels GROUP BY label
    )
    SELECT n AS cluster_size, count(*) AS n_clusters,
           CAST(sum(n) AS BIGINT) AS n_docs
    FROM sizes GROUP BY n ORDER BY cluster_size
    """,
    sort=("cluster_size",),
    doc="Corpus-health histogram over duplicate-cluster sizes (singletons "
    "included): how much of the corpus is unique (size 1), how heavy the "
    "duplication tail is, and whether any mega-cluster exists (boilerplate "
    "explosion — the classic web-crawl failure mode that silently eats "
    "training-token budget). The exact clusters of lsh_dedup_clusters, "
    "then two more keyed aggregations on cluster grain and size grain — "
    "both orders of magnitude smaller than the corpus.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_hashes=N_MINHASH
    )
    sizes = _lsh_clusters(sigs).groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n"))
    return sizes.groupBy("n").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").alias("n_docs"),
    ).select(F.col("n").alias("cluster_size"), "n_clusters", "n_docs")


@register(
    "cross_source_dup_leakage",
    _LSH_LABELS_SQL
    + """
    , clustered AS (
      SELECT l.doc_id, CAST(l.label AS BIGINT) AS cluster_id, d.source
      FROM labels l JOIN documents d USING (doc_id)
    ),
    spanning AS (
      SELECT cluster_id,
             count(*) AS n_docs,
             count(DISTINCT source) AS n_sources,
             min(source) AS source_a,
             max(source) AS source_b
      FROM clustered GROUP BY cluster_id
      HAVING count(*) >= 2 AND count(DISTINCT source) >= 2
    )
    SELECT cluster_id, n_docs, n_sources, source_a, source_b
    FROM spanning ORDER BY cluster_id
    """,
    sort=("cluster_id",),
    doc="Split-leakage detector: duplicate clusters whose members span "
    "MORE THAN ONE source — the failure mode where near-identical text "
    "lands on both sides of a train/eval split drawn along source lines. "
    "The exact clusters of lsh_dedup_clusters, joined back to the "
    "(doc_id, source) projection and aggregated on cluster grain; "
    "source extremes bracket the span without shipping member lists. "
    "The doc↔label join is keyed on doc_id — one shuffle each side, no "
    "pair materialization.",
)
def cross_source_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=N_MINHASH)
    clustered = _lsh_clusters(sigs).join(docs.select("doc_id", "source"), "doc_id")
    return (
        clustered.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("source").alias("source_a"),
            F.max("source").alias("source_b"),
        )
        .where((F.col("n_docs") >= 2) & (F.col("n_sources") >= 2))
    )


@register(
    "near_dup_pipeline",
    _bands_cte()
    + r"""
    , bstats AS (
      SELECT band_id, band_key, count(*) AS n, min(doc_id) AS min_id
      FROM bands GROUP BY band_id, band_key
    ),
    cand AS (
      SELECT DISTINCT s.min_id AS id_a, b.doc_id AS id_b
      FROM bands b JOIN bstats s USING (band_id, band_key)
      WHERE s.n >= 2 AND s.n <= 50 AND b.doc_id <> s.min_id
    ),
    shl AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, len(string_split_regex(lower(text), '\s+'))),
               i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                    string_split_regex(lower(text), '\s+')[i+1])) AS shingles
      FROM documents
    )
    SELECT c.id_a AS doc_id_a, c.id_b AS doc_id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 4)
               AS jaccard,
           CASE WHEN CAST(len(list_intersect(a.shingles, b.shingles))
                          AS DOUBLE)
                     / (len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles))) >= 0.5
                THEN 1 ELSE 0 END AS is_near_dup
    FROM cand c
    JOIN shl a ON a.doc_id = c.id_a
    JOIN shl b ON b.doc_id = c.id_b
    ORDER BY doc_id_a, doc_id_b
    """,
    sort=("doc_id_a", "doc_id_b"),
    doc="The FLAGSHIP 100 TB near-dedup composition end-to-end under one "
    "oracle (operators/dedup.py::near_dup_pipeline): MinHash signatures "
    "(8 perms / 2 md5s) → LSH bands (4×2) → in-bucket star pairing "
    "against the bucket-min survivor, capped at max_bucket_size=50 to "
    "bound the only quadratic stage → exact 2-shingle Jaccard verify → "
    "is_near_dup at 0.5. Every stage is linear except the capped "
    "pairing; the oracle replays the composition CTE-for-CTE (the "
    "individually-green stage queries minhash_lsh_buckets / "
    "minhash_dedup_flags / ngram_jaccard_pairs validate the parts — "
    "this validates their COMPOSITION, including the candidate-dedup "
    "across bands and the verify join).",
)
def near_dup_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = near_dup_pipeline(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n_hashes=N_MINHASH,
        n_bands=N_BANDS,
        threshold=0.5,
        max_bucket_size=50,
    )
    return out.select(
        F.col("id_a").alias("doc_id_a"),
        F.col("id_b").alias("doc_id_b"),
        F.round("jaccard", 4).alias("jaccard"),
        "is_near_dup",
    )


@register(
    "dedup_clusters_exact",
    _LSH_LABELS_SQL
    + """
    SELECT doc_id, CAST(label AS BIGINT) AS cluster_id
    FROM labels
    WHERE label IN (SELECT label FROM labels GROUP BY label HAVING count(*) >= 2)
    ORDER BY doc_id
    """,
    sort=("doc_id",),
    doc="Exact duplicate clusters per document: the clustered docs (cluster "
    "size ≥ 2) of lsh_dedup_clusters with their cluster ids. The LSH "
    "doc↔bucket-min star edges are resolved by large-star/small-star "
    "(operators/components.py::connected_components — O(log n) "
    "alternations, linear per round, the Kiveris et al. MapReduce "
    "algorithm), against a DuckDB min-label fixpoint. Chains of any "
    "length collapse to one cluster.",
)
def dedup_clusters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = minhash_signatures(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_hashes=N_MINHASH
    )
    n = F.count(F.lit(1)).over(W.partitionBy("cluster_id"))
    return (
        _lsh_clusters(sigs)
        .withColumn("_n", n)
        .where(F.col("_n") >= 2)
        .select("doc_id", "cluster_id")
    )


@register(
    "embedding_dot_arrow",
    """
    WITH ok AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id IS NOT NULL AND len(embedding) = 64
    ),
    q AS (SELECT embedding AS qe FROM ok WHERE vec_id = 0)
    SELECT o.vec_id,
           CAST(list_sum(list_transform(range(1, 65),
                i -> CAST(floor(CAST(o.embedding[i] AS DOUBLE) * 10000)
                          AS BIGINT)
                   * CAST(floor(CAST(q.qe[i] AS DOUBLE) * 10000)
                          AS BIGINT))) AS BIGINT) AS qdot
    FROM ok o, q
    ORDER BY qdot DESC, vec_id
    LIMIT 20
    """,
    sort=(),  # builder ends in its own ORDER BY ... LIMIT
    doc="The Arrow-batched NUMERIC path under the strict value hash: a "
    "vectorized pandas_udf computes int64 dot products against a "
    "broadcast query vector over Arrow-delivered embedding batches "
    "(np.stack → one matrix multiply per batch — the exact shape a "
    "model-scoring UDF takes), while the oracle recomputes the same "
    "quantity in SQL list arithmetic. EXACT cross-engine equality is "
    "engineered by quantizing to integers first (floor(x*1e4): "
    "float32→double is exact, double multiply is correctly rounded "
    "identically, floor has no tie ambiguity — unlike a float dot, "
    "whose summation order differs between numpy pairwise and SQL "
    "sequential sums at the ulp). Top-20 nearest by quantized dot. The "
    "other pandas_udf surfaces (byte histograms) are rows-only; this "
    "one gives the Arrow lane a hard hash-checked signal.",
)
def embedding_dot_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ok = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isNotNull() & (F.array_size("embedding") == 64))
        .select("vec_id", "embedding")
    )
    (qrow,) = ok.where(F.col("vec_id") == 0).select("embedding").collect()
    qvec = np.floor(np.asarray(qrow[0], dtype="float64") * 10000).astype(
        "int64"
    )

    # NOTE: `from __future__ import annotations` stringifies hints, which
    # pandas_udf's signature inspection rejects — use the explicit form
    def _qdot(col):
        m = np.stack(col.to_numpy()).astype("float64")
        qm = np.floor(m * 10000).astype("int64")
        return pd.Series(qm @ qvec)

    qdot = pandas_udf(_qdot, "long")

    return (
        ok.select("vec_id", qdot("embedding").alias("qdot"))
        .orderBy(F.desc("qdot"), "vec_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Registered; tests/test_ivf_beam_contract.py also runs its oracle compare
# at two SFs.
# ---------------------------------------------------------------------------

_IVF_BEAM_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e WHERE vec_id < 10),
    q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id >= 495),
    exact AS (
      SELECT q_id, neighbor_id FROM (
        SELECT q.q_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round({_COS_SQL.format(a="q.q_emb", b="e.emb")}, 6) DESC,
                 e.vec_id) AS rn
        FROM q JOIN e ON e.vec_id <> q.q_id
      ) WHERE rn <= 3
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 round({_COS_SQL.format(a="e.emb", b="c.c_emb")}, 6) DESC,
                 c.centroid_id) AS rn
        FROM e JOIN c ON true
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT q_id, centroid_id FROM (
        SELECT q.q_id, c.centroid_id,
               row_number() OVER (PARTITION BY q.q_id ORDER BY
                 round({_COS_SQL.format(a="q.q_emb", b="c.c_emb")}, 6) DESC,
                 c.centroid_id) AS rn
        FROM q JOIN c ON true
      ) WHERE rn <= 3
    ),
    beam AS (
      SELECT q_id, neighbor_id, n_candidates FROM (
        SELECT p.q_id, a.vec_id AS neighbor_id,
               count(*) OVER (PARTITION BY p.q_id) AS n_candidates,
               row_number() OVER (PARTITION BY p.q_id ORDER BY
                 round({_COS_SQL.format(a="qq.q_emb", b="e.emb")}, 6) DESC,
                 a.vec_id) AS rn
        FROM probes p
        JOIN q qq ON qq.q_id = p.q_id
        JOIN assign a ON a.centroid_id = p.centroid_id
                     AND a.vec_id <> p.q_id
        JOIN e ON e.vec_id = a.vec_id
      ) WHERE rn <= 3
    )
    SELECT b.q_id,
           CAST(count(x.neighbor_id) AS BIGINT) AS n_overlap,
           round(count(x.neighbor_id) / 3.0, 4) AS recall_at_3,
           CAST(max(b.n_candidates) AS BIGINT) AS n_candidates
    FROM beam b LEFT JOIN exact x
      ON x.q_id = b.q_id AND x.neighbor_id = b.neighbor_id
    GROUP BY b.q_id
    ORDER BY b.q_id
"""


@register(
    "ivf_beam_recall_contract",
    _IVF_BEAM_ORACLE,
    doc="IVF nprobe=3 beam-search ANN recall/cost contract vs brute force",
)
def ivf_beam_recall_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beam-search ANN quality/cost contract — the nprobe knob of the
    IVF ladder made oracle-checkable. The beam protocol: every corpus
    vector is assigned to its nearest coarse centroid; each query ranks
    all centroids by cosine and probes the top THREE partitions (vs
    ann_recall_contract's single probe); only the members of those
    partitions are exact-ranked, and the beam's top-3 is compared with
    the brute-force top-3. The shared single-pass body
    `_ann_recall_single_pass` scores every (neighbor, query) pair once,
    so the beam's ranking reuses the brute-force side's scores instead
    of re-fetching corpus vectors. The query reports recall@3 PLUS
    n_candidates, the number of vectors the beam actually scanned — so
    the recall-vs-cost tradeoff is a measured pair, not a claim. Same
    deterministic protocol as ann_recall_contract
    (centroids = vec_id < 10, queries = vec_id >= 495, cosine rounded
    to 6 before ranking with id tie-breaks, both engines compute both
    sides). Aggregation runs FROM the beam side so both engines drop a
    (theoretical) zero-candidate query identically."""
    # shared single-pass body (see _ann_recall_single_pass: 5 scans → 4,
    # and faster than two separate passes locally too);
    # the beam reports the candidate-scan cost and drops a (theoretical)
    # zero-candidate query, matching the oracle's beam-side aggregation
    return (
        _ann_recall_single_pass(spark, sf_dir, nprobe=3)
        .where(F.col("n_candidates") > 0)
        .select(
            "q_id",
            "n_overlap",
            F.round(F.col("n_overlap") / F.lit(3.0), 4).alias("recall_at_3"),
            "n_candidates",
        )
        .repartition(1)
        .sortWithinPartitions("q_id")
    )


# ---------------------------------------------------------------------------
# Registered. The REAL engine's batch-split invariance is pinned by
# tests/test_lsh_bridge_property.py, and tests/test_lsh_dedup_replay.py
# runs its oracle compare at two SFs.
# ---------------------------------------------------------------------------

_LSH_REPLAY_ORACLE = (
    _bands_cte()
    + """
    , pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             CAST(greatest(a.doc_id % 3, b.doc_id % 3) AS INT)
                 AS discovered_batch,
             CAST(count(DISTINCT a.band_id) AS BIGINT) AS n_shared_bands
      FROM bands a JOIN bands b
        ON b.band_id = a.band_id AND b.band_key = a.band_key
       AND b.doc_id > a.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT doc_id_a, doc_id_b, discovered_batch, n_shared_bands
    FROM pairs
    ORDER BY doc_id_a, doc_id_b
"""
)


@register(
    "lsh_dedup_batch_replay",
    _LSH_REPLAY_ORACLE,
    doc="incremental LSH dedup bridge 3-batch replay == single-batch closed form",
)
def lsh_dedup_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup bridge under the value oracle: the engine
    (streaming/lsh_bridge.py::LshDedupBridge — LSH band buckets
    maintained as pinned state across batches, each pair emitted when
    its later doc arrives) replays the documents table in three
    deterministic batches (doc_id % 3, processed 0→1→2), and the
    emitted (pair, discovered_batch, n_shared_bands) set must equal the
    closed form a single global batch computes: every band-colliding
    pair tagged by greatest(batch(a), batch(b)) — the IVM contract
    (incremental == batch) applied to the dedup ladder. Per batch the
    engine's work is batch-bands + matching state rows (band-key hash
    join), never history²; the oracle rebuilds the bands from scratch,
    so the hash equality also re-proves the signature algebra end to
    end. Batches here are modulo-split so every batch surfaces both
    cross-batch and within-batch pairs (151/417/573 at sf0.01)."""
    from fitness_nutrition_data_pipeline_spark.streaming.lsh_bridge import (
        LshDedupBridge,
    )

    docs = load_table(spark, sf_dir, "documents")
    bridge = LshDedupBridge(spark)
    out = None
    for b in range(3):
        pairs = bridge.process_batch(
            docs.where(F.col("doc_id") % 3 == b)
        ).withColumn("discovered_batch", F.lit(b).cast("int"))
        out = pairs if out is None else out.unionByName(pairs)
    return (
        out.select(
            "doc_id_a", "doc_id_b", "discovered_batch", "n_shared_bands"
        )
        .repartition(1)
        .sortWithinPartitions("doc_id_a", "doc_id_b")
    )
