"""Reusable deduplication operators (north-star dedup surface): exact,
MinHash+LSH, SimHash, n-gram Jaccard. All md5-based so results are
portable/verifiable; all plans linear in corpus size (explode → partial
agg → shuffle-on-key), never globally quadratic.

queries/llm_ops.py binds these to the testdata `documents` table; library
users call them on any (id, text) DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.text import word_shingles


def exact_dedup_summary(df: DataFrame, content_col: str) -> DataFrame:
    """Corpus-level exact-dup stats via content hash."""
    h = F.md5(content_col)
    return df.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct(h).alias("distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("duplicate_docs"),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document MinHash signature columns sig0..sig{n-1}.

    ``carry_cols``: additional doc-grain columns of ``df`` carried
    through the explode → partial-agg pipeline via ``first()`` — so a
    caller that needs per-doc metadata (precomputed quality flags,
    lengths) BESIDE the signatures gets both from ONE corpus scan
    instead of a second scan + doc_id join (cluster_survivor_selection
    dropped a full documents pass this way). Values ride the exploded
    rows as narrow columns and collapse map-side; never carry text.

    Hash-economical: each md5 yields four 32-bit hex windows, so n_hashes
    signatures cost ceil(n/4) md5 evaluations per shingle (lexicographic
    min over fixed-width hex ≡ numeric min).

    Explode → groupBy is the deliberate shape: the min-agg is map-side
    partial (almost nothing crosses the shuffle) and the whole pipeline
    stays in whole-stage codegen. A shuffle-free transform/array_min
    formulation was benchmarked 1.5× SLOWER — higher-order-function
    lambdas are interpreted, outside codegen.
    """
    n_seeds = (n_hashes + 3) // 4
    # pre-project each md5 ONCE per exploded row — the partial aggregate
    # then reads substrings of a computed column instead of re-evaluating
    # the hash inside every min() expression (benchmarked ~14% faster)
    # distinct=False: MIN over a multiset equals MIN over the set, so the
    # dedup pass buys nothing here — and array_distinct costs more than
    # hashing the duplicate shingles (measured 7% on the sf0.1 bench).
    # Signature VALUES are identical either way; jaccard keeps distinct
    # (set semantics there are load-bearing).
    exploded = df.select(
        id_col,
        *carry_cols,
        F.explode(word_shingles(text_col, 2, distinct=False)).alias("shingle"),
    ).select(
        id_col,
        *carry_cols,
        *[
            F.md5(F.concat(F.lit(f"s{s}|"), F.col("shingle"))).alias(f"h{s}")
            for s in range(n_seeds)
        ],
    )
    aggs = []
    for k in range(n_hashes):
        seed, window = divmod(k, 4)
        aggs.append(
            F.min(F.substring(F.col(f"h{seed}"), window * 8 + 1, 8)).alias(f"sig{k}")
        )
    aggs.extend(F.first(c).alias(c) for c in carry_cols)
    return exploded.groupBy(id_col).agg(*aggs)


def lsh_bands(sigs: DataFrame, id_col: str, *, n_bands: int = 4) -> DataFrame:
    """Signature → (id, band_id, band_key) rows; rows_per_band inferred
    from the signature width."""
    n_sigs = sum(1 for c in sigs.columns if c.startswith("sig"))
    rows_per_band = n_sigs // n_bands
    stack_args = ", ".join(
        f"{b}, md5(concat({', '.join(f'sig{b * rows_per_band + r}' for r in range(rows_per_band))}))"
        for b in range(n_bands)
    )
    return sigs.select(
        id_col, F.expr(f"stack({n_bands}, {stack_args})").alias("band_id", "band_key")
    )


def lsh_buckets(bands: DataFrame, id_col: str, *, min_size: int = 2) -> DataFrame:
    """Candidate near-dup buckets: band collisions with ≥ min_size docs."""
    return (
        bands.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_doc_id"))
        .where(F.col("n_docs") >= min_size)
    )


def lsh_dup_flags(bands: DataFrame, id_col: str) -> DataFrame:
    """Linear dedup decision: per-bucket min id survives; any id above a
    bucket minimum is a near-dup candidate. No pairwise expansion.

    ``bands`` is pinned before the mins-join diamond:
    both consumers read one materialized metadata-sized band table
    instead of re-running the caller's signature lineage (typically a
    corpus scan + shingle explode + md5s) twice; localCheckpoint spills
    to disk rather than OOMing at scale."""
    bands = bands.localCheckpoint()
    mins = bands.groupBy("band_id", "band_key").agg(F.min(id_col).alias("bucket_min"))
    return (
        bands.join(mins, ["band_id", "band_key"])
        .groupBy(id_col)
        .agg(
            F.max(F.when(F.col(id_col) > F.col("bucket_min"), 1).otherwise(0))
            .cast("int")
            .alias("is_dup_candidate")
        )
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash from md5-nibble parity votes (portable variant; swap
    md5 for xxhash64 and width 64 for the production flavor — same plan).

    Explode → groupBy is the deliberate shape (map-side partial agg +
    whole-stage codegen); a per-row transform/aggregate fold over the
    token array benchmarked 1.5× slower — higher-order-function lambdas
    are interpreted, outside codegen.

    The 16 parity votes read NUMERIC nibbles: the md5's first 16 hex
    chars are converted once (two conv() calls → two longs) and each
    vote is a shift+mask — measured 33% faster than 16 per-character
    substring+isin votes (string ops per vote vs straight-line long
    math), with bit-identical output (nibble parity == odd hex digit,
    so the DuckDB oracle is untouched)."""
    h = F.md5("tok")
    toks = df.select(
        id_col, F.explode(F.split(F.lower(text_col), r"\s+")).alias("tok")
    ).select(
        id_col,
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("v1"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("v2"),
    )
    bit_aggs = []
    for i in range(16):
        v = F.col("v1") if i < 8 else F.col("v2")
        vote = F.when(
            F.shiftright(v, 4 * (7 - (i % 8))).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)
        bit_aggs.append(
            F.when(F.sum(vote) > 0, F.lit(1 << i)).otherwise(F.lit(0)).alias(f"bit{i}")
        )
    bits = toks.groupBy(id_col).agg(*bit_aggs)
    expr = F.col("bit0")
    for i in range(1, 16):
        expr = expr + F.col(f"bit{i}")
    return bits.select(id_col, expr.cast("long").alias("simhash16"))


def jaccard_on_adjacent_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """2-shingle Jaccard for (id, id+1) candidate pairs.

    One sort-merge self-join on the id key carries each doc's (distinct)
    shingle ARRAY to its pair partner; |∩| is a per-row ``array_intersect``
    and |∪| falls out of sizes. Only N doc rows cross the shuffle — the
    earlier explode-join variant shuffled N×shingles rows to compute the
    same numbers (see ``jaccard_on_pairs`` for the explode formulation,
    still the right shape when one doc appears in MANY candidate pairs and
    re-shipping its array per pair would dominate)."""
    sh = df.select(id_col, word_shingles(text_col, 2).alias("shingles"))
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    common = F.array_size(F.array_intersect("sh_a", "sh_b"))
    denom = F.array_size("sh_a") + F.array_size("sh_b") - common
    # A doc with <2 tokens has an EMPTY shingle set; a pair of two such
    # docs makes the union 0 and jaccard 0/0. Spark 4 runs ANSI mode by
    # default, where plain division-by-zero THROWS — try_divide yields
    # NULL instead, matching DuckDB's x/0 → NULL (both pinned by
    # tests/test_advice_regressions.py), so the degenerate pair emits an
    # identical NULL row on both engines. try_divide, not a `denom > 0`
    # filter: the predicate gets pushed below the projection and
    # re-evaluates array_intersect per row (measured 1.6× on this query).
    jac = F.try_divide(common.cast("double"), denom)
    return pairs.select("id_a", "id_b", jac.alias("jaccard"))


def jaccard_on_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """2-shingle Jaccard for an arbitrary candidate-pair table
    (columns id_a, id_b) — the verify stage fed by any candidate
    generator (LSH buckets, blocking keys, adjacency).

    Diamond-DAG treatment: the shingle relation feeds FOUR branches
    (exploded a/b, sizes a/b), which would re-shingle the corpus four
    times; instead the corpus is first SEMI-JOINED down to the ids that
    actually appear in a pair (answer-sized — pairs are capped by the
    candidate generator) and that restricted shingle table is pinned
    with ``localCheckpoint``, so the full corpus is scanned ONCE and
    only survivor docs are materialized."""
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(ids, id_col, "left_semi")
        .select(id_col, word_shingles(text_col, 2).alias("shingles"))
        .localCheckpoint()
    )
    sizes = sh.select(id_col, F.array_size("shingles").alias("n_sh"))
    exploded = sh.select(id_col, F.explode("shingles").alias("shingle"))

    p = pairs.select("id_a", "id_b")
    ea = exploded.select(F.col(id_col).alias("id_a"), "shingle")
    eb = exploded.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        p.join(ea, "id_a")
        .join(eb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    a_sz = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    b_sz = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    common = F.coalesce(F.col("n_common"), F.lit(0))
    # try_divide: both-empty pair → NULL (not an ANSI divide-by-zero
    # error), mirroring jaccard_on_adjacent_pairs
    jac = F.try_divide(common.cast("double"), F.col("n_a") + F.col("n_b") - common)
    return (
        p.join(inter, ["id_a", "id_b"], "left")
        .join(a_sz, "id_a")
        .join(b_sz, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def near_dup_pipeline(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 8,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int = 50,
) -> DataFrame:
    """The full near-dedup pipeline in one call:
    MinHash → LSH bands → candidate pairs within buckets (bucket-min
    star pairs, capped at max_bucket_size to bound the quadratic stage) →
    Jaccard verify → (id_a, id_b, jaccard, is_near_dup).

    Every stage is linear except the in-bucket pairing, which is bounded
    by construction — the composition that runs at 100 TB.

    Diamond-DAG treatment (audited: the naive composition scanned the
    corpus 8×, now 3): the candidate pair set — answer-sized by the
    max_bucket_size cap — is pinned with ``localCheckpoint`` before the
    verify stage's four branches re-read it, and the verify stage
    restricts + pins shingles to the surviving pair ids (see
    ``jaccard_on_pairs``), cutting the four re-shingle passes to one
    bounded one. Bucket stats deliberately stay the groupBy+join form,
    which re-evaluates the minhash lineage once more (the 3rd scan): the
    window formulation saves that scan but BUFFERS each bucket partition
    in WindowExec — a degenerate hot bucket (all empty docs sharing one
    signature) becomes an OOM instead of a skew-split shuffle, the wrong
    trade at 100 TB. Partial aggregation + AQE skew handling keep the
    join form safe at any bucket distribution.

    ``bands`` is pinned before the stats-join diamond, so the two consumers
    (the groupBy stats and the sized join's probe side) read ONE
    materialized band table instead of each re-running the corpus scan +
    shingle explode + 8 md5s (3 corpus scans → 2). Band rows are metadata-sized
    (id, band_id, 16-byte band_key — never text), and localCheckpoint
    storage is MEMORY_AND_DISK, so the pin spills rather than OOMs on a
    large corpus; trading that for a full re-shingle pass is the §8
    lesson (decide on small rows, touch the heavy bytes once). Measured
    3.17 → 2.53 s on near_dup_pipeline at sf0.1 (quiet host, output
    equality asserted).
    """
    sigs = minhash_signatures(df, id_col, text_col, n_hashes=n_hashes)
    bands = lsh_bands(sigs, id_col, n_bands=n_bands).localCheckpoint()
    sized = bands.join(
        bands.groupBy("band_id", "band_key").agg(
            F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_min_id")
        ),
        ["band_id", "band_key"],
    ).where((F.col("_n") >= 2) & (F.col("_n") <= max_bucket_size))
    pairs = (
        sized.where(F.col(id_col) != F.col("_min_id"))
        .select(F.col("_min_id").alias("id_a"), F.col(id_col).alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    verified = jaccard_on_pairs(df, pairs, id_col, text_col)
    return verified.withColumn(
        "is_near_dup", F.when(F.col("jaccard") >= threshold, 1).otherwise(0)
    )

def dedup_clusters(
    membership: DataFrame,
    id_col: str,
    bucket_col: str,
    *,
    iterations: int = 3,
) -> DataFrame:
    """Connected components over the doc↔bucket bipartite graph via
    alternating min-label propagation: duplicate CLUSTERS, not just
    pairwise flags — the step that turns LSH candidate buckets into
    transitive duplicate groups (A~B in one bucket, B~C in another ⇒
    {A,B,C} is one cluster, keep one survivor).

    Per iteration: (1) each bucket takes the min label of its members,
    (2) each doc takes the min label over its buckets. Labels are
    monotone non-increasing; the min label propagates one bucket-hop per
    round, so ``iterations`` rounds yield the component min within that
    radius — a REFINEMENT of the true components (clusters only split,
    never over-merge: the safe direction for dedup, which errs toward
    keeping a document). Duplicate CHAINS longer than ``iterations``
    hops stay split; exact components come from
    ``operators/components.py::connected_components``. Each round is two shuffles (groupBy bucket,
    groupBy id) with map-side partial min — never an edge-pair
    materialization, which is what makes this the 100 TB shape.

    Returns (id_col, cluster_id) where cluster_id is the component's min
    doc id. Docs absent from ``membership`` are absent from the result
    (they are singletons by construction).

    The exact edge-list operator is ``operators/components.py::
    connected_components`` (large-star/small-star with a single-task
    union-find finish); this bipartite fixed-round form skips edge
    materialization entirely and unrolls to a deterministic plan an SQL
    oracle can replay CTE-for-CTE (queries/llm_ops.py::_clusters_sql).
    tests/test_components.py asserts the refinement invariant against
    the exact components (``near_dup_components``) on the real LSH graph.

    Diamond-DAG treatment (tools/audit_scans.py): ``membership`` feeds
    2×iterations+1 plan branches; without pinning, each branch
    re-evaluates the whole upstream lineage (minhash or hyperplane-LSH
    over the corpus — audited at 7-15 corpus scans per caller). One
    ``localCheckpoint`` of the narrow (id, bucket) relation makes every
    round read the same materialization — the standard posture before
    any iterative algorithm (values unchanged, so SQL-oracle replays
    are unaffected).
    """
    membership = membership.localCheckpoint()
    labels = (
        membership.select(id_col).distinct().withColumn("label", F.col(id_col))
    )
    for _ in range(iterations):
        bucket_min = (
            membership.join(labels, id_col)
            .groupBy(bucket_col)
            .agg(F.min("label").alias("bucket_label"))
        )
        labels = (
            membership.join(bucket_min, bucket_col)
            .groupBy(id_col)
            .agg(F.min("bucket_label").alias("label"))
        )
    return labels.select(id_col, F.col("label").alias("cluster_id"))


def prefix_filter_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs family) over n-word shingles.

    Guarantee (property-tested in tests/test_similarity_ops.py against a
    brute-force oracle): returns EXACTLY the pairs with shingle-set
    Jaccard >= threshold — zero false negatives, unlike the MinHash/LSH
    ladder above, whose recall is probabilistic. The pruning relies on
    the pigeonhole bound: two sets with J >= t must overlap within each
    other's (sz - ceil(t*sz) + 1) RAREST elements, so candidates are
    generated only from those prefix shingles, with the min >= t*max
    length filter applied at pair time. Exact Jaccard verifies
    survivors via doc-keyed joins over candidates only — never all
    pairs. The shared shingle and prefix relations are pinned
    (localCheckpoint) per the diamond-scan policy.

    Output: (doc_a, doc_b, jaccard DOUBLE), doc_a < doc_b.
    """
    from fitness_nutrition_data_pipeline_spark.operators.text import word_shingles

    from pyspark.sql.window import Window as W

    d = df.where(F.col(text_col).isNotNull())
    sh = d.select(
        F.col(id_col).alias("_id"), F.explode(word_shingles(text_col, n)).alias("gram")
    ).localCheckpoint()
    dfreq = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    sized = sh.join(dfreq, "gram").select(
        "_id",
        "gram",
        F.row_number().over(W.partitionBy("_id").orderBy("df", "gram")).alias("rnk"),
        F.count(F.lit(1)).over(W.partitionBy("_id")).alias("sz"),
    )
    pref = (
        sized.where(
            F.col("rnk") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        )
        .select("_id", "gram", "sz")
        .localCheckpoint()
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram")) & (F.col("a._id") < F.col("b._id")),
        )
        .where(
            F.least(F.col("a.sz"), F.col("b.sz"))
            >= F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    ta = sh.select(F.col("_id").alias("doc_a"), "gram")
    tb = sh.select(F.col("_id").alias("doc_b"), "gram")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_int"))
    )
    jac = F.lit(1.0) * F.col("n_int") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_int")
    )
    return inter.where(jac >= threshold).select(
        "doc_a", "doc_b", jac.alias("jaccard")
    )
