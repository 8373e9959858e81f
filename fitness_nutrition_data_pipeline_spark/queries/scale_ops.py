"""Cluster-scale pipeline planning and corpus-shaping operators — the
queries an operator of a 100 TB training-data pipeline runs to SHAPE the
job, not just the data: shard assignment for a deterministic global
training order, temperature-scaled source mixing, small-file compaction
planning, vocabulary/OOV budgeting, length-gate survivorship curves,
snapshot row-diff CDC, an exact prefix-filtering set-similarity join
(the deterministic complement of the MinHash/LSH ladder), and two
join-shape stress queries (basket co-occurrence with an explicit
blow-up cap, and triangle counting with the ordered-edge orientation
that bounds the motif join).

Scale notes per query live on the registration docstrings; the common
theme: every curve/plan query aggregates the corpus FIRST (to a
histogram / per-group relation that is bounded by cardinality, not data
size) and only then joins the tiny parameter grid — never parameter-grid
× corpus.

Determinism/portability: hash routing is md5-based (`hash_bucket` —
identical hex in Spark and DuckDB); every float measure is rounded and
cast through DECIMAL so both engines emit bit-identical values (the
driver hashes at full precision); integral casts always round first
(Spark double→long truncates while DuckDB rounds — casting a rounded
value sidesteps the divergence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.queries.sampling import (
    _BUCKET_SQL,
    hash_bucket,
)
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "training_shard_assignment",
    f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             {_BUCKET_SQL.format(key="doc_id")} % 16 AS shard
      FROM documents
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
      FROM s
    )
    SELECT shard,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(max(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc
    FROM r
    GROUP BY shard
    ORDER BY shard
    """,
    sort=("shard",),
    doc="Deterministic global training order: every document is routed to "
    "a shard by content hash and ordered within the shard by a second "
    "hash — a reproducible corpus-wide shuffle with no rand() and no "
    "seed plumbing (re-runs and resumes see the same order). The "
    "within-shard sort is the one real cost and is embarrassingly "
    "parallel across shards: one hash-partition exchange, then each "
    "shard sorts independently (Spark would run this as "
    "repartition(shard).sortWithinPartitions at write time). The "
    "registered result folds each shard to a 1-row summary (count / "
    "checksum / head-of-order), so the verified relation stays "
    "shard-count-sized.",
)
def training_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        hash_bucket(F.col("doc_id"), 16).alias("shard"),
    )
    pos = F.row_number().over(W.partitionBy("shard").orderBy("h", "doc_id"))
    return (
        d.withColumn("pos", pos)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
            F.sum("n_chars").alias("total_chars"),
            F.max(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("first_doc"),
        )
    )


@register(
    "source_temperature_mix",
    """
    WITH c AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs,
             CAST(round(pow(n_docs, 0.7) * 1000000) AS BIGINT) AS weight_ppm
      FROM c
    ),
    t AS (SELECT CAST(sum(weight_ppm) AS BIGINT) AS tot FROM w)
    SELECT w.source, w.n_docs, w.weight_ppm,
           CAST(CAST(round(1.0 * w.weight_ppm / t.tot, 6) AS DECIMAL(18, 6))
                AS DOUBLE) AS mix_share,
           CAST(round(100000.0 * w.weight_ppm / t.tot) AS BIGINT)
             AS docs_per_100k
    FROM w CROSS JOIN t
    ORDER BY source
    """,
    sort=("source",),
    doc="Temperature-scaled source mixing (weight ∝ count^0.7, the "
    "multilingual-rebalancing exponent): up-weights small sources "
    "relative to proportional sampling. Float discipline: the raw "
    "pow() weight is immediately quantized to an integer ppm weight, "
    "so the normalizing sum is EXACT integer math on both engines — "
    "the only remaining float op is one two-integer division, which is "
    "correctly-rounded and engine-independent. Source-count-sized "
    "after one scan + tiny aggregate; the 1-row total broadcasts.",
)
def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = c.select(
        "source",
        "n_docs",
        F.round(F.pow(F.col("n_docs"), F.lit(0.7)) * 1000000)
        .cast("long")
        .alias("weight_ppm"),
    )
    tot = w.agg(F.sum("weight_ppm").cast("long").alias("tot"))
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "weight_ppm",
        F.round(F.lit(1.0) * F.col("weight_ppm") / F.col("tot"), 6)
        .cast("decimal(18,6)")
        .cast("double")
        .alias("mix_share"),
        F.round(F.lit(100000.0) * F.col("weight_ppm") / F.col("tot"))
        .cast("long")
        .alias("docs_per_100k"),
    )


@register(
    "compaction_plan",
    """
    WITH p AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS part_bytes
      FROM documents GROUP BY source
    )
    SELECT source, n_docs, part_bytes,
           CAST(ceil(1.0 * part_bytes / 4096) AS BIGINT) AS n_target_files,
           CAST(CAST(round(1.0 * part_bytes / ceil(1.0 * part_bytes / 4096),
                           1) AS DECIMAL(18, 1)) AS DOUBLE)
             AS avg_file_bytes,
           CAST(CAST(round(1.0 * n_docs / ceil(1.0 * part_bytes / 4096), 2)
                     AS DECIMAL(18, 2)) AS DOUBLE) AS compaction_ratio
    FROM p
    ORDER BY source
    """,
    sort=("source",),
    doc="Small-file compaction planner: per storage partition (source), "
    "the byte total → number of target-size output files (ceil of "
    "bytes/target) and the resulting files-merged-per-output ratio — "
    "the query behind an OPTIMIZE/rewrite job's task list. At 100 TB "
    "the input to the plan is partition-count-sized (catalog/agg "
    "metadata, one scan here only because the testdata has no file "
    "manifest), and the plan itself drives a repartition-by-range "
    "write sized so every output file lands on target.",
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("part_bytes"),
    )
    n_files = F.ceil(F.lit(1.0) * F.col("part_bytes") / 4096)
    return p.select(
        "source",
        "n_docs",
        "part_bytes",
        n_files.cast("long").alias("n_target_files"),
        F.round(F.lit(1.0) * F.col("part_bytes") / n_files, 1)
        .cast("decimal(18,1)")
        .cast("double")
        .alias("avg_file_bytes"),
        F.round(F.lit(1.0) * F.col("n_docs") / n_files, 2)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("compaction_ratio"),
    )


@register(
    "oov_rate_curve",
    r"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE text IS NOT NULL
    ),
    tc AS (SELECT tok, count(*) AS cnt FROM tok WHERE tok <> '' GROUP BY tok),
    r AS (
      SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM tc
    ),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens FROM tc)
    SELECT v.vocab_size,
           t.total_tokens,
           CAST(coalesce(sum(CASE WHEN r.rnk > v.vocab_size THEN r.cnt END), 0)
                AS BIGINT) AS oov_tokens,
           CAST(CAST(round(1.0 * coalesce(
                  sum(CASE WHEN r.rnk > v.vocab_size THEN r.cnt END), 0)
                / t.total_tokens, 6) AS DECIMAL(18, 6)) AS DOUBLE) AS oov_rate
    FROM r
    CROSS JOIN (VALUES (8), (16), (32), (64)) AS v(vocab_size)
    CROSS JOIN t
    GROUP BY v.vocab_size, t.total_tokens
    ORDER BY vocab_size
    """,
    sort=("vocab_size",),
    doc="Vocabulary budgeting: out-of-vocabulary token mass at several "
    "candidate vocab sizes (rank terms by corpus frequency, sum the "
    "tail past each cutoff) — the curve that picks a tokenizer vocab "
    "size. The corpus collapses to the term-frequency relation FIRST "
    "(vocab-sized, not corpus-sized), so the rank window and the "
    "4-row parameter grid join touch only the aggregate; the explode + "
    "count is one shuffle with map-side partial aggregation.",
)
def oov_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    # term-frequency relation feeds BOTH the rank window and the total —
    # pin it (vocab-sized) so the corpus explode+count runs once, not
    # twice (tools/audit_reuse.py diamond policy)
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint()
    r = tc.withColumn(
        "rnk", F.row_number().over(W.orderBy(F.desc("cnt"), F.asc("tok")))
    )
    t = tc.agg(F.sum("cnt").cast("long").alias("total_tokens"))
    sizes = spark.createDataFrame(
        [(8,), (16,), (32,), (64,)], "vocab_size int"
    )
    oov = F.coalesce(
        F.sum(F.when(F.col("rnk") > F.col("vocab_size"), F.col("cnt"))),
        F.lit(0),
    )
    return (
        r.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(t))
        .groupBy("vocab_size", "total_tokens")
        .agg(
            oov.cast("long").alias("oov_tokens"),
            F.round(F.lit(1.0) * oov / F.col("total_tokens"), 6)
            .cast("decimal(18,6)")
            .cast("double")
            .alias("oov_rate"),
        )
        .select("vocab_size", "total_tokens", "oov_tokens", "oov_rate")
    )


@register(
    "length_filter_survivorship",
    """
    WITH hist AS (
      SELECT n_chars, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY n_chars
    )
    SELECT g.min_len,
           CAST(coalesce(sum(CASE WHEN hist.n_chars >= g.min_len
                             THEN hist.n_docs END), 0) AS BIGINT) AS docs_kept,
           CAST(coalesce(sum(CASE WHEN hist.n_chars >= g.min_len
                             THEN hist.chars END), 0) AS BIGINT) AS chars_kept,
           CAST(CAST(round(100.0 * coalesce(
                        sum(CASE WHEN hist.n_chars >= g.min_len
                            THEN hist.n_docs END), 0)
                      / sum(hist.n_docs), 2) AS DECIMAL(18, 2)) AS DOUBLE)
             AS docs_kept_pct
    FROM hist
    CROSS JOIN (VALUES (64), (128), (256), (384), (512)) AS g(min_len)
    GROUP BY g.min_len
    ORDER BY min_len
    """,
    sort=("min_len",),
    doc="Quality-gate tuning curve: corpus survivorship (docs and bytes "
    "kept) at each candidate minimum-length cutoff. The corpus is "
    "folded to a length histogram first — bounded by DISTINCT lengths, "
    "not rows — and the 5-point threshold grid joins the histogram, "
    "never the corpus: the grid×corpus scan a naive UNION-per-threshold "
    "would cost is replaced by one scan + one tiny aggregate.",
)
def length_filter_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = load_table(spark, sf_dir, "documents").groupBy("n_chars").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    grid = spark.createDataFrame(
        [(64,), (128,), (256,), (384,), (512,)], "min_len int"
    )
    kept = F.col("n_chars") >= F.col("min_len")
    docs_kept = F.coalesce(F.sum(F.when(kept, F.col("n_docs"))), F.lit(0))
    return (
        hist.crossJoin(F.broadcast(grid))
        .groupBy("min_len")
        .agg(
            docs_kept.cast("long").alias("docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("chars"))), F.lit(0))
            .cast("long")
            .alias("chars_kept"),
            F.round(F.lit(100.0) * docs_kept / F.sum("n_docs"), 2)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("docs_kept_pct"),
        )
    )


@register(
    "copurchase_pairs_topk",
    """
    WITH sized AS (
      SELECT l_orderkey, l_partkey,
             count(*) OVER (PARTITION BY l_orderkey) AS basket_size
      FROM lineitem
    ),
    capped AS (SELECT l_orderkey, l_partkey FROM sized WHERE basket_size <= 20),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, count(*) AS n_baskets
    FROM pairs
    GROUP BY part_a, part_b
    ORDER BY n_baskets DESC, part_a, part_b
    LIMIT 20
    """,
    doc="Market-basket co-occurrence (top co-purchased part pairs). The "
    "pair generation is the classic quadratic blow-up, so it is "
    "explicitly CAPPED: baskets larger than 20 lines are excluded "
    "before pairing (the same bounded-quadratic discipline as "
    "near_dup_pipeline's max_bucket_size), which caps per-order work "
    "at C(20,2) regardless of data scale. The self-join keys both "
    "sides on l_orderkey — one hash exchange each, co-partitioned "
    "join, then a pair-keyed partial-agg count. Total order + LIMIT "
    "is the output contract.",
)
def copurchase_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sized = li.withColumn(
        "basket_size", F.count(F.lit(1)).over(W.partitionBy("l_orderkey"))
    )
    capped = sized.where(F.col("basket_size") <= 20).drop("basket_size")
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .orderBy(F.desc("n_baskets"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "snapshot_diff_cdc",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders
    ),
    old AS (
      SELECT o_orderkey,
             md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(cents AS VARCHAR) || '|' || o_orderstatus) AS row_hash
      FROM base WHERE o_orderkey % 10 <> 0
    ),
    new AS (
      SELECT o_orderkey,
             md5(CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(cents + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END
                      AS VARCHAR) || '|' || o_orderstatus) AS row_hash
      FROM base WHERE o_orderkey % 7 <> 0
    )
    SELECT CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                WHEN o.row_hash <> n.row_hash THEN 'update'
                ELSE 'unchanged' END AS change_type,
           count(*) AS n_rows,
           CAST(sum(coalesce(n.o_orderkey, o.o_orderkey)) AS BIGINT)
             AS key_checksum
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    GROUP BY 1
    ORDER BY change_type
    """,
    sort=("change_type",),
    doc="Snapshot row-diff CDC: two versions of a table (simulated from "
    "orders by key-mod deletion/insertion plus a price correction on "
    "every fifth key) are diffed into insert/delete/update/unchanged "
    "classes via a FULL OUTER join on the key and an md5 row-hash "
    "compare — the change-data-capture pass that turns nightly full "
    "snapshots into a delta feed. The row hash is built over EXACT "
    "integer cents (round(price*100)), never float text, so both "
    "engines hash identical bytes. At 100 TB both snapshots are "
    "bucketed on the key, making the diff a co-partitioned merge with "
    "zero shuffle; the hash compare keeps the wide columns out of the "
    "join payload (hash early, compare 32 bytes).",
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus",
    )

    def row_hash(cents_col):
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                cents_col.cast("string"),
                F.col("o_orderstatus"),
            )
        )

    old = base.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", row_hash(F.col("cents")).alias("row_hash")
    )
    corrected = F.col("cents") + F.when(
        F.col("o_orderkey") % 5 == 0, F.lit(100)
    ).otherwise(F.lit(0))
    new = base.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", row_hash(corrected).alias("row_hash")
    )
    o = old.alias("o")
    n = new.alias("n")
    change = (
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .when(F.col("o.row_hash") != F.col("n.row_hash"), "update")
        .otherwise("unchanged")
    )
    return (
        o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
        .groupBy(change.alias("change_type"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce(F.col("n.o_orderkey"), F.col("o.o_orderkey")))
            .cast("long")
            .alias("key_checksum"),
        )
    )


@register(
    "triangle_count_cooccurrence",
    """
    WITH ue AS (SELECT DISTINCT user_id, event_type FROM events),
    e AS (
      SELECT DISTINCT a.event_type AS src, b.event_type AS dst
      FROM ue a JOIN ue b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
    ),
    nodes AS (SELECT count(DISTINCT event_type) AS n_nodes FROM events),
    edges AS (SELECT count(*) AS n_edges FROM e),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT CAST(nodes.n_nodes AS BIGINT) AS n_nodes,
           CAST(edges.n_edges AS BIGINT) AS n_edges,
           CAST(tri.n_triangles AS BIGINT) AS n_triangles
    FROM nodes CROSS JOIN edges CROSS JOIN tri
    """,
    sort=("n_nodes",),
    doc="Triangle counting on the event-type co-occurrence graph (types "
    "linked when one user performs both) via the ordered-edge "
    "orientation: every undirected edge is stored once as src < dst "
    "and each triangle is counted exactly once as a<b<c — the "
    "orientation that makes the motif join linear in wedge count "
    "instead of 6× overcounted. The co-occurrence projection folds "
    "events to DISTINCT (user, type) first, so the pairing join's "
    "per-user fan-out is bounded by the type-alphabet size, not event "
    "volume; at real scale the same shape runs degree-ordered "
    "(orient edges low-degree → high-degree) to bound wedges per node.",
)
def triangle_count_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Pin the two shared relations: ue feeds both sides of the pairing
    # join plus the node count, e feeds three joins plus the edge count —
    # without the pins the plan re-derives each use from a fresh events
    # scan (audited by tools/audit_reuse.py). After the pins the corpus
    # is scanned exactly once; both pinned relations are DISTINCT
    # projections bounded by (users × type-alphabet) and (alphabet²).
    ue = ev.select("user_id", "event_type").distinct().localCheckpoint()
    a = ue.alias("a")
    b = ue.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .select(
            F.col("a.event_type").alias("src"), F.col("b.event_type").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = ue.agg(F.countDistinct("event_type").cast("long").alias("n_nodes"))
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return nodes.crossJoin(F.broadcast(edges)).crossJoin(F.broadcast(tri))


@register(
    "prefix_filter_simjoin",
    r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    ),
    dfreq AS (SELECT gram, count(*) AS df FROM sh GROUP BY gram),
    ord AS (
      SELECT s.doc_id, s.gram,
             row_number() OVER (PARTITION BY s.doc_id
                                ORDER BY d.df, s.gram) AS rnk,
             count(*) OVER (PARTITION BY s.doc_id) AS sz
      FROM sh s JOIN dfreq d USING (gram)
    ),
    pref AS (
      SELECT doc_id, gram, sz FROM ord
      WHERE rnk <= sz - ceil(0.5 * sz) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sz AS sz_a, b.sz AS sz_b
      FROM pref a JOIN pref b
        ON a.gram = b.gram AND a.doc_id < b.doc_id
      WHERE least(a.sz, b.sz) >= 0.5 * greatest(a.sz, b.sz)
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, c.sz_a, c.sz_b, count(*) AS n_int
      FROM cand c
      JOIN sh ta ON ta.doc_id = c.doc_a
      JOIN sh tb ON tb.doc_id = c.doc_b AND tb.gram = ta.gram
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(CAST(round(1.0 * n_int / (sz_a + sz_b - n_int), 4)
                     AS DECIMAL(18, 4)) AS DOUBLE) AS jaccard
    FROM inter
    WHERE 1.0 * n_int / (sz_a + sz_b - n_int) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    sort=("doc_a", "doc_b"),
    doc="EXACT set-similarity self-join via prefix filtering (the "
    "PPJoin/AllPairs family): two docs with 3-shingle Jaccard >= 0.5 "
    "MUST share at least one of each other's rarest (sz - ceil(t*sz) "
    "+ 1) shingles, so candidate generation joins only on those prefix "
    "shingles — plus the length filter min_sz >= t*max_sz — and exact "
    "Jaccard verifies survivors. Complements the MinHash/LSH ladder: "
    "zero false negatives (LSH is probabilistic) at the cost of a "
    "frequency-ordering pass. Shuffles: shingle explode+distinct, df "
    "agg on gram, one doc-keyed window pass, the prefix-gram candidate "
    "join (rarest-first ordering keeps per-gram buckets small on a "
    "heavy-tailed vocab), and a doc-keyed verify join over candidates "
    "only — never all pairs. Shared relations (shingles, prefixes) are "
    "pinned per the diamond policy.",
)
def prefix_filter_simjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.dedup import prefix_filter_join

    pairs = prefix_filter_join(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        F.round("jaccard", 4)
        .cast("decimal(18,4)")
        .cast("double")
        .alias("jaccard"),
    )


@register(
    "shard_manifest_checksums",
    f"""
    WITH s AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR)) AS order_h,
             md5(text) AS content_h,
             octet_length(encode(text)) AS n_bytes,
             {_BUCKET_SQL.format(key="doc_id")} % 16 AS shard
      FROM documents WHERE text IS NOT NULL
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY order_h, doc_id) AS pos
      FROM s
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           md5(string_agg(content_h, ',' ORDER BY pos)) AS manifest_md5
    FROM r GROUP BY shard
    ORDER BY shard
    """,
    sort=("shard",),
    doc="Reproducible shard MANIFESTS: the order-SENSITIVE companion to "
    "training_shard_assignment's order-insensitive sum checksums. Each "
    "shard's manifest_md5 hashes the concatenation of its documents' "
    "content hashes IN SHARD ORDER, so a resumed or re-run job proves "
    "not just 'same docs' but 'same docs in the same byte order' — the "
    "contract a training loader needs before trusting a resume point. "
    "Order-sensitivity under a shuffle-order-free engine comes from "
    "sort_array over (pos, hash) structs inside each shard's aggregate "
    "(plain collect_list order is partition-arrival nondeterministic); "
    "one hash-partition exchange, manifests are shard-count-sized.",
)
def shard_manifest_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull()).select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("order_h"),
        F.md5(F.col("text")).alias("content_h"),
        F.octet_length(F.col("text")).alias("n_bytes"),
        hash_bucket(F.col("doc_id"), 16).alias("shard"),
    )
    pos = F.row_number().over(W.partitionBy("shard").orderBy("order_h", "doc_id"))
    ordered_hashes = F.transform(
        F.sort_array(F.collect_list(F.struct("pos", "content_h"))),
        lambda s: s.content_h,
    )
    return (
        d.withColumn("pos", pos)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.md5(F.concat_ws(",", ordered_hashes)).alias("manifest_md5"),
        )
    )


@register(
    "cdc_merge_apply",
    """
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderstatus
      FROM orders WHERE o_orderkey % 10 != 0
    ),
    delta AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
             o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders
      WHERE o_orderkey % 10 = 0 OR o_orderkey % 5 = 0 OR o_orderkey % 7 = 0
    ),
    merged AS (
      SELECT coalesce(d.o_orderkey, b.o_orderkey) AS o_orderkey,
             coalesce(d.cents, b.cents) AS cents,
             coalesce(d.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
             CASE
               WHEN d.op = 'D' THEN 'deleted'
               WHEN d.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                 THEN 'updated'
               WHEN d.o_orderkey IS NOT NULL THEN 'inserted'
               ELSE 'kept'
             END AS action
      FROM base b FULL OUTER JOIN delta d USING (o_orderkey)
    )
    SELECT action,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN action != 'deleted' THEN cents ELSE 0 END)
                AS BIGINT) AS surviving_cents
    FROM merged GROUP BY action
    ORDER BY action
    """,
    sort=("action",),
    doc="MERGE INTO semantics (upsert + delete) as one FULL OUTER join "
    "— the apply step that consumes snapshot_diff_cdc's change feed: "
    "base rows without a delta survive, matched 'U' rows take the "
    "delta's values, unmatched delta rows insert, 'D' rows drop. The "
    "readout audits the merge by action with exact integer cents "
    "totals, the reconciliation a warehouse MERGE job logs. Both "
    "relations key on o_orderkey, so the merge is ONE co-partitioned "
    "shuffle join; at 100 TB the base side is the partitioned/bucketed "
    "table and the delta is orders-of-magnitude smaller — AQE "
    "broadcasts it when it fits, and lakehouse formats lower exactly "
    "this plan (find touched files via the join, rewrite them).",
)
def cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderstatus",
    )
    base = o.where(F.col("o_orderkey") % 10 != 0)
    delta = o.where(
        (F.col("o_orderkey") % 10 == 0)
        | (F.col("o_orderkey") % 5 == 0)
        | (F.col("o_orderkey") % 7 == 0)
    ).select(
        "o_orderkey",
        (
            F.col("cents")
            + F.when(F.col("o_orderkey") % 5 == 0, F.lit(100)).otherwise(
                F.lit(0)
            )
        ).alias("cents"),
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    b = base.alias("b")
    d = delta.alias("d")
    merged = b.join(d, "o_orderkey", "full_outer").select(
        F.coalesce(F.col("d.cents"), F.col("b.cents")).alias("cents"),
        F.when(F.col("d.op") == "D", F.lit("deleted"))
        .when(
            F.col("d.cents").isNotNull() & F.col("b.cents").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("d.cents").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("kept"))
        .alias("action"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col("action") != "deleted", F.col("cents")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("surviving_cents"),
        )
        .orderBy("action")
    )


@register(
    "skew_salted_join_audit",
    """
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(sum(e.event_id) AS BIGINT) AS event_id_checksum,
           CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
    sort=("c_mktsegment",),
    doc="Hot-key (salted) join, audited: the fact side (events, whose "
    "user_id domain is ~10x narrower than customer's key space — the "
    "skewed-fanout shape) takes a routing-only salt pmod(xxhash64("
    "event_id), 8); the dim side replicates each row across all 8 salts "
    "via explode(sequence); the join keys become (user_id, salt) so one "
    "hot user's rows spread over 8 reducers instead of one. The salt "
    "never reaches the output — the oracle is the PLAIN join aggregate, "
    "so the driver hash proves salting is semantics-preserving (every "
    "fact row meets exactly one replica of its dim row). The merge hint "
    "pins the shuffled-join path (a broadcast would hide the salt; at "
    "100 TB the dim is too big to broadcast — that is when salting "
    "matters), and tests/test_plans.py asserts salt is in the join keys "
    "with no BroadcastHashJoin. Complements AQE skew-split (which "
    "handles partition-level skew after stats exist): explicit salting "
    "is the plan-level fix when one KEY alone overflows an executor. "
    "value_cents uses floor(value*100) — IEEE-exact in both engines.",
)
def skew_salted_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_salt = 8
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("v_cents"),
            F.pmod(F.xxhash64("event_id"), F.lit(n_salt))
            .cast("int")
            .alias("salt"),
        )
        .alias("e")
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        .withColumn("salt", F.col("salt").cast("int"))
        .alias("c")
    )
    joined = ev.hint("merge").join(
        dim,
        (F.col("e.user_id") == F.col("c.c_custkey"))
        & (F.col("e.salt") == F.col("c.salt")),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.sum("event_id").cast("long").alias("event_id_checksum"),
            F.sum("v_cents").cast("long").alias("value_cents"),
        )
    )


@register(
    "association_rules_lift",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    sized AS (
      SELECT l_orderkey, l_partkey,
             count(*) OVER (PARTITION BY l_orderkey) AS basket_size
      FROM items
    ),
    capped AS (SELECT l_orderkey, l_partkey FROM sized WHERE basket_size <= 20),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM capped),
    item_cnt AS (SELECT l_partkey, count(*) AS ic FROM capped GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS pc
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    rules AS (
      SELECT pa AS antecedent, pb AS consequent, pc FROM pairs
      UNION ALL
      SELECT pb, pa, pc FROM pairs
    )
    SELECT r.antecedent, r.consequent, CAST(r.pc AS BIGINT) AS n_both,
           round(CAST(r.pc AS DOUBLE) / n.n_orders, 6) AS support,
           round(CAST(r.pc AS DOUBLE) / ca.ic, 6) AS confidence,
           round(CAST(r.pc AS DOUBLE) * n.n_orders / (ca.ic * cb.ic), 6) AS lift
    FROM rules r
    JOIN item_cnt ca ON ca.l_partkey = r.antecedent
    JOIN item_cnt cb ON cb.l_partkey = r.consequent
    CROSS JOIN n
    WHERE r.pc >= 3
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20
    """,
    doc="Association-rule mining over order baskets: support, confidence "
    "and lift for 2-item rules (both directions of each co-purchased "
    "pair), min co-occurrence 3, top-20 by lift. Extends "
    "copurchase_pairs_topk's capped pair generation (baskets > 20 lines "
    "excluded BEFORE pairing, bounding per-order work at C(20,2)) with "
    "the rule statistics a recommender pipeline actually consumes. "
    "Item counts join back by part key (two co-partitioned hash joins); "
    "the order total is a broadcast scalar. All ratios derive from "
    "exact integer counts, rounded to 6 digits, with a key tie-break, "
    "so both engines select the same top-20.",
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    sized = li.withColumn(
        "basket_size", F.count(F.lit(1)).over(W.partitionBy("l_orderkey"))
    )
    # capped feeds FOUR consumers (order total, item counts, both sides
    # of the pairing self-join); unpinned, each re-ran the lineitem scan
    # + distinct + basket window (audited 5 lineitem scans — the biggest
    # table — now 1). Two-long rows, the narrow-metadata pin class;
    # item_cnt (distinct parts, answer-sized) is read by both
    # rule directions and pinned for the same reason.
    capped = (
        sized.where(F.col("basket_size") <= 20)
        .drop("basket_size")
        .localCheckpoint()
    )
    n = capped.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item_cnt = (
        capped.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("ic"))
        .localCheckpoint()
    )
    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("pc"))
        .where(F.col("pc") >= 3)
    )
    # both rule directions EXPLODE from one pass over the pair relation:
    # a union of two projections re-plans (0 ReusedExchange, measured)
    # the whole distinct -> basket window -> self-join -> count chain
    # once per branch — the same recompute class fixed in
    # label_propagation_step, caught by the window reuse audit
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("antecedent"),
                    F.col("pb").alias("consequent"),
                ),
                F.struct(
                    F.col("pb").alias("antecedent"),
                    F.col("pa").alias("consequent"),
                ),
            )
        ).alias("r"),
        "pc",
    ).select("r.antecedent", "r.consequent", "pc")
    ca = item_cnt.select(F.col("l_partkey").alias("antecedent"), F.col("ic").alias("ca"))
    cb = item_cnt.select(F.col("l_partkey").alias("consequent"), F.col("ic").alias("cb"))
    return (
        rules.join(ca, "antecedent")
        .join(cb, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("pc").cast("long").alias("n_both"),
            F.round(F.col("pc").cast("double") / F.col("n_orders"), 6).alias("support"),
            F.round(F.col("pc").cast("double") / F.col("ca"), 6).alias("confidence"),
            F.round(
                F.col("pc").cast("double") * F.col("n_orders")
                / (F.col("ca") * F.col("cb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "antecedent", "consequent")
        .limit(20)
    )
