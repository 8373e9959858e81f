"""Graph ranking over the purchase graph — the iterative-algorithm family
beside label-propagation components (operators/components.py), k-means
(similarity.py) and PCA power iteration (llm_ops.py).

PageRank-style authority on the bipartite customer→supplier edge set
derived from orders ⋈ lineitem: a fixed, unrolled number of sparse
matrix-vector multiplies, each expressed as edge-join + groupBy-sum —
the exact shape GraphX/Pregel lowers to, with Catalyst handling the
distribution. Edges shuffle once per iteration on the join key; ranks
are node-grain vectors that stay broadcastable for realistic supplier
cardinalities (broadcast the rank vector, never the edge list).

Determinism: edge sets and degrees are exact integers; rank values are
float folds whose cross-engine drift is ~1e-15 relative per iteration —
two unrolled iterations rounded to 6 digits hash identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from fitness_nutrition_data_pipeline_spark.operators.kcore import kcore_peel
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

_DAMP = 0.85


@register(
    "supplier_authority_rank",
    f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    outdeg AS (SELECT c, count(*) AS d FROM edges GROUP BY c),
    -- iteration 1: every customer starts at rank 1.0
    auth1 AS (
      SELECT e.s, 1 - {_DAMP} + {_DAMP} * sum(1.0 / d) AS r
      FROM edges e JOIN outdeg USING (c)
      GROUP BY e.s
    ),
    -- push authority back to customers…
    indeg AS (SELECT s, count(*) AS d FROM edges GROUP BY s),
    cust2 AS (
      SELECT e.c, 1 - {_DAMP} + {_DAMP} * sum(a.r / i.d) AS r
      FROM edges e JOIN auth1 a USING (s) JOIN indeg i USING (s)
      GROUP BY e.c
    ),
    -- iteration 2: re-derive supplier authority from updated customers
    auth2 AS (
      SELECT e.s, 1 - {_DAMP} + {_DAMP} * sum(c2.r / o.d) AS r
      FROM edges e JOIN cust2 c2 USING (c) JOIN outdeg o USING (c)
      GROUP BY e.s
    )
    SELECT s AS s_suppkey,
           round(CAST(r AS DOUBLE), 6) AS authority,
           CAST((SELECT d FROM indeg WHERE indeg.s = auth2.s) AS BIGINT) AS n_customers
    FROM auth2
    ORDER BY s_suppkey
    """,
    doc="Two unrolled PageRank-style iterations on the customer→supplier "
    "purchase graph (damping 0.85): rank mass flows across the DISTINCT "
    "edge set normalized by degree, supplier→customer→supplier. Each "
    "iteration is one edge-join + keyed sum — the Pregel superstep as a "
    "DataFrame plan. Supplier-grain vectors (authority, indegree) carry "
    "broadcast hints — supplier cardinality is dim-like; customer-grain "
    "vectors deliberately don't (they grow with the data), so AQE picks "
    "the join strategy from runtime sizes.",
)
def supplier_authority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # edge list reused by every superstep — materialize once
    edges = edges.localCheckpoint()
    outdeg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    indeg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("d"))

    auth1 = (
        edges.join(outdeg, "c")
        .groupBy("s")
        .agg((1 - _DAMP + _DAMP * F.sum(1.0 / F.col("d"))).alias("r"))
    )
    cust2 = (
        edges.join(F.broadcast(auth1), "s")
        .join(F.broadcast(indeg.withColumnRenamed("d", "di")), "s")
        .groupBy("c")
        .agg((1 - _DAMP + _DAMP * F.sum(F.col("r") / F.col("di"))).alias("r"))
    )
    auth2 = (
        edges.join(cust2, "c")
        .join(outdeg.withColumnRenamed("d", "do"), "c")
        .groupBy("s")
        .agg((1 - _DAMP + _DAMP * F.sum(F.col("r") / F.col("do"))).alias("r"))
    )
    return (
        auth2.join(F.broadcast(indeg), "s")
        .select(
            F.col("s").alias("s_suppkey"),
            F.round(F.col("r"), 6).alias("authority"),
            F.col("d").cast("long").alias("n_customers"),
        )
        .orderBy("s_suppkey")
    )


def copurchase_edges(li: DataFrame, max_basket: int = 20) -> DataFrame:
    """Distinct oriented co-purchase edges, basket-capped BEFORE the
    self-join (copurchase_pairs_topk's guard): a b-item basket emits
    b^2 pairs, so one skewed mega-order would dominate the edge build
    at scale. TPC-H baskets are <= 7 lines, so the cap is a no-op on
    this data — it bounds the worst case, not the answer."""
    capped = li.withColumn(
        "basket_size", F.count(F.lit(1)).over(W.partitionBy("l_orderkey"))
    ).where(F.col("basket_size") <= max_basket)
    return (
        capped.alias("a")
        .join(
            capped.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )



@register(
    "khop_reach_parts",
    """
    WITH sized AS (
      SELECT l_orderkey, l_partkey,
             count(*) OVER (PARTITION BY l_orderkey) AS basket_size
      FROM lineitem
    ),
    capped AS (SELECT l_orderkey, l_partkey FROM sized WHERE basket_size <= 20),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    seeds AS (SELECT DISTINCT src AS seed FROM pairs WHERE src < 10),
    hop1 AS (
      SELECT DISTINCT s.seed, p.dst AS node
      FROM seeds s JOIN pairs p ON p.src = s.seed
    ),
    hop2 AS (
      SELECT DISTINCT h.seed, p.dst AS node
      FROM hop1 h JOIN pairs p ON p.src = h.node
      WHERE p.dst <> h.seed
    ),
    h1n AS (SELECT seed, count(*) AS n FROM hop1 GROUP BY seed),
    h2n AS (SELECT seed, count(*) AS n FROM hop2 GROUP BY seed),
    hnew AS (
      SELECT h2.seed, count(*) AS n
      FROM hop2 h2 LEFT JOIN hop1 h1
        ON h1.seed = h2.seed AND h1.node = h2.node
      WHERE h1.node IS NULL
      GROUP BY h2.seed
    )
    SELECT s.seed,
           CAST(coalesce(h1n.n, 0) AS BIGINT) AS n_hop1,
           CAST(coalesce(h2n.n, 0) AS BIGINT) AS n_hop2,
           CAST(coalesce(hnew.n, 0) AS BIGINT) AS n_hop2_new
    FROM seeds s
    LEFT JOIN h1n USING (seed)
    LEFT JOIN h2n USING (seed)
    LEFT JOIN hnew USING (seed)
    ORDER BY s.seed
    """,
    sort=("seed",),
    doc="k-hop neighborhood expansion (k=2) over the co-purchase part "
    "graph — the BFS-frontier join shape (GraphX/Pregel's superstep) "
    "that components/PageRank don't exercise: seed set -> 1-hop frontier "
    "-> 2-hop frontier, each hop one edge join + distinct, reporting "
    "reach plus the NEW nodes the second hop adds (frontier-minus-"
    "visited, the anti-join every BFS needs; the seed itself is "
    "excluded from hop2 at expansion time). Edges are distinct oriented "
    "co-purchase pairs co-keyed on l_orderkey (never a cartesian), "
    "basket-capped at 20 items before the self-join so a skewed "
    "mega-order can't go quadratic (a no-op on TPC-H's <=7-line "
    "orders), and pinned once for the three consumers; frontiers are "
    "answer-sized, so each superstep shuffles only the frontier — the "
    "property that keeps BFS feasible when the edge list is 100 TB and "
    "the frontiers are not.",
)
def khop_reach_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # the edge set feeds three joins (hop1, hop2, final counts) —
    # pin it so the co-purchase self-join runs once
    pairs = copurchase_edges(li).localCheckpoint()
    seeds = (
        pairs.where(F.col("src") < 10).select(F.col("src").alias("seed")).distinct()
    )
    hop1 = (
        F.broadcast(seeds)
        .join(pairs, F.col("seed") == F.col("src"))
        .select("seed", F.col("dst").alias("node"))
        .distinct()
    )
    hop2 = (
        hop1.join(pairs, F.col("node") == F.col("src"))
        .where(F.col("dst") != F.col("seed"))
        .select("seed", F.col("dst").alias("node"))
        .distinct()
    )
    h1n = hop1.groupBy("seed").agg(F.count(F.lit(1)).alias("n_hop1"))
    h2n = hop2.groupBy("seed").agg(F.count(F.lit(1)).alias("n_hop2"))
    hnew = (
        hop2.alias("h2")
        .join(
            hop1.alias("h1"),
            (F.col("h1.seed") == F.col("h2.seed"))
            & (F.col("h1.node") == F.col("h2.node")),
            "left_anti",
        )
        .groupBy("seed")
        .agg(F.count(F.lit(1)).alias("n_hop2_new"))
    )
    return (
        seeds.join(h1n, "seed", "left")
        .join(h2n, "seed", "left")
        .join(hnew, "seed", "left")
        .select(
            "seed",
            F.coalesce("n_hop1", F.lit(0)).cast("long").alias("n_hop1"),
            F.coalesce("n_hop2", F.lit(0)).cast("long").alias("n_hop2"),
            F.coalesce("n_hop2_new", F.lit(0)).cast("long").alias("n_hop2_new"),
        )
    )


_KCORE_K = 3
_EDGE_CTES = """
    sized AS (
      SELECT l_orderkey, l_partkey,
             count(*) OVER (PARTITION BY l_orderkey) AS basket_size
      FROM lineitem
    ),
    capped AS (SELECT l_orderkey, l_partkey FROM sized WHERE basket_size <= 20),
    pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )
"""


@register(
    "kcore_peel_audit",
    f"""
    WITH {_EDGE_CTES},
    deg0 AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
             FROM pairs GROUP BY src),
    keep1 AS (SELECT v FROM deg0 WHERE d >= {_KCORE_K}),
    e1 AS (
      SELECT p.src, p.dst FROM pairs p
      JOIN keep1 a ON a.v = p.src JOIN keep1 b ON b.v = p.dst
    ),
    deg1 AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
             FROM e1 GROUP BY src),
    keep2 AS (SELECT v FROM deg1 WHERE d >= {_KCORE_K}),
    e2 AS (
      SELECT p.src, p.dst FROM e1 p
      JOIN keep2 a ON a.v = p.src JOIN keep2 b ON b.v = p.dst
    ),
    deg2 AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
             FROM e2 GROUP BY src)
    SELECT * FROM (
      SELECT CAST(0 AS BIGINT) AS round,
             CAST(count(*) AS BIGINT) AS n_vertices,
             CAST(coalesce(sum(d), 0) AS BIGINT) AS n_directed_edges,
             CAST(coalesce(min(d), 0) AS BIGINT) AS min_degree,
             CAST(coalesce(max(d), 0) AS BIGINT) AS max_degree
      FROM deg0
      UNION ALL
      SELECT 1, CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(d), 0) AS BIGINT),
             CAST(coalesce(min(d), 0) AS BIGINT),
             CAST(coalesce(max(d), 0) AS BIGINT) FROM deg1
      UNION ALL
      SELECT 2, CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(d), 0) AS BIGINT),
             CAST(coalesce(min(d), 0) AS BIGINT),
             CAST(coalesce(max(d), 0) AS BIGINT) FROM deg2
    ) ORDER BY round
    """,
    sort=("round",),
    doc="Bounded-round k-core peel (k=3, two rounds) over the basket-"
    "capped co-purchase graph: each round drops vertices with degree "
    "< k and the edges touching them, reporting vertex/edge counts and "
    "the degree envelope per round — the shrinking-subgraph trace a "
    "true k-core computes to fixpoint. Per round the distributed cost "
    "is ONE degree aggregate plus one semi-join of the edge list "
    "against surviving vertices (edge list pinned once, the "
    "lsh_dedup_clusters bounded-iteration precedent); rounds converge "
    "in O(peeling depth). The bounded unroll keeps the oracle "
    "SQL-expressible; the loop-until-converged form (with durable "
    "parquet round-state instead of localCheckpoint — the 100 TB "
    "path) is operators/kcore.py::kcore_peel, convergence pinned by "
    "tests/test_kcore.py on graphs whose peeling depth exceeds this "
    "audit's unroll.",
)
def kcore_peel_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = copurchase_edges(li).localCheckpoint()
    stats = []
    for rnd in range(3):
        deg = edges.groupBy(F.col("src").alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
        stats.append(
            deg.agg(
                F.lit(rnd).cast("long").alias("round"),
                F.count(F.lit(1)).cast("long").alias("n_vertices"),
                F.coalesce(F.sum("d"), F.lit(0))
                .cast("long")
                .alias("n_directed_edges"),
                F.coalesce(F.min("d"), F.lit(0))
                .cast("long")
                .alias("min_degree"),
                F.coalesce(F.max("d"), F.lit(0))
                .cast("long")
                .alias("max_degree"),
            )
        )
        if rnd < 2:
            keep = deg.where(F.col("d") >= _KCORE_K).select("v")
            edges = (
                edges.join(
                    keep.withColumnRenamed("v", "src"), "src", "left_semi"
                )
                .join(keep.withColumnRenamed("v", "dst"), "dst", "left_semi")
                .localCheckpoint()
            )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def _kcore_fixpoint_oracle(k: int, unroll: int) -> str:
    """Unrolled-to-idempotence oracle for the FIXPOINT peel: ``unroll``
    rounds of (degree filter + two-sided semi-join), where unroll
    exceeds the peeling depth at every test SF (measured 4-5 for k=2;
    rounds past convergence are no-ops, so extra unrolls cannot change
    the answer — they PROVE convergence happened within the budget).
    peel_rounds counts the strict vertex-count drops between successive
    edge sets, which equals the number of dropping rounds the Spark
    loop executes."""
    # AS MATERIALIZED: each round references the previous round three
    # times (edges + both semi-join sides); inlined CTEs would expand
    # the scan tree 3^unroll-fold (DuckDB literally runs out of file
    # handles re-opening the parquet), materialization keeps it linear
    ctes = [
        "s0 AS MATERIALIZED (SELECT src, dst FROM pairs "
        "WHERE (src + dst + src * dst) % 37 = 0)"
    ]
    for i in range(unroll):
        ctes.append(
            f"d{i} AS MATERIALIZED "
            f"(SELECT src, count(*) AS d FROM s{i} GROUP BY src)"
        )
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT src FROM d{i} WHERE d >= {k})"
        )
        ctes.append(
            f"s{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM s{i} e "
            f"JOIN k{i} a ON a.src = e.src JOIN k{i} b ON b.src = e.dst)"
        )
    n = unroll
    ctes.append(
        f"d{n} AS MATERIALIZED "
        f"(SELECT src, count(*) AS d FROM s{n} GROUP BY src)"
    )
    drops = " + ".join(
        f"(CASE WHEN (SELECT count(DISTINCT src) FROM s{i}) > "
        f"(SELECT count(DISTINCT src) FROM s{i + 1}) THEN 1 ELSE 0 END)"
        for i in range(n)
    )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {_EDGE_CTES},
    {joined}
    SELECT
      CAST((SELECT count(DISTINCT src) FROM s{n}) AS BIGINT)
        AS n_core_vertices,
      CAST((SELECT count(*) FROM s{n}) AS BIGINT) AS n_core_edges,
      CAST(coalesce((SELECT min(d) FROM d{n}), 0) AS BIGINT)
        AS min_core_degree,
      CAST(coalesce((SELECT max(d) FROM d{n}), 0) AS BIGINT)
        AS max_core_degree,
      CAST({drops} AS BIGINT) AS peel_rounds
    """


@register(
    "kcore_fixpoint_audit",
    _kcore_fixpoint_oracle(k=2, unroll=7),
    sort=("peel_rounds",),
    doc="The loop-until-converged k-core (operators/kcore.py::kcore_peel"
    ") under the hard oracle: the co-purchase graph "
    "is sparsified by a SYMMETRIC deterministic filter ((src+dst+"
    "src*dst) % 37 — both orientations of an undirected edge live or "
    "die together, keeping out-degree == degree), then peeled to the "
    "2-core FIXPOINT with durable round-state semantics. The oracle "
    "unrolls 7 rounds — past the measured 4-5 round peeling depth at "
    "every SF — and extra rounds are idempotent, so the hash match "
    "proves BOTH the core (vertex/edge counts, degree envelope) and "
    "that convergence happened within the unroll budget; peel_rounds "
    "(strict vertex-count drops) pins the loop's round arithmetic. "
    "Per round the distributed cost is one map-side-partial degree "
    "aggregate, a two-long driver action, and two semi-joins — at "
    "100 TB rounds scale with peeling depth (graph degeneracy), "
    "never |V|.",
)
def kcore_fixpoint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    sparse = copurchase_edges(li).where(
        (F.col("src") + F.col("dst") + F.col("src") * F.col("dst")) % 37 == 0
    )
    core, rounds = kcore_peel(sparse, 2)
    deg = core.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_core_vertices"),
        F.coalesce(F.sum("d"), F.lit(0)).cast("long").alias("n_core_edges"),
        F.coalesce(F.min("d"), F.lit(0)).cast("long").alias("min_core_degree"),
        F.coalesce(F.max("d"), F.lit(0)).cast("long").alias("max_core_degree"),
    ).withColumn("peel_rounds", F.lit(rounds).cast("long"))


@register(
    "tree_subtree_cost_rollup",
    """
    WITH RECURSIVE anc(node, a) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION ALL
      SELECT node, a // 7 FROM anc WHERE a >= 7
    ),
    cost AS (
      SELECT p_partkey AS node,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM part
    )
    SELECT a AS node,
           CAST(count(*) AS BIGINT) AS n_desc,
           CAST(sum(cost.c) AS BIGINT) AS subtree_cost_cents
    FROM anc JOIN cost USING (node)
    WHERE a < 50
    GROUP BY a
    ORDER BY node
    """,
    sort=("node",),
    doc="Hierarchy (BOM-style) subtree rollup to VARIABLE depth: parts "
    "form a 7-ary forest (parent = key div 7), and each shallow node's "
    "subtree cost/count aggregates over ALL its descendants. The "
    "oracle is a genuine RECURSIVE CTE — the first in the registry — "
    "while the Spark side runs the loop-until-frontier-empty ancestor "
    "expansion (one join-free div per level, pinned per round, depth "
    "= log7(max key) — 4-5 levels here, discovered at runtime, not "
    "hard-coded), then one keyed aggregate over the ancestor-pair "
    "relation. The ancestor table is |V| x depth — linear in the "
    "data times tree height, never the transitive-closure square; "
    "costs go through DECIMAL cents. The kcore_fixpoint_audit "
    "companion for DAG-shaped (rather than degree-shaped) iteration.",
)
def tree_subtree_cost_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
    )
    return _subtree_rollup_loop(part)


def _subtree_rollup_loop(part: DataFrame) -> DataFrame:
    """Driver-loop ancestor expansion (shared by the registered query and
    the native-recursion parity test)."""
    level = part.select("node", F.col("node").alias("a")).localCheckpoint()
    levels = [level]
    while True:
        nxt = (
            level.where(F.col("a") >= 7)
            .select("node", F.expr("a DIV 7").alias("a"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        level = nxt
    anc = levels[0]
    for more in levels[1:]:
        anc = anc.unionByName(more)
    return (
        anc.join(part, "node")
        .where(F.col("a") < 50)
        .groupBy(F.col("a").alias("node"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_desc"),
            F.sum("c").cast("long").alias("subtree_cost_cents"),
        )
    )


@register(
    "tree_subtree_cost_rollup_native",
    """
    WITH RECURSIVE anc(node, a) AS (
      SELECT p_partkey, p_partkey FROM part
      UNION ALL
      SELECT node, a // 7 FROM anc WHERE a >= 7
    ),
    cost AS (
      SELECT p_partkey AS node,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM part
    )
    SELECT a AS node,
           CAST(count(*) AS BIGINT) AS n_desc,
           CAST(sum(cost.c) AS BIGINT) AS subtree_cost_cents
    FROM anc JOIN cost USING (node)
    WHERE a < 50
    GROUP BY a
    ORDER BY node
    """,
    sort=("node",),
    doc="ENGINE-NATIVE recursion: the same "
    "variable-depth subtree rollup as tree_subtree_cost_rollup, but the "
    "recursion runs INSIDE Spark SQL via WITH RECURSIVE (SPARK-24497, "
    "shipped in 4.x) instead of a driver loop — recursion as a single "
    "declarative plan (UnionLoop), no per-level localCheckpoint round "
    "trips. Both forms hash-match the same DuckDB RECURSIVE CTE oracle; "
    "tests/test_graph_ops.py pins loop==native equality. When to prefer "
    "which: the native form wins for moderate-depth hierarchies (one "
    "job, the optimizer sees the whole plan, per-level scheduling "
    "latency is engine-internal); the driver loop remains the 100 TB "
    "shape when per-round state must be durable parquet (executor-loss "
    "recovery, operators/kcore.py) or the loop body needs non-SQL steps. "
    "Reference analogue: validation.sql-class warehouse hierarchy "
    "queries (category -> subcategory rollups).",
)
def tree_subtree_cost_rollup_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c"),
    )
    return spark.sql(
        """
        WITH RECURSIVE anc(node, a) AS (
          SELECT node, node FROM {part}
          UNION ALL
          SELECT node, a DIV 7 FROM anc WHERE a >= 7
        )
        SELECT a AS node,
               CAST(count(*) AS BIGINT) AS n_desc,
               CAST(sum(c.c) AS BIGINT) AS subtree_cost_cents
        FROM anc JOIN {part} c USING (node)
        WHERE a < 50
        GROUP BY a
        """,
        part=part,
    )


@register(
    "label_propagation_step",
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
    halfedges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM capped a JOIN capped b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (
      SELECT u, v FROM halfedges UNION ALL SELECT v, u FROM halfedges
    ),
    votes AS (
      SELECT e.u AS node, p.p_brand AS nbr_label, count(*) AS c
      FROM edges e JOIN part p ON p.p_partkey = e.v
      GROUP BY 1, 2
    ),
    picked AS (
      SELECT node, nbr_label AS new_label
      FROM (
        SELECT node, nbr_label, c,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, nbr_label) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT po.p_brand AS old_label, pk.new_label,
           count(*) AS n_parts
    FROM picked pk JOIN part po ON po.p_partkey = pk.node
    GROUP BY 1, 2
    ORDER BY old_label, new_label
    """,
    sort=("old_label", "new_label"),
    doc="One synchronous label-propagation step over the co-purchase "
    "part graph: each part adopts the majority brand among its "
    "neighbors (deterministic tie-break: smallest label), reported as "
    "the (old_label -> new_label) transition matrix — the community-"
    "smoothing primitive behind LPA clustering, one step unrolled so "
    "the result is closed-form checkable. Edge generation reuses the "
    "capped-basket discipline (C(20,2) per order max); the majority "
    "vote is a (node, label) groupBy whose per-node window runs over "
    "at most |brands| = 25 rows — bounded grain, scale-safe. The "
    "brand lookup is a dimension join on part key (broadcastable "
    "whenever the dim fits; Catalyst/AQE decides from stats). The edge "
    "symmetrization is an EXPLODE of two (node, nbr_label) structs per "
    "unordered pair, not a union of two branch plans — a union re-plans "
    "(and re-computes: 0 ReusedExchange, measured) the whole "
    "distinct->window->self-join pair chain per branch, doubling the "
    "dominant cost; the explode streams both directions from ONE pass.",
)
def label_propagation_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sized = li.withColumn(
        "basket_size", F.count(F.lit(1)).over(W.partitionBy("l_orderkey"))
    )
    # the pairing self-join consumes capped TWICE; unpinned, both sides
    # re-ran the lineitem scan + distinct + basket window (the
    # association_rules_lift diamond — lineitem scans 2 → 1; the three
    # remaining part scans are pushdown dimension lookups, left alone)
    capped = (
        sized.where(F.col("basket_size") <= 20)
        .drop("basket_size")
        .localCheckpoint()
    )
    a = capped.alias("a")
    b = capped.alias("b")
    half = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    pu = part.select(F.col("p_partkey").alias("u"), F.col("p_brand").alias("brand_u"))
    pv = part.select(F.col("p_partkey").alias("v"), F.col("p_brand").alias("brand_v"))
    votes = (
        half.join(pu, "u")
        .join(pv, "v")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        F.col("brand_v").alias("nbr_label"),
                    ),
                    F.struct(
                        F.col("v").alias("node"),
                        F.col("brand_u").alias("nbr_label"),
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.node").alias("node"), F.col("e.nbr_label").alias("nbr_label"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = W.partitionBy("node").orderBy(F.desc("c"), "nbr_label")
    picked = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("node", F.col("nbr_label").alias("new_label"))
    )
    return (
        picked.join(part, picked["node"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("old_label"), "new_label")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("old_label", "new_label")
    )
