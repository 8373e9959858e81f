"""Data-profiling and range-join operators.

Profiling is the first pass any pipeline runs over a new 100 TB drop:
null rates, cardinalities, and value histograms decide partitioning and
quality gates before any transform runs. Both profile queries here are
single-scan: Spark computes every per-column statistic in one aggregate
pass and unpivots the 1-row result with ``stack`` — the oracle re-reads
per column, which is fine for DuckDB at sf0.01 but exactly the shape we
avoid Spark-side (N scans of a 100 TB table vs one).

The interval join demonstrates Spark's non-equi broadcast join: a tiny
windows table broadcast against the fact, each row range-tested in the
scan stage — no shuffle, no O(n×m) blowup beyond the broadcast loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.scratch import scratch_path
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


@register(
    "column_profile_orders",
    """
    SELECT 'o_custkey' AS col_name,
           count(*) - count(o_custkey) AS n_nulls,
           count(DISTINCT o_custkey) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority) FROM orders
    ORDER BY col_name
    """,
    sort=("col_name",),
    doc="Column profiling (null count + exact cardinality per column) in "
    "ONE scan: Spark computes all statistics in a single aggregate row "
    "and unpivots with stack(), where the naive form (the oracle) scans "
    "once per column — the difference between 1× and N× of a 100 TB read.",
)
def column_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}__distinct"))
    one_row = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `{c}__nulls`, `{c}__distinct`" for c in cols
    )
    return one_row.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_nulls, n_distinct)"
    )


@register(
    "price_histogram",
    """
    SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
           count(*) AS n_items,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS bucket_revenue
    FROM lineitem
    GROUP BY 1
    ORDER BY bucket
    """,
    sort=("bucket",),
    doc="Fixed-width value histogram of line-item price: floor-divide "
    "bucketing is a pure row-local map, so the only shuffle is the "
    "per-bucket aggregate (map-side partials make it a few dozen rows "
    "per task regardless of input size).",
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 10000).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("bucket_revenue"),
        )
    )


@register(
    "interval_range_join",
    """
    WITH windows(window_name, w_start, w_end) AS (
      VALUES ('1997-Q1-promo', TIMESTAMP '1997-01-01', TIMESTAMP '1997-01-15'),
             ('1997-Q2-promo', TIMESTAMP '1997-04-01', TIMESTAMP '1997-04-15'),
             ('1997-Q3-promo', TIMESTAMP '1997-07-01', TIMESTAMP '1997-07-15'),
             ('1997-Q4-promo', TIMESTAMP '1997-10-01', TIMESTAMP '1997-10-15')
    )
    SELECT w.window_name,
           count(*) AS n_shipments,
           round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2)
               AS window_revenue
    FROM lineitem l
    JOIN windows w ON l.l_shipdate >= w.w_start AND l.l_shipdate < w.w_end
    GROUP BY w.window_name
    ORDER BY window_name
    """,
    sort=("window_name",),
    doc="Interval (range) join: fact timestamps against a small table of "
    "[start, end) windows — a non-equi predicate, so Spark plans a "
    "broadcast nested-loop join; the windows side is rows-not-bytes tiny "
    "and the range test runs inside the scan stage, no shuffle. The "
    "pattern behind campaign attribution / maintenance-window tagging.",
)
def interval_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    windows = [
        ("1997-Q1-promo", "1997-01-01", "1997-01-15"),
        ("1997-Q2-promo", "1997-04-01", "1997-04-15"),
        ("1997-Q3-promo", "1997-07-01", "1997-07-15"),
        ("1997-Q4-promo", "1997-10-01", "1997-10-15"),
    ]
    w = li.sparkSession.createDataFrame(
        windows, "window_name string, w_start string, w_end string"
    ).select(
        "window_name",
        F.to_timestamp("w_start").alias("w_start"),
        F.to_timestamp("w_end").alias("w_end"),
    )
    return (
        li.join(
            F.broadcast(w),
            (li.l_shipdate >= w.w_start) & (li.l_shipdate < w.w_end),
        )
        .groupBy("window_name")
        .agg(
            F.count(F.lit(1)).alias("n_shipments"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("window_revenue"),
        )
    )


@register(
    "join_key_skew_profile",
    """
    WITH per_key AS (
      SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT count(*) AS n_keys,
             sum(n_rows) AS total_rows,
             CAST(max(n_rows) AS DOUBLE) /
               (CAST(sum(n_rows) AS DOUBLE) / count(*)) AS skew
      FROM per_key
    )
    SELECT p.user_id, p.n_rows,
           round(CAST(p.n_rows AS DOUBLE) / s.total_rows, 6) AS row_share,
           round(s.skew, 4) AS skew_factor,
           s.n_keys
    FROM per_key p CROSS JOIN stats s
    ORDER BY p.n_rows DESC, p.user_id
    LIMIT 10
    """,
    doc="Join-key skew diagnostic — the pre-flight check before any big "
    "shuffle join at 100 TB: per-key row counts (one map-side-combined "
    "shuffle), a 1-row global summary (broadcast back onto the top-k "
    "rows), and skew_factor = max/mean key frequency. skew_factor near "
    "1 clears the join for plain hash partitioning; a large value routes "
    "the named heavy keys to the salting of `skew_salted_join_audit` / AQE "
    "skew handling. Top-10 via TakeOrderedAndProject — no global sort of "
    "the key table.",
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
        (
            F.max("n_rows").cast("double")
            / (F.sum("n_rows").cast("double") / F.count(F.lit(1)))
        ).alias("skew"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("total_rows"), 6).alias(
                "row_share"
            ),
            F.round(F.col("skew"), 4).alias("skew_factor"),
            "n_keys",
        )
        .orderBy(F.desc("n_rows"), "user_id")
        .limit(10)
    )


@register(
    "selfjoin_blowup_estimate",
    """
    WITH per_key AS (
      SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey
    )
    SELECT count(*) AS n_keys,
           CAST(sum(n) AS BIGINT) AS total_rows,
           CAST(sum(n * n) AS BIGINT) AS predicted_pairs,
           CAST(max(n) AS BIGINT) AS max_key_rows,
           round(CAST(sum(n * n) AS DOUBLE) / sum(n), 4) AS avg_fanout
    FROM per_key
    """,
    doc="Pre-flight estimator for the quadratic term of a self-join on a "
    "blocking key (the candidate-pairing stage of every dedup family "
    "here): per-key counts in one map-side-combined shuffle, then "
    "sum(n^2) = exact output cardinality of the equi-self-join, plus the "
    "max single-key fan-out that decides `max_bucket_size` caps and "
    "salting. At 100 TB this one cheap aggregate is the difference "
    "between launching a pairing stage that finishes and one that "
    "explodes — estimate first, then pair.",
)
def selfjoin_blowup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.sum(F.col("n") * F.col("n")).alias("predicted_pairs"),
        F.max("n").alias("max_key_rows"),
        F.round(
            (F.sum(F.col("n") * F.col("n"))).cast("double") / F.sum("n"), 4
        ).alias("avg_fanout"),
    )


def _zorder_oracle() -> str:
    from fitness_nutrition_data_pipeline_spark.operators.layout import zvalue_sql

    z_expr = zvalue_sql("qx", "qy", bits=8)
    return f"""
    WITH base AS (
      SELECT o_custkey AS ck,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd
      FROM orders
    ),
    ext AS (SELECT min(ck) AS ck_lo, max(ck) AS ck_hi,
                   min(dd) AS dd_lo, max(dd) AS dd_hi FROM base),
    q AS (
      SELECT CASE WHEN ck_hi = ck_lo THEN 0
                  ELSE least(CAST(floor((ck - ck_lo) / (ck_hi - ck_lo) * 256)
                                  AS BIGINT), 255) END AS qx,
             CASE WHEN dd_hi = dd_lo THEN 0
                  ELSE least(CAST(floor((dd - dd_lo) / (dd_hi - dd_lo) * 256)
                                  AS BIGINT), 255) END AS qy
      FROM base, ext
    ),
    files AS (
      SELECT 'custkey_sorted' AS layout, qx AS file_id, qx, qy FROM q
      UNION ALL
      SELECT 'date_sorted' AS layout, qy AS file_id, qx, qy FROM q
      UNION ALL
      SELECT 'zorder' AS layout, ({z_expr}) >> 8 AS file_id, qx, qy FROM q
    ),
    spans AS (
      SELECT layout, file_id,
             max(qx) - min(qx) AS cust_span,
             max(qy) - min(qy) AS day_span
      FROM files GROUP BY layout, file_id
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_files,
           round(CAST(avg(cust_span) AS DOUBLE), 4) AS avg_cust_span,
           round(CAST(avg(day_span) AS DOUBLE), 4) AS avg_day_span
    FROM spans GROUP BY layout
    ORDER BY layout
    """


@register(
    "zorder_locality_stats",
    _zorder_oracle(),
    sort=("layout",),
    doc="Z-order (Morton curve) layout vs single-column sorts, measured "
    "as what min/max pruning actually sees: quantize (custkey, orderdate) "
    "onto a 256x256 grid, assign rows to 256 'files' under three layouts "
    "(custkey-sorted, date-sorted, bit-interleaved Z-order), and report "
    "each file's per-dimension value span — a file skips a filtered scan "
    "iff the predicate misses its span, so avg span ~ fraction of files "
    "a point query must read. Single-column sorts give span 0 on their "
    "own dimension and ~full range on the other; Z-order lands small on "
    "BOTH — the reason lakehouse formats cluster multi-filter tables on "
    "a space-filling curve. The curve key (operators/layout.py::zvalue) "
    "is pure integer shift/mask codegen; stats are one grouped agg over "
    "file grain.",
)
def zorder_locality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.layout import (
        quantize,
        zvalue,
    )

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dd"),
    )
    ext = base.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dd").alias("dd_lo"),
        F.max("dd").alias("dd_hi"),
    )
    q = base.crossJoin(F.broadcast(ext)).select(
        quantize(F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), 8).alias("qx"),
        quantize(F.col("dd"), F.col("dd_lo"), F.col("dd_hi"), 8).alias("qy"),
    )
    # one scan, not a 3-branch union (which would re-read the fact per
    # layout at scale): each row explodes into its 3 layout assignments —
    # a fixed 3x row expansion inside the same scan stage
    layout_structs = F.array(
        F.struct(
            F.lit("custkey_sorted").alias("layout"),
            F.col("qx").alias("file_id"),
        ),
        F.struct(
            F.lit("date_sorted").alias("layout"), F.col("qy").alias("file_id")
        ),
        F.struct(
            F.lit("zorder").alias("layout"),
            F.shiftright(zvalue(F.col("qx"), F.col("qy"), 8), 8).alias(
                "file_id"
            ),
        ),
    )
    layouts = q.select(F.explode(layout_structs).alias("lf"), "qx", "qy").select(
        F.col("lf.layout").alias("layout"),
        F.col("lf.file_id").alias("file_id"),
        "qx",
        "qy",
    )
    spans = layouts.groupBy("layout", "file_id").agg(
        (F.max("qx") - F.min("qx")).alias("cust_span"),
        (F.max("qy") - F.min("qy")).alias("day_span"),
    )
    return spans.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.round(F.avg("cust_span"), 4).alias("avg_cust_span"),
        F.round(F.avg("day_span"), 4).alias("avg_day_span"),
    )


def _zorder_write_oracle() -> str:
    from fitness_nutrition_data_pipeline_spark.operators.layout import zvalue_sql

    z_expr = zvalue_sql("qx", "qy", bits=8)
    return f"""
    WITH base AS (
      SELECT o_custkey AS ck,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS dd
      FROM orders
    ),
    ext AS (SELECT min(ck) AS ck_lo, max(ck) AS ck_hi,
                   min(dd) AS dd_lo, max(dd) AS dd_hi FROM base),
    q AS (
      SELECT CASE WHEN ck_hi = ck_lo THEN 0
                  ELSE least(CAST(floor((ck - ck_lo) / (ck_hi - ck_lo) * 256)
                                  AS BIGINT), 255) END AS qx,
             CASE WHEN dd_hi = dd_lo THEN 0
                  ELSE least(CAST(floor((dd - dd_lo) / (dd_hi - dd_lo) * 256)
                                  AS BIGINT), 255) END AS qy
      FROM base, ext
    )
    SELECT ({z_expr}) >> 12 AS band,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(qx) - min(qx) AS BIGINT) AS cust_span,
           CAST(max(qy) - min(qy) AS BIGINT) AS day_span
    FROM q
    GROUP BY 1
    ORDER BY band
    """


@register(
    "zorder_write_band_spans",
    _zorder_write_oracle(),
    sort=("band",),
    doc="The z-ordered WRITER (load.py::write_zordered) under the hard "
    "oracle: write orders' (custkey, orderdate-day) z-clustered into 16 "
    "deterministic key bands (band = top 4 bits of the 16-bit Morton "
    "key — a pure function of row values, unlike sampled "
    "repartitionByRange bounds), then READ THE FILES BACK and report "
    "each band's row count and per-dimension value span. The oracle "
    "recomputes the identical banding from the source relation, so a "
    "writer that dropped, duplicated or mis-banded a single row "
    "hash-fails — driver-visible proof the on-disk layout honors the "
    "clustering contract (zorder_locality_stats shows WHY the layout "
    "wins; this shows the writer DELIVERS it). Write cost is one "
    "shuffle on the band key; the readback aggregates file-grain data "
    "once.",
)
def zorder_write_band_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    from fitness_nutrition_data_pipeline_spark.load import write_zordered
    from fitness_nutrition_data_pipeline_spark.operators.layout import quantize

    # per-application scratch via the managed root (process isolation +
    # atexit cleanup); the per-SF tag keeps reruns within one session
    # stable across sf dirs
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = scratch_path(spark, tag, "zorder_orders")
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("dd"),
    )
    write_zordered(base, path, "ck", "dd", bits=8, bands=16)
    back = spark.read.parquet(path)
    ext = back.agg(
        F.min("ck").alias("ck_lo"),
        F.max("ck").alias("ck_hi"),
        F.min("dd").alias("dd_lo"),
        F.max("dd").alias("dd_hi"),
    )
    q = back.crossJoin(F.broadcast(ext)).select(
        F.col("_zband").cast("long").alias("band"),
        quantize(F.col("ck"), F.col("ck_lo"), F.col("ck_hi"), 8).alias("qx"),
        quantize(F.col("dd"), F.col("dd_lo"), F.col("dd_hi"), 8).alias("qy"),
    )
    return (
        q.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("qx") - F.min("qx")).cast("long").alias("cust_span"),
            (F.max("qy") - F.min("qy")).cast("long").alias("day_span"),
        )
        .orderBy("band")
    )
