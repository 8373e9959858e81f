"""Round-11 analytics wave: interval algebra, reconciliation, dependency
profiling, information theory, time-series diagnostics, sliding
distinct, watermark replay, regression, and bitwise aggregation — query
families the registry had not yet exercised, each under the hard
value-hash oracle.

Float discipline (house rules): every many-row fold is an exact integer
sum (epoch micros, cents, counts); doubles appear only in FINAL
fixed-shape expressions over those exact sums (a fixed operation tree of
correctly-rounded IEEE ops is engine-deterministic — what is NOT
deterministic is float accumulation over shuffled rows, which never
happens here), rounded to 6 digits like the entropy/zipf precedents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


_DWELL_US = 600_000_000  # 10-minute dwell interval per event


@register(
    "interval_union_coverage",
    f"""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s_us,
             epoch_us(ts) + {_DWELL_US} AS e_us
      FROM events
    ),
    seg AS (
      SELECT user_id, s_us, e_us,
             max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_e
      FROM iv
    ),
    per_user AS (
      SELECT user_id,
             sum(greatest(e_us - greatest(s_us, coalesce(prev_e, s_us)), 0))
               AS covered_us
      FROM seg GROUP BY user_id
    )
    SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(covered_us) AS BIGINT) AS total_covered_us,
           CAST(max(covered_us) AS BIGINT) AS max_covered_us
    FROM per_user GROUP BY 1 ORDER BY 1
    """,
    sort=("bucket",),
    doc="Interval-union coverage (sweep-line): each event opens a "
    "10-minute dwell interval; per user, the UNION length of their "
    "overlapping intervals — the classic 'total active time' measure "
    "that naive sum-of-durations double-counts. One pass: a running "
    "max of interval ends over the per-user time order turns union "
    "length into sum(end - max(start, prev_max_end))+ — no interval "
    "self-join, no explosion to second grain. All windows are "
    "PARTITIONED by user; epoch-microsecond integers end to end. At "
    "100 TB this is one shuffle to user grain; the per-user sort is "
    "within-partition.",
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    iv = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(_DWELL_US)).alias("e_us"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seg = iv.withColumn("prev_e", F.max("e_us").over(w))
    per_user = seg.groupBy("user_id").agg(
        F.sum(
            F.greatest(
                F.col("e_us")
                - F.greatest(F.col("s_us"), F.coalesce("prev_e", "s_us")),
                F.lit(0),
            )
        ).alias("covered_us")
    )
    return (
        per_user.groupBy((F.col("user_id") % 8).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("covered_us").cast("long").alias("total_covered_us"),
            F.max("covered_us").cast("long").alias("max_covered_us"),
        )
    )


@register(
    "two_source_reconciliation",
    """
    WITH a AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 97 <> 0
    ),
    b AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT)
               + CASE WHEN o_orderkey % 31 = 0 THEN 7 ELSE 0 END AS cents
      FROM orders WHERE o_orderkey % 89 <> 0
    ),
    j AS (
      SELECT coalesce(a.k, b.k) AS k, a.cents AS ca, b.cents AS cb
      FROM a FULL OUTER JOIN b ON a.k = b.k
    )
    SELECT CASE WHEN ca IS NULL THEN 'b_only'
                WHEN cb IS NULL THEN 'a_only'
                WHEN ca = cb THEN 'match'
                ELSE 'mismatch' END AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                         THEN abs(ca - cb) ELSE 0 END) AS BIGINT)
             AS abs_diff_cents
    FROM j GROUP BY 1 ORDER BY 1
    """,
    sort=("status",),
    doc="Two-source reconciliation — the migration/mirror sign-off "
    "query: FULL OUTER join two snapshots of the same entity set on "
    "the business key and classify every key as match / value-mismatch "
    "/ left-only / right-only, with the total absolute money drift in "
    "exact cents. Sources are deterministic derivations of orders "
    "(drop every 97th key from A, every 89th from B, perturb every "
    "31st value in B by 7 cents) so the expected cell counts are "
    "data-defined. One co-keyed shuffle; the classification is a "
    "projection. The reference's table-vs-table count checks "
    "(validation.sql:16-46) generalized to row-grain value parity.",
)
def two_source_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    a = o.where(F.col("o_orderkey") % 97 != 0).select(
        F.col("o_orderkey").alias("k"), cents.alias("ca")
    )
    b = o.where(F.col("o_orderkey") % 89 != 0).select(
        F.col("o_orderkey").alias("k"),
        (
            cents
            + F.when(F.col("o_orderkey") % 31 == 0, F.lit(7)).otherwise(0)
        ).alias("cb"),
    )
    j = a.join(b, "k", "full_outer")
    status = (
        F.when(F.col("ca").isNull(), "b_only")
        .when(F.col("cb").isNull(), "a_only")
        .when(F.col("ca") == F.col("cb"), "match")
        .otherwise("mismatch")
    )
    return j.groupBy(status.alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                F.abs(F.col("ca") - F.col("cb")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("abs_diff_cents"),
    )


_FDS = (
    ("customer.c_name->c_custkey", "customer", "c_name", "c_custkey"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
    ("lineitem.l_orderkey->l_shipdate", "lineitem", "l_orderkey", "l_shipdate"),
    ("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
)


@register(
    "functional_dependency_audit",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS fd,
           CAST(count(*) AS BIGINT) AS n_lhs,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS violation_ppm
    FROM (SELECT {lhs}, count(DISTINCT {rhs}) AS nd
          FROM {tbl} GROUP BY {lhs})
    """
        for name, tbl, lhs, rhs in _FDS
    )
    + "\nORDER BY fd",
    sort=("fd",),
    doc="Functional-dependency audit — schema-discovery profiling: for "
    "each candidate FD lhs->rhs, the number of lhs groups whose rhs is "
    "not unique (FD violations), in exact ppm. c_name->c_custkey holds "
    "(names are synthesized from keys); the other three are genuinely "
    "violated, so the query proves both directions. Per FD: one "
    "map-side-partial distinct-count aggregate at lhs grain folded to "
    "a single row; the four FDs union. The PK/composite-PK checks "
    "(validation.sql) generalized to arbitrary column determinism.",
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, tbl, lhs, rhs in _FDS:
        g = (
            load_table(spark, sf_dir, tbl)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("nd"))
        )
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        outs.append(
            g.agg(
                F.lit(name).alias("fd"),
                F.count(F.lit(1)).cast("long").alias("n_lhs"),
                viol.cast("long").alias("n_violating"),
                F.expr(
                    "CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000"
                    " div count(*) AS BIGINT)"
                ).alias("violation_ppm"),
            )
        )
    out = outs[0]
    for more in outs[1:]:
        out = out.unionByName(more)
    return out


@register(
    "mutual_information_features",
    """
    WITH joint AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat, count(*) AS c
      FROM customer GROUP BY 1, 2
    ),
    mx AS (SELECT seg, sum(c) AS cx FROM joint GROUP BY seg),
    my AS (SELECT nat, sum(c) AS cy FROM joint GROUP BY nat),
    tot AS (SELECT sum(c) AS n FROM joint)
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(count(*) AS BIGINT) AS n_cells,
           round(CAST(sum((CAST(c AS DOUBLE) / n) *
                 ln((CAST(c AS DOUBLE) * n) / (CAST(cx AS DOUBLE) * cy))
                 ORDER BY seg, nat)
               AS DOUBLE), 6) AS mi_nats
    FROM joint
    JOIN mx USING (seg) JOIN my USING (nat) CROSS JOIN tot
    """,
    sort=("n_cells",),
    doc="Mutual information between two categorical features "
    "(mktsegment x nationkey) — the feature-redundancy / "
    "association-strength measure feature selection runs before "
    "training. Data folds ONCE to the joint-count grid (|segments| x "
    "|nations| <= 125 cells); marginals and MI fold over the grid, "
    "never the data. Counts are exact integers; the log expression is "
    "a fixed operation tree over them, and the float FOLD over the "
    "grid is ORDER-PINNED on both engines (Spark: single sorted "
    "partition before the agg; DuckDB: sum(... ORDER BY seg, nat)) so "
    "summation-order permutation can never move a value across the "
    "6-digit rounding boundary — the module discipline holds. One "
    "customer-grain shuffle; grid joins broadcast; the pinned fold "
    "runs on the <=125-cell grid, bounded by construction.",
)
def mutual_information_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the ≤125-cell joint grid feeds FOUR consumers (both marginals, the
    # total, the MI fold); unpinned, each re-ran the customer-grain scan
    # + shuffle (audited 4 customer scans — now 1). Answer-sized pin.
    joint = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint()
    )
    mx = joint.groupBy("seg").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("nat").agg(F.sum("c").alias("cy"))
    tot = joint.agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ratio = (F.col("c").cast("double") * F.col("n")) / (
        F.col("cx").cast("double") * F.col("cy")
    )
    return (
        joint.join(F.broadcast(mx), "seg")
        .join(F.broadcast(my), "nat")
        .crossJoin(F.broadcast(tot))
        .repartition(1)
        .sortWithinPartitions("seg", "nat")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.round(F.sum(p * F.log(ratio)), 6).alias("mi_nats"),
        )
    )


@register(
    "acf_daily_revenue",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100
               AS BIGINT) AS x
      FROM orders GROUP BY 1
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ),
    series AS (
      SELECT CAST(spine.d - bounds.d0 AS BIGINT) AS t,
             coalesce(daily.x, 0) AS x
      FROM spine CROSS JOIN bounds LEFT JOIN daily ON daily.d = spine.d
    ),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM series
    ),
    lagk AS (
      SELECT k.k,
             CAST(sum(cur.x * prv.x) AS BIGINT) AS sxy,
             CAST(sum(cur.x) AS BIGINT) AS sa,
             CAST(sum(prv.x) AS BIGINT) AS sb
      FROM (SELECT unnest(generate_series(1, 7)) AS k) k
      JOIN series cur ON cur.t >= k.k
      JOIN series prv ON prv.t = cur.t - k.k
      GROUP BY k.k
    )
    SELECT CAST(lagk.k AS BIGINT) AS lag,
           CAST(base.n AS BIGINT) AS n_days,
           round(CAST(
             (CAST(base.n AS DOUBLE) * CAST(base.n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(base.n AS DOUBLE) * CAST(base.s AS DOUBLE)
                * (CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE))
              + (CAST(base.n AS DOUBLE) - CAST(lagk.k AS DOUBLE))
                * CAST(base.s AS DOUBLE) * CAST(base.s AS DOUBLE))
             / (CAST(base.n AS DOUBLE)
                * (CAST(base.n AS DOUBLE) * CAST(base.sxx AS DOUBLE)
                   - CAST(base.s AS DOUBLE) * CAST(base.s AS DOUBLE)))
           AS DOUBLE), 6) AS acf
    FROM lagk CROSS JOIN base
    ORDER BY lag
    """,
    sort=("lag",),
    doc="Autocorrelation of the daily-revenue series at lags 1..7 — the "
    "seasonality diagnostic behind weekday_seasonality and "
    "seasonal_naive_backtest, computed EXACTLY: the series is the "
    "zero-filled date spine in whole dollars (integer); sums (S, "
    "S_xx, S_xy per lag, partial sums A/B) are exact integer folds, "
    "and ACF(k) = (n^2*Sxy - n*S*(A+B) + (n-k)*S^2) / (n*(n*Sxx - "
    "S^2)) — the mean never materializes as a rational, the whole "
    "ratio is ONE fixed double expression over exact integers (engine-"
    "deterministic), rounded to 6. The lag join runs on the DAY-grain "
    "relation (bounded by the date range) cross a 7-row lag spine — "
    "never on orders; orders fold once to day grain with map-side "
    "partials.",
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.expr(
                "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100"
                " AS BIGINT)"
            ).alias("x")
        )
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d"), "d0"
    )
    series = (
        spine.join(daily, "d", "left")
        .select(
            F.datediff("d", "d0").cast("long").alias("t"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    ).localCheckpoint()  # day-grain, bounded; reused by base + 7 lag joins
    base = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    ks = spark.range(1, 8).select(F.col("id").alias("k"))
    cur = series.alias("cur")
    prv = series.alias("prv")
    lagk = (
        F.broadcast(ks)
        .join(cur, F.col("cur.t") >= F.col("k"))
        .join(
            prv,
            F.col("prv.t") == F.col("cur.t") - F.col("k"),
        )
        .groupBy("k")
        .agg(
            F.sum(F.col("cur.x") * F.col("prv.x")).cast("long").alias("sxy"),
            F.sum(F.col("cur.x")).cast("long").alias("sa"),
            F.sum(F.col("prv.x")).cast("long").alias("sb"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        lagk.crossJoin(F.broadcast(base))
        .select(
            F.col("k").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            F.round(
                (
                    d("n") * d("n") * d("sxy")
                    - d("n") * d("s") * (d("sa") + d("sb"))
                    + (d("n") - d("k")) * d("s") * d("s")
                )
                / (d("n") * (d("n") * d("sxx") - d("s") * d("s"))),
                6,
            ).alias("acf"),
        )
    )


@register(
    "sliding_distinct_users_7d",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM ud),
    expand AS (
      SELECT DISTINCT ud.user_id, ud.d + CAST(o.o AS INTEGER) AS wend
      FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) o
    )
    SELECT CAST(expand.wend AS DATE) AS window_end,
           CAST(count(*) AS BIGINT) AS n_active_7d
    FROM expand CROSS JOIN bounds
    WHERE expand.wend BETWEEN bounds.d0 AND bounds.d1
    GROUP BY 1 ORDER BY 1
    """,
    sort=("window_end",),
    doc="Sliding-window distinct users (7-day active): for every day, "
    "the number of distinct users seen in the trailing week — the "
    "windowed-COUNT-DISTINCT that a range-frame window CANNOT compute "
    "distributively (distinct does not decompose over frames). The "
    "scalable identity: collapse to user-day grain, replicate each "
    "user-day to the <=7 window-ends it can serve, dedupe (user, "
    "window_end), count per window_end — |user-days| x 7 work, all "
    "keyed shuffles, no per-window re-scan. The dau_wau_stickiness "
    "companion at day grain.",
)
def sliding_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    bounds = ud.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    offs = spark.range(0, 7).select(F.col("id").cast("int").alias("o"))
    expand = (
        ud.crossJoin(F.broadcast(offs))
        .select("user_id", F.date_add("d", F.col("o")).alias("wend"))
        .distinct()
    )
    return (
        expand.crossJoin(F.broadcast(bounds))
        .where(F.col("wend").between(F.col("d0"), F.col("d1")))
        .groupBy(F.col("wend").alias("window_end"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active_7d"))
    )


_WM_DELAY_US = 600_000_000  # 10-minute watermark delay
_WM_BATCH = 1000  # arrival micro-batch size (event_id order = arrival order)


def watermark_tags(arr: DataFrame, delay_us: int = _WM_DELAY_US) -> DataFrame:
    """Tag each row of an arrival relation (``batch``, ``t_us``, + any
    carry-through columns) with the batch-boundary watermark outcome:
    ``dropped`` (event time below the watermark its batch faces — the
    engine's row-level late filter, as in streaming dropDuplicates) and
    ``late_ok`` (out-of-order but inside the allowed lateness). The
    watermark a batch faces is max(t_us) over all PRIOR batches minus
    ``delay_us`` — Spark updates the watermark at micro-batch
    boundaries, never mid-batch, so in-batch disorder cannot drop.
    tests/test_streaming.py proves parity against the actual engine."""
    bmax = arr.groupBy("batch").agg(F.max("t_us").alias("mx"))
    bwm = bmax.select(
        "batch",
        F.max("mx")
        .over(W.orderBy("batch").rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_mx"),
    )
    return arr.join(F.broadcast(bwm), "batch").withColumns(
        {
            "dropped": F.when(
                F.col("prev_mx").isNotNull()
                & (F.col("t_us") < F.col("prev_mx") - F.lit(delay_us)),
                1,
            ).otherwise(0),
            "late_ok": F.when(
                F.col("prev_mx").isNotNull()
                & (F.col("t_us") < F.col("prev_mx"))
                & (F.col("t_us") >= F.col("prev_mx") - F.lit(delay_us)),
                1,
            ).otherwise(0),
        }
    ).drop("prev_mx")


@register(
    "watermark_late_drop_replay",
    f"""
    WITH arr AS (
      SELECT event_id // {_WM_BATCH} AS batch, epoch_us(ts) AS t_us
      FROM events
    ),
    bmax AS (SELECT batch, max(t_us) AS mx FROM arr GROUP BY batch),
    bwm AS (
      SELECT batch,
             max(mx) OVER (ORDER BY batch
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_mx
      FROM bmax
    ),
    tagged AS (
      SELECT arr.t_us, bwm.prev_mx,
             CASE WHEN bwm.prev_mx IS NOT NULL
                       AND arr.t_us < bwm.prev_mx - {_WM_DELAY_US}
                  THEN 1 ELSE 0 END AS dropped,
             CASE WHEN bwm.prev_mx IS NOT NULL
                       AND arr.t_us < bwm.prev_mx
                       AND arr.t_us >= bwm.prev_mx - {_WM_DELAY_US}
                  THEN 1 ELSE 0 END AS late_ok
      FROM arr JOIN bwm USING (batch)
    )
    SELECT t_us // 3600000000 AS hour_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(dropped) AS BIGINT) AS n_dropped,
           CAST(sum(late_ok) AS BIGINT) AS n_late_accepted
    FROM tagged GROUP BY 1 ORDER BY 1
    """,
    sort=("hour_idx",),
    doc="Watermark accounting replayed in batch — Structured Streaming "
    "semantics made auditable: arrival order is event_id, micro-"
    "batches are 1000-arrival groups, and the watermark an event faces "
    "is max(event-time) over all PRIOR batches minus a 10-minute "
    "delay, exactly the batch-boundary watermark update of the "
    "streaming engine (in-batch disorder never drops, matching Spark). "
    "Events are tagged dropped / late-but-accepted and folded to "
    "hourly event-time windows. The arrival prefix-max runs on the "
    "BATCH-grain relation (|events|/1000, bounded), which then "
    "broadcast-joins back — no global per-row window. Companion "
    "evidence for the streaming/ extension's late-data handling "
    "(SURVEY §2.8), under the exact integer oracle.",
)
def watermark_late_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    arr = load_table(spark, sf_dir, "events").select(
        F.expr(f"event_id div {_WM_BATCH}").alias("batch"),
        F.unix_micros("ts").alias("t_us"),
    )
    tagged = watermark_tags(arr)
    return tagged.groupBy(
        F.expr("t_us div 3600000000").alias("hour_idx")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("dropped").cast("long").alias("n_dropped"),
        F.sum("late_ok").cast("long").alias("n_late_accepted"),
    )


@register(
    "regression_slope_by_group",
    """
    WITH pts AS (
      SELECT c.c_mktsegment AS seg,
             CAST(CAST(o.o_orderdate AS DATE) - DATE '1990-01-01' AS BIGINT)
               AS x,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    s AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY seg
    )
    SELECT seg, n AS n_orders,
           round(CAST(
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           AS DOUBLE), 6) AS slope_cents_per_day
    FROM s ORDER BY seg
    """,
    sort=("seg",),
    doc="Per-segment OLS trend (order value vs. order date): slope from "
    "the closed-form sufficient statistics (n, Sx, Sy, Sxy, Sxx) — "
    "regression as ONE keyed aggregate with map-side partials, the "
    "aggregate-only ML family beside stats_correlation (which shares "
    "the device for r). Sums are exact integer folds (epoch days x "
    "cents); the slope is a single fixed double expression over them, "
    "rounded to 6. Broadcast-joins customer for the segment; no "
    "per-group iteration, no matrix library.",
)
def regression_slope_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1990-01-01").cast("date"))
        .cast("long")
        .alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
    )
    s = pts.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    return s.select(
        "seg",
        F.col("n").alias("n_orders"),
        F.round(
            (d("n") * d("sxy") - d("sx") * d("sy"))
            / (d("n") * d("sxx") - d("sx") * d("sx")),
            6,
        ).alias("slope_cents_per_day"),
    )


@register(
    "weekday_bitmask_histogram",
    """
    WITH masks AS (
      SELECT user_id,
             bit_or(CAST(1 AS BIGINT) << (isodow(CAST(ts AS DATE)) - 1))
               AS mask
      FROM events GROUP BY user_id
    )
    SELECT CAST(mask AS BIGINT) AS mask,
           CAST(bit_count(mask) AS BIGINT) AS n_active_weekdays,
           CAST(count(*) AS BIGINT) AS n_users
    FROM masks GROUP BY mask ORDER BY mask
    """,
    sort=("mask",),
    doc="Weekday-activity bitmask histogram: each user's active "
    "weekdays fold into a 7-bit mask via bit_or(1 << weekday) — the "
    "bitwise aggregate family (roaring-bitmap-style presence encoding "
    "at its smallest), then the mask distribution with popcounts. "
    "Weekday convention pinned cross-engine: Spark weekday() (0=Mon) "
    "== DuckDB isodow-1. Two keyed aggregates, both with map-side "
    "partials; the histogram has <=128 rows by construction. The "
    "compact-presence-set primitive behind audience-overlap and "
    "retention queries at 100 TB.",
)
def weekday_bitmask_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    masks = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), weekday(CAST(ts AS DATE)))")
            ).alias("mask")
        )
    )
    return (
        masks.groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            "mask",
            F.bit_count("mask").cast("long").alias("n_active_weekdays"),
            "n_users",
        )
    )


@register(
    "weekday_adjusted_spikes",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(coalesce(value, 0) * 1000) AS BIGINT))
               AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    wk AS (
      SELECT event_type, isodow(d) - 1 AS w, d, x FROM daily
    ),
    wstat AS (
      SELECT event_type, w, CAST(count(*) AS BIGINT) AS nw,
             CAST(sum(x) AS BIGINT) AS sw
      FROM wk GROUP BY 1, 2
    )
    SELECT wk.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN wk.x * wstat.nw > 2 * wstat.sw
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_spikes_2x,
           CAST(max(CASE WHEN wstat.sw > 0 AND wk.x >= 0
                    THEN wk.x * 1000000 * wstat.nw // wstat.sw END)
             AS BIGINT) AS max_ratio_ppm
    FROM wk JOIN wstat ON wk.event_type = wstat.event_type
                      AND wk.w = wstat.w
    GROUP BY wk.event_type ORDER BY wk.event_type
    """,
    sort=("event_type",),
    doc="Seasonally-adjusted spike detection: a day is a spike when its "
    "value exceeds TWICE its weekday's mean for that event type — the "
    "weekday_seasonality x daily_anomaly composition that catches "
    "'high for a Sunday' where a raw threshold can't. The weekday mean "
    "never materializes as a rational: the test is the cross-"
    "multiplied integer comparison x*nw > 2*sw, and the reported peak "
    "ratio is integer-ppm division — exact end to end. Events fold "
    "once to (type, day) grain; weekday stats are a 7x|types| "
    "broadcast relation.",
)
def weekday_adjusted_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 1000)
                .cast("long")
            )
            .cast("long")
            .alias("x")
        )
    )
    wk = daily.withColumn("w", F.weekday("d"))
    wstat = wk.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).cast("long").alias("nw"),
        F.sum("x").cast("long").alias("sw"),
    )
    return (
        wk.join(F.broadcast(wstat), ["event_type", "w"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(
                F.when(F.col("x") * F.col("nw") > 2 * F.col("sw"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("n_spikes_2x"),
            # ratio only for sw > 0 AND x >= 0: Spark `div` truncates
            # toward zero while DuckDB `//` floors, so a negative day
            # sum (value is unconstrained DOUBLE) would hash-diverge;
            # a negative day is also never a spike ratio worth reporting
            F.max(
                F.when(
                    (F.col("sw") > 0) & (F.col("x") >= 0),
                    F.expr("x * 1000000 * nw div sw"),
                )
            )
            .cast("long")
            .alias("max_ratio_ppm"),
        )
    )


@register(
    "grouping_sets_distinct_users",
    """
    SELECT CAST(grouping(event_type) * 2 + grouping(d) AS BIGINT) AS gid,
           coalesce(event_type, '<all>') AS event_type,
           coalesce(CAST(d AS VARCHAR), '<all>') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events
    FROM (SELECT event_type, CAST(ts AS DATE) AS d, user_id FROM events)
    GROUP BY GROUPING SETS ((event_type), (d), ())
    ORDER BY gid, event_type, day
    """,
    sort=("gid", "event_type", "day"),
    doc="COUNT DISTINCT under GROUPING SETS — the multi-grain audience "
    "rollup (per type, per day, grand total) in ONE statement. "
    "Distinct-under-Expand is a genuinely different physical shape "
    "from grouping_sets_revenue's sums: the Expand replicates rows "
    "per grouping set, then the distinct aggregate dedupes (set, "
    "keys, user) before counting — two aggregate levels the optimizer "
    "plans as partial-distinct + final. grouping() disambiguates "
    "'<all>' labels from literal values; keys are coalesced so no "
    "NULL ordering crosses engines.",
)
def grouping_sets_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("d"), "user_id"
    )
    return spark.sql(
        """
        SELECT CAST(grouping(event_type) * 2 + grouping(d) AS BIGINT) AS gid,
               coalesce(event_type, '<all>') AS event_type,
               coalesce(CAST(d AS STRING), '<all>') AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(count(*) AS BIGINT) AS n_events
        FROM {ev}
        GROUP BY GROUPING SETS ((event_type), (d), ())
        """,
        ev=ev,
    )


@register(
    "churn_hazard_curve",
    """
    WITH tenure AS (
      SELECT user_id,
             CAST(max(CAST(ts AS DATE)) - min(CAST(ts AS DATE)) AS BIGINT)
               AS t
      FROM events GROUP BY user_id
    ),
    deaths AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_churned FROM tenure GROUP BY t
    ),
    curve AS (
      SELECT t, n_churned,
             sum(n_churned) OVER (ORDER BY t DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS n_at_risk
      FROM deaths
    )
    SELECT t AS tenure_day, n_churned,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_churned * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
    FROM curve ORDER BY tenure_day
    """,
    sort=("tenure_day",),
    doc="Discrete-time survival (Kaplan-Meier hazard): per user, tenure "
    "= days between first and last activity; hazard at day t = users "
    "whose observed lifetime ended at t over users who survived AT "
    "LEAST t — the churn-risk curve behind retention forecasting. "
    "Users fold once to tenure grain; the at-risk suffix sum runs over "
    "the COLLAPSED tenure histogram (bounded by the observation "
    "window in days), so no window touches user-grain data. Exact "
    "integer ppm.",
)
def churn_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tenure = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts")))
            .cast("long")
            .alias("t")
        )
    )
    deaths = tenure.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_churned")
    )
    curve = deaths.withColumn(
        "n_at_risk",
        F.sum("n_churned").over(
            W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return curve.select(
        F.col("t").alias("tenure_day"),
        "n_churned",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.expr("n_churned * 1000000 div n_at_risk")
        .cast("long")
        .alias("hazard_ppm"),
    )


@register(
    "shingle_containment_pairs",
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
           CAST(len(list_intersect(a.shingles, b.shingles)) AS BIGINT)
             AS n_common,
           CAST(CASE WHEN len(a.shingles) > 0
                THEN len(list_intersect(a.shingles, b.shingles)) * 1000000
                     // len(a.shingles) END AS BIGINT) AS contain_a_ppm,
           CAST(CASE WHEN len(b.shingles) > 0
                THEN len(list_intersect(a.shingles, b.shingles)) * 1000000
                     // len(b.shingles) END AS BIGINT) AS contain_b_ppm
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    WHERE len(list_intersect(a.shingles, b.shingles)) >= 1
    ORDER BY doc_id_a
    """,
    sort=("doc_id_a",),
    doc="ASYMMETRIC containment on candidate pairs — the near-dup "
    "measure Jaccard misses: a short doc fully quoted inside a long "
    "one has low Jaccard (union is large) but containment(A in B) ~ "
    "1. Reports |A∩B|/|A| and |A∩B|/|B| in exact integer ppm per "
    "adjacent-id candidate pair (at scale candidates come from LSH "
    "buckets, as with ngram_jaccard_pairs). Same array-carrying join "
    "shape as the Jaccard verify: N doc rows cross the shuffle with "
    "their distinct-shingle arrays, intersection is per-row.",
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.operators.dedup import word_shingles

    sh = load_table(spark, sf_dir, "documents").select(
        "doc_id", word_shingles("text", 2).alias("shingles")
    )
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    pairs = a.join(b, F.col("doc_id_b") == F.col("doc_id_a") + 1)
    common = F.array_size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.withColumn("n_common", common.cast("long"))
        .where(F.col("n_common") >= 1)
        .select(
            "doc_id_a",
            "doc_id_b",
            "n_common",
            F.when(
                F.array_size("sh_a") > 0,
                F.expr("n_common * 1000000 div array_size(sh_a)"),
            )
            .cast("long")
            .alias("contain_a_ppm"),
            F.when(
                F.array_size("sh_b") > 0,
                F.expr("n_common * 1000000 div array_size(sh_b)"),
            )
            .cast("long")
            .alias("contain_b_ppm"),
        )
    )


@register(
    "gini_split_gain",
    """
    WITH pts AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) // 10000 AS b,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    grain AS (
      SELECT b, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS p
      FROM pts GROUP BY b
    ),
    pre AS (
      SELECT b,
             sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS ln,
             sum(p) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS lp,
             sum(n) OVER () AS t, sum(p) OVER () AS tp
      FROM grain
    ),
    gains AS (
      SELECT b AS threshold_bucket,
             CAST(ln AS BIGINT) AS n_left,
             CAST(t - ln AS BIGINT) AS n_right,
             round(CAST(
               (1.0 - (CAST(tp AS DOUBLE) * tp + CAST(t - tp AS DOUBLE) * (t - tp))
                      / (CAST(t AS DOUBLE) * t))
               - (CAST(ln AS DOUBLE) / t)
                 * (1.0 - (CAST(lp AS DOUBLE) * lp
                           + CAST(ln - lp AS DOUBLE) * (ln - lp))
                          / (CAST(ln AS DOUBLE) * ln))
               - (CAST(t - ln AS DOUBLE) / t)
                 * (1.0 - (CAST(tp - lp AS DOUBLE) * (tp - lp)
                           + CAST((t - ln) - (tp - lp) AS DOUBLE)
                             * ((t - ln) - (tp - lp)))
                          / (CAST(t - ln AS DOUBLE) * (t - ln)))
             AS DOUBLE), 6) AS gini_gain
      FROM pre WHERE ln > 0 AND t - ln > 0
    )
    SELECT * FROM gains ORDER BY gini_gain DESC, threshold_bucket LIMIT 5
    """,
    sort=("threshold_bucket",),
    doc="Decision-tree split finding as AGGREGATION — the distributed "
    "tree-building primitive (the XGBoost/LightGBM histogram method): "
    "candidate thresholds are the $10k price buckets, and each "
    "threshold's Gini gain comes from PREFIX SUMS of (count, positives) "
    "over the collapsed bucket grain — never a per-threshold rescan of "
    "the data; orders fold once with map-side partials, the windows run "
    "on the bounded bucket relation. Gini terms are one fixed double "
    "expression over exact integer counts (engine-deterministic), "
    "rounded to 6; top-5 splits by gain with a pinned tie order. Label "
    "= order finalized ('F').",
)
def gini_split_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = load_table(spark, sf_dir, "orders").select(
        F.expr("CAST(round(o_totalprice) AS BIGINT) div 10000").alias("b"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    grain = pts.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    wcum = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    pre = grain.select(
        "b",
        F.sum("n").over(wcum).alias("ln"),
        F.sum("p").over(wcum).alias("lp"),
        F.sum("n").over(wall).alias("t"),
        F.sum("p").over(wall).alias("tp"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    rn = F.col("t") - F.col("ln")
    rp = F.col("tp") - F.col("lp")
    drn, drp = rn.cast("double"), rp.cast("double")
    parent = 1.0 - (d("tp") * F.col("tp") + (d("t") - d("tp")) * (F.col("t") - F.col("tp"))) / (d("t") * F.col("t"))
    left = (d("ln") / F.col("t")) * (
        1.0 - (d("lp") * F.col("lp") + (d("ln") - d("lp")) * (F.col("ln") - F.col("lp"))) / (d("ln") * F.col("ln"))
    )
    right = (drn / F.col("t")) * (
        1.0 - (drp * rp + (drn - drp) * (rn - rp)) / (drn * rn)
    )
    gains = (
        pre.where((F.col("ln") > 0) & (rn > 0))
        .select(
            F.col("b").alias("threshold_bucket"),
            F.col("ln").cast("long").alias("n_left"),
            rn.cast("long").alias("n_right"),
            F.round(parent - left - right, 6).alias("gini_gain"),
        )
    )
    return gains.orderBy(F.desc("gini_gain"), "threshold_bucket").limit(5)


@register(
    "wilson_interval_priorities",
    """
    WITH s AS (
      SELECT o_orderpriority AS priority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
               AS BIGINT) AS pos
      FROM orders GROUP BY 1
    )
    SELECT priority, n, pos,
           round(CAST(
             (CAST(pos AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545
                / (2.0 * n)
              - 1.9599639845400545
                * sqrt((CAST(pos AS DOUBLE) / n) * (1.0 - CAST(pos AS DOUBLE) / n) / n
                       + 1.9599639845400545 * 1.9599639845400545
                         / (4.0 * CAST(n AS DOUBLE) * n)))
             / (1.0 + 1.9599639845400545 * 1.9599639845400545 / n)
           AS DOUBLE), 6) AS wilson_lo,
           round(CAST(
             (CAST(pos AS DOUBLE) / n + 1.9599639845400545 * 1.9599639845400545
                / (2.0 * n)
              + 1.9599639845400545
                * sqrt((CAST(pos AS DOUBLE) / n) * (1.0 - CAST(pos AS DOUBLE) / n) / n
                       + 1.9599639845400545 * 1.9599639845400545
                         / (4.0 * CAST(n AS DOUBLE) * n)))
             / (1.0 + 1.9599639845400545 * 1.9599639845400545 / n)
           AS DOUBLE), 6) AS wilson_hi
    FROM s ORDER BY priority
    """,
    sort=("priority",),
    doc="Wilson 95% score interval for the finalized-order rate per "
    "priority class — the proportion CI that stays inside [0,1] at "
    "small n where the normal approximation fails; the ranking "
    "statistic behind 'sort by lower confidence bound' (Reddit-style "
    "scoring, A/B guardrails). One keyed aggregate to (n, pos); the "
    "interval is a fixed double expression over the two exact integers "
    "(sqrt is IEEE correctly-rounded, so both engines agree bit-for-"
    "bit), z pinned as the literal 1.9599639845400545. Rounded to 6.",
)
def wilson_interval_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "orders").groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    z = 1.9599639845400545
    p = F.col("pos").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    half = z * F.sqrt(p * (1.0 - p) / F.col("n") + z * z / (4.0 * nn * F.col("n")))
    center = p + z * z / (2.0 * F.col("n"))
    denom = 1.0 + z * z / F.col("n")
    return s.select(
        "priority",
        "n",
        "pos",
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )
