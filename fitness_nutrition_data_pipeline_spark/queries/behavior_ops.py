"""User-behavior analytics over the events stream — engagement, cadence,
anomaly, and cohort-conversion queries (the product-analytics companions
to sessionize_events / retention_cohorts / funnel_view_purchase).

Determinism: all counts are exact integers; timestamps are compared as
epoch micros (int64); value sums that cross engines go through DECIMAL;
ratios round to 6 digits. ``load_table`` pins the session to UTC so the
calendar agrees with the timezone-naive DuckDB oracle.

Scale shape: every query reduces the event stream to (day|user|cohort)
aggregates with map-side partials before any join; windows are either
partitioned by user/type or run over day-grain frames (bounded by the
calendar, not the data volume).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


def _ev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@register(
    "dau_wau_stickiness",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT du.user_id) AS wau
      FROM days d
      JOIN du ON du.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day, dau.dau AS dau, wau.wau AS wau,
           round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
    ORDER BY day
    """,
    doc="DAU / trailing-7-day WAU / stickiness per day. The stream first "
    "collapses to distinct (day,user) pairs — the only data-sized shuffle. "
    "The 7-day rolling DISTINCT (windows can't COUNT DISTINCT) then "
    "EXPLODES each pair into its 7 anchor days — a fixed 7× expansion, "
    "O(7·pairs) work — and re-distincts per anchor; a day-spine range "
    "join would be O(days·pairs), quadratic in history length. Anchors "
    "are clipped to observed days via a broadcast calendar-grain join.",
)
def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    # the distinct (day, user) relation feeds THREE branches (calendar
    # clip, DAU, anchor explode) — pinned so events scan once
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct().localCheckpoint()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    # each active (day,user) contributes to exactly the 7 anchors day..day+6
    anchored = du.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("anchor"),
        "user_id",
    )
    wau = (
        anchored.join(
            F.broadcast(days.withColumnRenamed("day", "anchor")), "anchor"
        )  # clip synthetic anchors beyond the observed calendar
        .groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.day == F.col("anchor"))
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "interarrival_gap_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           count(gap_us) AS n_gaps,
           round(avg(CAST(gap_us AS DOUBLE)) / 1e6, 3) AS avg_gap_s,
           round(CAST(max(gap_us) AS DOUBLE) / 1e6, 3) AS max_gap_s
    FROM gaps
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="Per-type event cadence: consecutive same-user inter-arrival gaps "
    "via a (user,type)-partitioned lag — partitions are per-user slices, "
    "so the window parallelizes; the rollup shuffles 5 rows. avg over "
    "exact int64 micros (both engines sum integers exactly, then divide).",
)
def interarrival_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.round(F.avg(F.col("gap_us").cast("double")) / 1e6, 3).alias("avg_gap_s"),
            F.round(F.max("gap_us").cast("double") / 1e6, 3).alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@register(
    "daily_anomaly_zscore",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(CAST(value AS DECIMAL(18,6))) AS total
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    ),
    scored AS (
      SELECT day, CAST(total AS DOUBLE) AS total,
             avg(CAST(total AS DOUBLE)) OVER w AS mu,
             stddev_samp(CAST(total AS DOUBLE)) OVER w AS sigma,
             count(*) OVER w AS n_window
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(day AS VARCHAR) AS day,
           round(total, 6) AS total,
           round(CAST((total - mu) / sigma AS DOUBLE), 4) + 0.0 AS z,
           CASE WHEN abs((total - mu) / sigma) > 2 THEN 1 ELSE 0 END AS is_anomaly
    FROM scored
    WHERE n_window >= 7 AND sigma > 0
    ORDER BY day
    """,
    doc="Trailing-window anomaly score on daily totals: each day's total "
    "vs the mean/std of the previous 7 days. Daily totals are DECIMAL "
    "sums (exact across engines); the trailing window runs over day-grain "
    "rows — calendar-bounded, one tiny task regardless of data volume.",
)
def daily_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total")
    )
    w = W.orderBy("day").rowsBetween(-7, -1)
    scored = daily.select(
        "day",
        F.col("total").cast("double").alias("total"),
        F.avg(F.col("total").cast("double")).over(w).alias("mu"),
        F.stddev_samp(F.col("total").cast("double")).over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_window"),
    )
    z = (F.col("total") - F.col("mu")) / F.col("sigma")
    return (
        scored.where((F.col("n_window") >= 7) & (F.col("sigma") > 0))
        .select(
            F.col("day").cast("string").alias("day"),
            F.round("total", 6).alias("total"),
            (F.round(z, 4) + 0.0).alias("z"),
            F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_anomaly"),
        )
        .orderBy("day")
    )


@register(
    "signup_conversion_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    ),
    cohorts AS (
      SELECT user_id, CAST(date_trunc('week', first_ts) AS DATE) AS cohort_week,
             first_ts
      FROM firsts
    ),
    converted AS (
      SELECT DISTINCT c.user_id
      FROM cohorts c
      JOIN events e ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.first_ts
    )
    SELECT CAST(cohort_week AS VARCHAR) AS cohort_week,
           count(*) AS n_users,
           CAST(sum(CASE WHEN cv.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_converted,
           round(CAST(sum(CASE WHEN cv.user_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS conversion_rate
    FROM cohorts
    LEFT JOIN converted cv ON cohorts.user_id = cv.user_id
    GROUP BY cohort_week
    ORDER BY cohort_week
    """,
    doc="Weekly first-touch cohorts → later-purchase conversion: min-ts "
    "per user (one shuffle, map-side partial), purchase check as a join "
    "back to the stream filtered to purchases, then a calendar-bounded "
    "rollup. All joins are user-grain equi-joins with NO broadcast hints "
    "— user tables grow with the data, so AQE picks the strategy from "
    "runtime sizes.",
)
def signup_conversion_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    # user-grain cohort anchors feed both the conversion join and the
    # final rollup — pinned so the firsts pass runs once
    cohorts = firsts.select(
        "user_id",
        F.date_trunc("week", "first_ts").cast("date").alias("cohort_week"),
        "first_ts",
    ).localCheckpoint()
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    converted = (
        cohorts.join(
            purchases,
            (F.col("user_id") == F.col("p_user")) & (F.col("p_ts") > F.col("first_ts")),
        )
        .select("user_id")
        .distinct()
        .withColumn("is_conv", F.lit(1))
    )
    return (
        cohorts.join(converted, "user_id", "left")
        .groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.coalesce(F.col("is_conv"), F.lit(0))).cast("long").alias("n_converted"),
            F.round(
                F.sum(F.coalesce(F.col("is_conv"), F.lit(0))).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("conversion_rate"),
        )
        .select(
            F.col("cohort_week").cast("string").alias("cohort_week"),
            "n_users",
            "n_converted",
            "conversion_rate",
        )
        .orderBy("cohort_week")
    )


@register(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, sum(n) AS row_n FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, p.n,
           round(CAST(p.n AS DOUBLE) / t.row_n, 6) AS p_transition
    FROM pairs p JOIN tot t ON p.from_type = t.from_type
    ORDER BY p.from_type, p.to_type
    """,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: lead() within a (user)-partitioned window pairs each "
    "event with its successor, then a type-pair rollup with row-"
    "normalized probabilities. The window parallelizes per user; the "
    "matrix is |types|^2 — output is constant-bounded regardless of "
    "volume.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        pairs.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("row_n"), 6).alias(
                "p_transition"
            ),
        )
        .orderBy("from_type", "to_type")
    )


@register(
    "strict_funnel_3step",
    """
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
      FROM events GROUP BY user_id
    ),
    step2 AS (
      SELECT e.user_id,
             min(epoch_us(e.ts)) AS t_click
      FROM events e JOIN per_user p ON p.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > p.t_view
      GROUP BY e.user_id
    ),
    step3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN step2 s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.t_click
      GROUP BY e.user_id
    )
    SELECT CAST(sum(CASE WHEN p.t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_viewed,
           CAST(count(s2.user_id) AS BIGINT) AS n_clicked_after_view,
           CAST(count(s3.user_id) AS BIGINT) AS n_purchased_after_click,
           round(CAST(count(s3.user_id) AS DOUBLE)
                 / sum(CASE WHEN p.t_view IS NOT NULL THEN 1 ELSE 0 END), 6)
               AS full_funnel_rate
    FROM per_user p
    LEFT JOIN step2 s2 ON s2.user_id = p.user_id
    LEFT JOIN step3 s3 ON s3.user_id = p.user_id
    """,
    doc="Strict ORDERED 3-step funnel (view → later click → later "
    "purchase): each step's anchor is the FIRST qualifying event after "
    "the previous step's anchor, so out-of-order events never count "
    "(funnel_view_purchase only tests unordered existence). Computed as "
    "chained per-user min-aggregations — two keyed joins on user_id, no "
    "window over the event stream, no self-join at event grain; the "
    "conversion denominator stays the step-1 cohort.",
)
def strict_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    # user-grain anchor tables feed 2 branches each (next step's join +
    # the final assembly) — pinned so the event scan runs once per STEP,
    # not once per branch (tools/audit_reuse.py: 6 scans -> 3; the three
    # remaining are the semantically-chained per-step passes)
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).alias("t_view"),
    ).localCheckpoint()
    step2 = (
        ev.where(F.col("event_type") == "click")
        .join(per_user.where(F.col("t_view").isNotNull()), "user_id")
        .where(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
        .localCheckpoint()
    )
    step3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(step2, "user_id")
        .where(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    return (
        per_user.join(step2.select("user_id", F.lit(1).alias("_s2")), "user_id", "left")
        .join(step3.select("user_id", F.lit(1).alias("_s3")), "user_id", "left")
        .agg(
            F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias(
                "n_viewed"
            ),
            F.count("_s2").alias("n_clicked_after_view"),
            F.count("_s3").alias("n_purchased_after_click"),
            F.round(
                F.count("_s3").cast("double")
                / F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)),
                6,
            ).alias("full_funnel_rate"),
        )
    )


@register(
    "event_type_cooccurrence",
    """
    WITH ut AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT count(DISTINCT user_id) AS n FROM events),
    singles AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           count(*) AS n_both,
           round(CAST(count(*) AS DOUBLE) / max(sa.n_t), 6) AS conf_a_to_b,
           round(CAST(count(*) AS DOUBLE) * max(u.n)
                 / (CAST(max(sa.n_t) AS DOUBLE) * max(sb.n_t)), 6) AS lift
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND b.event_type > a.event_type
    JOIN singles sa ON sa.event_type = a.event_type
    JOIN singles sb ON sb.event_type = b.event_type
    CROSS JOIN n_users u
    GROUP BY a.event_type, b.event_type
    ORDER BY type_a, type_b
    """,
    sort=("type_a", "type_b"),
    doc="Event-type co-occurrence (market-basket pairs at user grain): "
    "support, confidence, and lift for every unordered type pair — the "
    "association-mining primitive behind 'users who X also Y'. The pair "
    "join runs on DISTINCT (user, type) rows, so its width is bounded by "
    "|types| per user (≤5 here) — |types|²/2 pairs per user, never "
    "event-grain quadratic; singles and the user count broadcast back "
    "onto a |types|²-bounded aggregate.",
)
def event_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    # the distinct (user, type) relation feeds FOUR branches (marginals,
    # both self-join sides, the user count) — pinned so events scan once
    # (tools/audit_reuse.py: 5 scans -> 1); n_users derives from ut
    # (every user in events appears in ut)
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint()
    n_users = ut.agg(F.countDistinct("user_id").alias("n"))
    singles = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = a.join(b, "user_id").where(F.col("type_b") > F.col("type_a"))
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("n_a"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(
                F.col("n_both").cast("double")
                * F.col("n")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "attribution_batch_replay",
    """
    WITH v AS (
      SELECT user_id, ts AS view_ts, event_id AS view_id
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id, v.view_ts, p.purchase_ts, v.view_id, p.purchase_id,
           CAST(floor(epoch(p.purchase_ts)) AS BIGINT)
             - CAST(floor(epoch(v.view_ts)) AS BIGINT) AS lag_seconds
    FROM v JOIN p ON p.user_id = v.user_id
      AND p.purchase_ts >= v.view_ts
      AND p.purchase_ts <= v.view_ts + INTERVAL 1 HOUR
    ORDER BY view_id, purchase_id
    """,
    sort=("view_id", "purchase_id"),
    doc="Batch replay of the STREAMING attribution join "
    "(streaming/joins.py::stream_stream_attribution): the identical "
    "function runs on batch inputs (withWatermark no-ops; the equi+range "
    "join is a plain range join) under the DuckDB oracle — so the "
    "stream-stream join's pairing logic is driver-checked even though "
    "the harness has no streaming surface. In the live form the same "
    "two bounds that define attribution also bound the join state.",
)
def attribution_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.streaming.joins import (
        stream_stream_attribution,
    )

    ev = _ev(spark, sf_dir)
    views = ev.where(F.col("event_type") == "view")
    purchases = ev.where(F.col("event_type") == "purchase")
    return stream_stream_attribution(views, purchases)


def _peak_oracle() -> str:
    from fitness_nutrition_data_pipeline_spark.queries.relational import (
        SESSIONIZE_SQL_CTES,
    )

    return f"""
    WITH {SESSIONIZE_SQL_CTES},
    bounds AS (
      SELECT user_id, session_no,
             min(ts_us) // 60000000 AS start_m,
             max(ts_us) // 60000000 AS end_m
      FROM sess GROUP BY user_id, session_no
    ),
    mc AS (
      SELECT m, count(*) AS c FROM (
        SELECT unnest(range(start_m, end_m + 1)) AS m FROM bounds)
      GROUP BY m
    ),
    mcd AS (
      SELECT m, c, CAST(make_timestamp(m * 60000000) AS DATE) AS day FROM mc
    ),
    pk AS (SELECT day, max(c) AS peak FROM mcd GROUP BY day)
    SELECT CAST(mcd.day AS VARCHAR) AS day,
           CAST(pk.peak AS BIGINT) AS peak_concurrency,
           CAST(min(mcd.m) % 1440 AS BIGINT) AS first_peak_minute
    FROM mcd JOIN pk ON pk.day = mcd.day AND mcd.c = pk.peak
    GROUP BY mcd.day, pk.peak
    ORDER BY day
    """


@register(
    "concurrent_sessions_peak",
    _peak_oracle(),
    sort=("day",),
    doc="Peak concurrent sessions per day — the interval-stabbing sweep "
    "reformulated for bounded explode: 30-min-gap sessions reduce to "
    "(start, end) minute bounds, each session explodes to its covered "
    "minutes (bounded: the gap rule adds at most 30 minutes per event, "
    "so minute rows are <= 30x events — the dau_wau 7x-explode pattern, "
    "never a time-ordered global cumulative sum over raw events), and "
    "concurrency is a count per epoch-minute. The per-day argmax runs "
    "over minute-grain rows (<=1440/day, value grain); ties resolve to "
    "the earliest minute. One user-keyed shuffle (sessionize), one "
    "minute-keyed shuffle (concurrency), one day-partitioned window.",
)
def concurrent_sessions_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.queries.relational import (
        sessionized,
    )

    ev = _ev(spark, sf_dir)
    sess = sessionized(ev)
    bounds = sess.groupBy("user_id", "session_no").agg(
        F.expr("min(ts_us) div 60000000").alias("start_m"),
        F.expr("max(ts_us) div 60000000").alias("end_m"),
    )
    mc = (
        bounds.select(
            F.explode(F.sequence("start_m", "end_m")).alias("m")
        )
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mcd = mc.withColumn(
        "day", F.to_date(F.timestamp_micros(F.col("m") * 60000000))
    )
    # per-day argmax as a window over minute-grain rows (<=1440/day) —
    # the aggregate-then-join form recomputes the whole sessionize
    # pipeline for the peak lookup (audited: 2 event scans -> 1)
    peak = F.max("c").over(W.partitionBy("day"))
    return (
        mcd.withColumn("peak", peak)
        .where(F.col("c") == F.col("peak"))
        .groupBy(F.col("day").cast("string").alias("day"), "peak")
        .agg((F.min("m") % 1440).cast("long").alias("first_peak_minute"))
        .select(
            "day",
            F.col("peak").cast("long").alias("peak_concurrency"),
            "first_peak_minute",
        )
    )


@register(
    "ewma_daily_value",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, avg(value) AS x
      FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    idx AS (
      SELECT day, x,
             row_number() OVER (ORDER BY day) AS t
      FROM daily
    )
    SELECT CAST(a.day AS VARCHAR) AS day,
           round(CAST(a.x AS DOUBLE), 6) AS daily_avg,
           round(CAST(sum(b.x * power(0.7, a.t - b.t))
                      / sum(power(0.7, a.t - b.t)) AS DOUBLE), 6) AS ewma
    FROM idx a JOIN idx b ON b.t <= a.t
    GROUP BY a.day, a.x
    ORDER BY day
    """,
    sort=("day",),
    doc="Adjusted exponentially-weighted moving average (alpha = 0.3) of "
    "the daily mean event value — the smoothing curve behind most "
    "monitoring dashboards, here in closed form: ewma_t = sum(0.7^(t-i) "
    "x_i) / sum(0.7^(t-i)) over the day spine. The recursion is "
    "eliminated by a day-grain triangle join (calendar x calendar, "
    "bounded by days-in-window, never data grain), so there is no "
    "sequential dependency to schedule — the event stream itself reduces "
    "to daily means in one map-side-combined shuffle first. The "
    "unpartitioned row_number runs over day-grain rows only.",
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).where(F.col("value").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.avg("value").alias("x")
    )
    # day-grain global window: bounded by the calendar, documented safe.
    # Pinned because the triangle join consumes TWO instances of the
    # spine — unpinned, each side re-runs the event rollup (2 scans -> 1)
    idx = daily.withColumn(
        "t", F.row_number().over(W.orderBy("day"))
    ).localCheckpoint()
    a = idx.alias("a")
    b = idx.alias("b")
    wgt = F.pow(F.lit(0.7), F.col("a.t") - F.col("b.t"))
    return (
        a.join(b, F.col("b.t") <= F.col("a.t"))
        .groupBy(F.col("a.day").alias("day"), F.col("a.x").alias("x"))
        .agg(
            (F.sum(F.col("b.x") * wgt) / F.sum(wgt)).alias("ewma_raw")
        )
        .select(
            F.col("day").cast("string").alias("day"),
            F.round(F.col("x"), 6).alias("daily_avg"),
            F.round("ewma_raw", 6).alias("ewma"),
        )
    )


@register(
    "hopping_window_rollup",
    """
    WITH hops AS (
      SELECT event_type, user_id,
             (epoch_us(ts) // 21600000000 - k) * 21600000000 AS hop_us
      FROM events, unnest(range(0, 4)) AS u(k)
    )
    SELECT CAST(make_timestamp(hop_us) AS VARCHAR) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM hops
    GROUP BY hop_us, event_type
    ORDER BY window_start, event_type
    """,
    sort=("window_start", "event_type"),
    doc="Hopping-window rollup (24 h windows sliding every 6 h) — the "
    "batch twin of a Structured Streaming sliding aggregation, computed "
    "with the SAME F.window(ts, '1 day', '6 hours') expression the "
    "streaming rollups use, so batch backfill and live stream produce "
    "identical window keys. Each event lands in exactly window/hop = 4 "
    "windows — a fixed 4x expansion Spark generates inside the scan "
    "stage, then one (window, type)-keyed shuffle with map-side "
    "partials; the oracle derives the same epoch-aligned hop starts "
    "with integer division. Window grain is calendar-bounded, never "
    "data-bounded.",
)
def hopping_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day", "6 hours").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "n_users",
        )
    )


@register(
    "cep_batch_replay",
    """
    WITH RECURSIVE seq AS (
      SELECT user_id, epoch_us(ts) AS t, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    machine AS (
      SELECT user_id,
             0 AS rn, 0 AS stage,
             CAST(0 AS BIGINT) AS t_first, CAST(0 AS BIGINT) AS t_second,
             CAST(0 AS BIGINT) AS t_prev,
             CAST(NULL AS BIGINT) AS m_first, CAST(NULL AS BIGINT) AS m_second,
             CAST(NULL AS BIGINT) AS m_third
      FROM (SELECT DISTINCT user_id FROM seq)
      UNION ALL
      SELECT s.user_id, s.rn,
             CASE WHEN eff = 0 AND s.event_type = 'view' THEN 1
                  WHEN eff = 1 AND s.event_type = 'click' THEN 2
                  WHEN eff = 2 AND s.event_type = 'purchase' THEN 0
                  ELSE eff END,
             CASE WHEN eff = 0 AND s.event_type = 'view' THEN s.t
                  ELSE m.t_first END,
             CASE WHEN eff = 1 AND s.event_type = 'click' THEN s.t
                  ELSE m.t_second END,
             CASE WHEN (eff = 0 AND s.event_type = 'view')
                       OR (eff = 1 AND s.event_type = 'click') THEN s.t
                  ELSE m.t_prev END,
             CASE WHEN eff = 2 AND s.event_type = 'purchase'
                  THEN m.t_first END,
             CASE WHEN eff = 2 AND s.event_type = 'purchase'
                  THEN m.t_second END,
             CASE WHEN eff = 2 AND s.event_type = 'purchase'
                  THEN s.t END
      FROM machine m
      JOIN seq s ON s.user_id = m.user_id AND s.rn = m.rn + 1
      CROSS JOIN LATERAL (SELECT CASE WHEN m.stage > 0
                                       AND s.t - m.t_prev > 86400000000
                                      THEN 0 ELSE m.stage END AS eff) x
    )
    SELECT user_id, m_first AS t_view_us, m_second AS t_click_us,
           m_third AS t_purchase_us
    FROM machine WHERE m_third IS NOT NULL
    ORDER BY user_id, t_view_us
    """,
    sort=("user_id", "t_view_us"),
    doc="Batch replay of the STREAMING sequence detector (streaming/"
    "cep.py): the IDENTICAL per-group NFA callback the live "
    "applyInPandasWithState path runs — make_detector() instantiated "
    "with view→click→purchase and a 1-day step deadline (the testdata "
    "has no cart events and its per-user event spacing is hours — the "
    "default 30-min deadline matches zero sequences, an empty signal) — "
    "executed via batch applyInPandas with empty initial state, exactly "
    "one whole-history 'micro-batch'. The DuckDB oracle re-derives the "
    "same single-attempt skip-till-next-match semantics (step deadline, "
    "(ts,event_id) order, deadline break may restart on a view) as a "
    "recursive-CTE automaton over per-user event sequences — "
    "a real cross-paradigm check: imperative Arrow-batch NFA vs pure-SQL "
    "recursion must emit the identical match set. Streaming parity "
    "itself is pinned by tests/test_streaming.py.",
)
def cep_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.streaming import replay
    from fitness_nutrition_data_pipeline_spark.streaming.cep import (
        MATCH_SCHEMA,
        make_detector,
    )

    detector = make_detector(
        ("view", "click", "purchase"), step_window_us=86_400_000_000
    )
    ev = _ev(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    matches = replay(ev, ["user_id"], detector, MATCH_SCHEMA)
    return matches.select(
        "user_id",
        "t_view_us",
        F.col("t_cart_us").alias("t_click_us"),
        "t_purchase_us",
    )


@register(
    "ratelimit_batch_replay",
    """
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY event_id)
             AS admitted_no
    FROM events
    QUALIFY admitted_no <= 5
    ORDER BY user_id, event_id
    """,
    sort=("user_id", "event_id"),
    doc="Batch replay of the STREAMING rate limiter (streaming/"
    "ratelimit.py): the IDENTICAL _limiter(5) callback the live "
    "applyInPandasWithState path runs, executed via batch applyInPandas "
    "with empty initial state — the whole history as one 'micro-batch', "
    "so the quota admits each user's first 5 events in event_id order. "
    "The oracle states the same admission rule declaratively: "
    "row_number per user ordered by event_id, kept while <= limit. "
    "Chunk-order robustness (per-chunk sorting would make "
    "admission order batch-layout-dependent) is separately pinned by "
    "tests/test_streaming.py::test_stream_rate_limiter with a forced "
    "multi-chunk group.",
)
def ratelimit_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.streaming import replay
    from fitness_nutrition_data_pipeline_spark.streaming.ratelimit import (
        ADMITTED_SCHEMA,
        _limiter,
    )

    ev = _ev(spark, sf_dir).select("user_id", "event_id")
    return replay(ev, ["user_id"], _limiter(5), ADMITTED_SCHEMA)


@register(
    "ingestion_lag_audit",
    """
    WITH per AS (
      SELECT event_type, count(*) AS n_events, max(ts) AS last_ts
      FROM events GROUP BY event_type
    ),
    g AS (SELECT max(ts) AS g_max FROM events)
    SELECT event_type, n_events, last_ts,
           (epoch_us(g_max) - epoch_us(last_ts)) // 1000000 AS lag_seconds,
           CASE WHEN (epoch_us(g_max) - epoch_us(last_ts)) // 1000000 > 86400
                THEN 1 ELSE 0 END AS is_stale
    FROM per, g
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Ingestion freshness / lag audit — the ops check a feed pipeline "
    "runs continuously: per event stream, the last-seen timestamp and "
    "its lag behind the freshest stream, flagging anything more than a "
    "day behind (a stalled upstream producer). One map-side-combined "
    "groupBy over bounded event types plus a 1-row broadcast of the "
    "global max; integer-seconds lag via unix_micros div (exact on both "
    "engines — non-negative, so div == floor).",
)
def ingestion_lag_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    per = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("last_ts")
    )
    g = ev.agg(F.max("ts").alias("g_max"))
    lag = F.expr("(unix_micros(g_max) - unix_micros(last_ts)) div 1000000")
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "last_ts",
        lag.alias("lag_seconds"),
        F.when(lag > 86400, 1).otherwise(0).alias("is_stale"),
    )


@register(
    "heavy_hitters_batch_replay",
    """
    WITH sharded AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))
                  AS BIGINT) % 4 AS shard,
             CAST(user_id AS VARCHAR) AS key
      FROM events WHERE user_id IS NOT NULL
    ),
    counts AS (
      SELECT shard, key, count(*) AS c FROM sharded GROUP BY shard, key
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY shard ORDER BY c DESC, key)
               AS rk,
             count(*) OVER (PARTITION BY shard) AS nk
      FROM counts
    ),
    cuts AS (
      SELECT shard,
             CASE WHEN max(nk) > 8
                  THEN max(CASE WHEN rk = 9 THEN c END) ELSE 0 END AS cut
      FROM ranked GROUP BY shard
    )
    SELECT c.shard, c.key,
           CAST(c.c - cut AS BIGINT) AS count_lb,
           CAST(cut AS BIGINT) AS err_bound
    FROM counts c JOIN cuts USING (shard)
    WHERE c.c > cut
    ORDER BY shard, key
    """,
    sort=("shard", "key"),
    doc="Batch replay of the STREAMING Misra-Gries heavy hitters "
    "(streaming/heavyhitters.py): the IDENTICAL per-shard callback run "
    "through batch applyInPandas — the whole history arrives as one "
    "group, so the summary is a single bulk merge + one decrement, "
    "which is fully deterministic and therefore SQL-restatable: per "
    "shard, cut = the (capacity+1)-th largest key count (0 when the "
    "shard fits), survivors emit count-cut with err_bound = cut. The "
    "replay shards by the md5 hash_bucket (oracle-reproducible); the "
    "live stream uses xxhash64 for the same role (cheaper, but DuckDB "
    "cannot replay it — sharding is a routing choice, not a semantic "
    "one). user_id as the key (~37 keys/shard at sf0.01) so the "
    "capacity-8 eviction path actually engages.",
)
def heavy_hitters_batch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fitness_nutrition_data_pipeline_spark.queries.sampling import hash_bucket
    from fitness_nutrition_data_pipeline_spark.streaming import replay
    from fitness_nutrition_data_pipeline_spark.streaming.heavyhitters import (
        HH_SCHEMA,
        _make_mg,
    )

    ev = _ev(spark, sf_dir).where(F.col("user_id").isNotNull())
    sharded = ev.select(
        hash_bucket(F.col("user_id"), 4).alias("shard"),
        F.col("user_id").cast("string").alias("key"),
    )
    return replay(sharded, ["shard"], _make_mg(8), HH_SCHEMA)


@register(
    "multitouch_attribution",
    """
    WITH purch AS (
      SELECT event_id AS pid, user_id, ts AS pt
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, ts, event_type
      FROM events WHERE event_type IN ('view', 'click')
    ),
    pairs AS (
      SELECT p.pid, t.event_type
      FROM purch p JOIN touch t
        ON t.user_id = p.user_id
       AND t.ts >= p.pt - INTERVAL 7 DAY
       AND t.ts < p.pt
    ),
    sized AS (
      SELECT pid, event_type,
             count(*) OVER (PARTITION BY pid) AS n_touch
      FROM pairs
    ),
    cred AS (
      SELECT pid, event_type,
             CAST(round(1000000.0 / n_touch) AS BIGINT) AS ppm
      FROM sized
    )
    SELECT event_type,
           count(*) AS n_touches,
           CAST(count(DISTINCT pid) AS BIGINT) AS n_conversions_touched,
           CAST(CAST(round(sum(ppm) / 1000000.0, 3) AS DECIMAL(18, 3))
                AS DOUBLE) AS credited_conversions
    FROM cred
    GROUP BY event_type
    ORDER BY event_type
    """,
    sort=("event_type",),
    doc="Linear multi-touch attribution: every view/click in the 7 days "
    "before a purchase shares that conversion's credit equally (the "
    "multi-touch counterpart of the stream-stream LAST-touch join in "
    "streaming/joins.py). Credit is quantized to integer ppm per touch "
    "BEFORE summing, so the cross-engine aggregate is exact integer "
    "math — float credit summed in shuffle order would drift at the "
    "ulp level. The purchase-touch pairing is an equi-join on user_id "
    "with a time-range residual (co-keyed shuffle join, NOT a "
    "nested-loop: per-user fan-out is bounded by user activity, the "
    "classic attribution-window shape), and the per-conversion window "
    "runs on pid grain — pairs, never raw events.",
)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pt")
    )
    touch = ev.where(F.col("event_type").isin("view", "click")).select(
        "user_id", "ts", "event_type"
    )
    pairs = purch.join(
        touch,
        (touch.user_id == purch.user_id)
        & (touch.ts >= purch.pt - F.expr("INTERVAL 7 DAY"))
        & (touch.ts < purch.pt),
    ).select("pid", "event_type")
    sized = pairs.withColumn(
        "n_touch", F.count(F.lit(1)).over(W.partitionBy("pid"))
    )
    cred = sized.select(
        "pid",
        "event_type",
        F.round(F.lit(1000000.0) / F.col("n_touch")).cast("long").alias("ppm"),
    )
    return cred.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.countDistinct("pid").cast("long").alias("n_conversions_touched"),
        F.round(F.sum("ppm") / 1000000.0, 3)
        .cast("decimal(18,3)")
        .cast("double")
        .alias("credited_conversions"),
    )


@register(
    "funnel_time_to_convert",
    """
    WITH fv AS (
      SELECT user_id, min(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT user_id, min(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    lat AS (
      SELECT CAST(date_diff('second', v.first_view, p.first_purchase)
                  AS BIGINT) AS sec
      FROM fv v JOIN fp p USING (user_id)
      WHERE p.first_purchase >= v.first_view
    ),
    r AS (
      SELECT sec, row_number() OVER (ORDER BY sec) AS rnk, count(*) OVER () AS n
      FROM lat
    )
    SELECT CAST(max(n) AS BIGINT) AS n_converted,
           CAST(max(CASE WHEN rnk = (n + 1) // 2 THEN sec END) AS BIGINT)
             AS median_sec,
           CAST(max(CASE WHEN rnk = (n * 9 + 9) // 10 THEN sec END) AS BIGINT)
             AS p90_sec,
           CAST(min(sec) AS BIGINT) AS min_sec,
           CAST(max(sec) AS BIGINT) AS max_sec
    FROM r
    """,
    sort=("n_converted",),
    doc="Funnel latency: per converting user, seconds from FIRST view to "
    "FIRST purchase; the registered result is the latency distribution "
    "(exact lower-median and lower-p90 by INTEGER rank — "
    "rank-selection on integer seconds, no interpolation, so both "
    "engines pick the identical element; the companions "
    "funnel_view_purchase / strict_funnel_3step count conversions, "
    "this measures their speed). Two map-side min-aggregates on "
    "user_id, one co-keyed join, then rank selection WITHOUT a "
    "row-number window: latencies collapse to sec-grain counts and "
    "the rank-t element is the smallest sec whose prefix sum reaches "
    "t (the weighted_median_price device) — the only unpartitioned "
    "window runs on the collapsed distinct-latency relation (bounded "
    "by the time range in seconds), never on the converted-user "
    "relation. Bit-identical to the oracle's row_number form: with "
    "integer seconds, rank t under ORDER BY sec IS the first value "
    "whose cumulative count >= t.",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    fv = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    fp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lat = (
        fv.join(fp, "user_id")
        .where(F.col("first_purchase") >= F.col("first_view"))
        .select(
            (
                F.floor(F.unix_micros(F.col("first_purchase")) / 1_000_000)
                - F.floor(F.unix_micros(F.col("first_view")) / 1_000_000)
            ).alias("sec")
        )
    )
    per_sec = lat.groupBy("sec").agg(F.count(F.lit(1)).alias("cnt"))
    cum = per_sec.withColumn(
        "cw",
        F.sum("cnt").over(
            W.orderBy("sec").rowsBetween(W.unboundedPreceding, 0)
        ),
    ).withColumn("n", F.sum("cnt").over(W.partitionBy()))
    # rank-t element == smallest sec whose prefix count reaches t
    pick = lambda t: F.min(F.when(F.col("cw") >= F.expr(t), F.col("sec")))  # noqa: E731
    return cum.agg(
        F.max("n").cast("long").alias("n_converted"),
        # `div` = integer division (≡ DuckDB // for the positive ranks here)
        pick("(n + 1) div 2").cast("long").alias("median_sec"),
        pick("(n * 9 + 9) div 10").cast("long").alias("p90_sec"),
        F.min("sec").cast("long").alias("min_sec"),
        F.max("sec").cast("long").alias("max_sec"),
    )


@register(
    "halflife_decay_scores",
    """
    WITH anchor AS (
      SELECT max(CAST(ts AS DATE)) AS d0 FROM events
    ),
    ev AS (
      SELECT user_id,
             CAST(anchor.d0 - CAST(ts AS DATE) AS BIGINT) AS age_days,
             value
      FROM events CROSS JOIN anchor
      WHERE value IS NOT NULL
    ),
    w AS (
      SELECT user_id,
             CAST(round(value * 1000000) AS BIGINT)
               * CAST(round(1000000 * pow(0.5, age_days / 7.0)) AS BIGINT)
               // 1000000000 AS w_milli
      FROM ev
    ),
    scores AS (
      SELECT user_id, CAST(sum(w_milli) AS BIGINT) AS score_milli
      FROM w GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(score_milli) AS BIGINT) AS total_score_milli,
           CAST(max(score_milli) AS BIGINT) AS max_score_milli,
           CAST(sum(CASE WHEN score_milli = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fully_decayed
    FROM scores
    """,
    sort=("n_users",),
    doc="Half-life-decayed engagement scores (7-day half-life): each "
    "event contributes value * 2^(-age/7), anchored to the corpus max "
    "date so the score is a pure function of the data (re-runs agree; "
    "no wall-clock). Float discipline, two INDEPENDENT quantizations "
    "per event: value rounds to integer ppm (one float multiply), the "
    "decay factor 2^(-age/7) rounds to integer ppm (31 distinct "
    "values, empirically bit-identical Java vs libm pow; a residual "
    "ulp could only flip a factor at a .5 boundary, never compound), "
    "and the per-event weight is their exact integer product floored "
    "to milli-units — sums are then exact integer math in any shuffle "
    "order (the multitouch_attribution trick on a recency-weighted "
    "feature). The registered readout folds user "
    "grain to corpus stats; the user-grain scores relation is the "
    "feature-store artifact at 100 TB — one keyed shuffle with "
    "map-side partials, anchor broadcast.",
)
def halflife_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir).where(F.col("value").isNotNull())
    anchor = ev.agg(F.max(F.to_date("ts")).alias("d0"))
    aged = ev.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("d0"), F.to_date("ts")).cast("long").alias("age_days"),
        "value",
    )
    # value and decay quantize independently; the product is exact
    # int64 (v_ppm <= ~1e9, decay_ppm <= 1e6). Operands non-negative,
    # so DuckDB's floor-// and Spark's truncating div agree.
    w = aged.select(
        "user_id",
        F.expr(
            "CAST(round(value * 1000000) AS BIGINT)"
            " * CAST(round(1000000 * pow(0.5D, age_days / 7.0D)) AS BIGINT)"
            " div 1000000000"
        ).alias("w_milli"),
    )
    scores = w.groupBy("user_id").agg(
        F.sum("w_milli").cast("long").alias("score_milli")
    )
    return scores.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("score_milli").cast("long").alias("total_score_milli"),
        F.max("score_milli").cast("long").alias("max_score_milli"),
        F.sum(F.when(F.col("score_milli") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_fully_decayed"),
    )


@register(
    "markov_next_event_accuracy",
    """
    WITH seq AS (
      SELECT user_id, ts, event_type,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 0 ELSE 1 END AS split,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type,
             lead(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                       THEN 0 ELSE 1 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_split
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL AND split = 0 AND next_split = 0
      GROUP BY 1, 2
    ),
    model AS (
      SELECT from_type, next_type AS predicted,
             row_number() OVER (PARTITION BY from_type
                                ORDER BY n DESC, next_type) AS rk
      FROM trans
    ),
    test AS (
      SELECT event_type AS from_type, next_type AS actual
      FROM seq WHERE next_type IS NOT NULL AND split = 1 AND next_split = 1
    )
    SELECT t.from_type,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.actual = m.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN t.actual = m.predicted THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS accuracy_ppm,
           max(m.predicted) AS predicted
    FROM test t
    JOIN model m ON m.from_type = t.from_type AND m.rk = 1
    GROUP BY t.from_type
    ORDER BY t.from_type
    """,
    sort=("from_type",),
    doc="Sequence-model evaluation with an honest temporal split: fit a "
    "first-order Markov next-event predictor (per-state argmax "
    "transition, deterministic tie-break) on the first-half window "
    "and score top-1 accuracy on transitions that lie ENTIRELY in the "
    "second half — no train/test leakage across the boundary (both "
    "ends of a transition must sit in the same split, checked via a "
    "lead over the split flag). Completes the sequence family: "
    "event_transition_matrix describes the dynamics, this measures "
    "their predictive value, in integer ppm. Windows are per-user "
    "slices (parallel); the model is state-count-sized and broadcast "
    "into the test join; the rollup shuffles state grain.",
)
def markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    split = F.when(
        F.to_date("ts") < F.lit("2024-01-16").cast("date"), 0
    ).otherwise(1)
    seq = ev.select(
        "event_type",
        split.alias("split"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lead(split).over(w).alias("next_split"),
    ).where(F.col("next_type").isNotNull())
    # the sequenced relation feeds train AND test — pin it so the
    # per-user window pass runs once (diamond policy)
    seq = seq.localCheckpoint()
    trans = (
        seq.where((F.col("split") == 0) & (F.col("next_split") == 0))
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("nt"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    model = (
        trans.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("from_type").orderBy(F.desc("n"), F.asc("nt"))
            ),
        )
        .where(F.col("rk") == 1)
        .select("from_type", F.col("nt").alias("predicted"))
    )
    test = seq.where((F.col("split") == 1) & (F.col("next_split") == 1)).select(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("actual"),
    )
    hit = F.when(F.col("actual") == F.col("predicted"), 1).otherwise(0)
    return (
        test.join(F.broadcast(model), "from_type")
        .groupBy("from_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(hit).cast("long").alias("n_correct"),
            F.expr(
                "sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END) "
                "* 1000000 div count(1)"
            )
            .cast("long")
            .alias("accuracy_ppm"),
            F.max("predicted").alias("predicted"),
        )
        .orderBy("from_type")
    )


@register(
    "shapley_attribution_exact",
    """
    WITH um AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + 2 * max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             + 4 * max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
             + 8 * max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                 AS m,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS conv
      FROM events GROUP BY user_id
    ),
    masks AS (
      SELECT m, CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(conv) AS BIGINT) AS cv
      FROM um GROUP BY m
    ),
    lattice AS (SELECT unnest(range(16)) AS t),
    v AS (
      SELECT l.t,
             CASE WHEN sum(k.cnt) IS NULL OR sum(k.cnt) = 0 THEN 0
                  ELSE 1000000 * sum(k.cv) // sum(k.cnt) END AS v_ppm
      FROM lattice l LEFT JOIN masks k ON (k.m & l.t) = k.m
      GROUP BY l.t
    ),
    chan AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2),
                            ('signup', 4), ('error', 8)) AS c(name, bit)
    ),
    terms AS (
      SELECT c.name,
             (CASE bit_count(CAST(t0.t AS BIGINT))
                WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END)
             * (v1.v_ppm - t0.v_ppm) AS w_delta
      FROM chan c
      JOIN v t0 ON (t0.t & c.bit) = 0
      JOIN v v1 ON v1.t = t0.t + c.bit
    )
    SELECT name AS channel,
           CAST(CASE WHEN sum(w_delta) >= 0 THEN sum(w_delta) // 24
                     ELSE -((-sum(w_delta)) // 24) END AS BIGINT)
               AS shapley_ppm
    FROM terms GROUP BY name
    ORDER BY channel
    """,
    sort=("channel",),
    doc="Exact Shapley-value channel attribution (the game-theoretic "
    "credit split marketing/data-attribution uses): the coalition "
    "value v(T) is the conversion rate of users whose touched-channel "
    "set fits inside T (a 16-node subset lattice over 4 channels, "
    "built from ONE user-grain aggregate + a 16x16 bit-containment "
    "join), and each channel's Shapley value is the factorial-weighted "
    "sum of its marginal contributions v(T+i) - v(T) over the 8 "
    "coalitions excluding it. Determinism: v is quantized to integer "
    "ppm by floor division FIRST, so the Shapley sum is pure integer "
    "arithmetic with weight numerators {6,2,2,6}/24 — order-free, "
    "exactly reproducible, within 1e-4 of the unquantized value (the "
    "documented trade; symmetric truncation keeps both engines' "
    "negative-division semantics aligned). At 100 TB only the first "
    "aggregate touches data; the lattice algebra is 16 rows.",
)
def shapley_attribution_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _ev(spark, sf_dir)
    um = ev.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + 2 * F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
            + 4 * F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
            + 8 * F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
        ).alias("m"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    masks = um.groupBy("m").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("conv").cast("long").alias("cv"),
    )
    lattice = ev.sparkSession.range(16).select(F.col("id").alias("t"))
    v = (
        lattice.join(
            F.broadcast(masks),
            (F.col("m").bitwiseAND(F.col("t")) == F.col("m")),
            "left",
        )
        .groupBy("t")
        .agg(
            F.expr(
                "CASE WHEN sum(cnt) IS NULL OR sum(cnt) = 0 THEN 0 "
                "ELSE 1000000 * sum(cv) DIV sum(cnt) END"
            ).alias("v_ppm")
        )
    )
    chan = ev.sparkSession.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 4), ("error", 8)],
        "name string, bit long",
    )
    t0 = v.select(F.col("t").alias("t0"), F.col("v_ppm").alias("v0"))
    v1 = v.select(F.col("t").alias("t1"), F.col("v_ppm").alias("v1"))
    terms = (
        chan.join(
            F.broadcast(t0), F.col("t0").bitwiseAND(F.col("bit")) == 0
        )
        .join(F.broadcast(v1), F.col("t1") == F.col("t0") + F.col("bit"))
        .select(
            "name",
            (
                F.expr(
                    "CASE bit_count(t0) WHEN 0 THEN 6 WHEN 1 THEN 2 "
                    "WHEN 2 THEN 2 ELSE 6 END"
                )
                * (F.col("v1") - F.col("v0"))
            ).alias("w_delta"),
        )
    )
    return terms.groupBy(F.col("name").alias("channel")).agg(
        F.expr(
            "CAST(CASE WHEN sum(w_delta) >= 0 THEN sum(w_delta) DIV 24 "
            "ELSE -((-sum(w_delta)) DIV 24) END AS BIGINT)"
        ).alias("shapley_ppm")
    )
