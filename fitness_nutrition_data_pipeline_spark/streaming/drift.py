"""Windowed distribution-drift monitor, the per-window form of the batch
``source_length_drift`` query (queries/stats_ops.py).

Stage 1: a tumbling-window histogram of a numeric column — windows ×
bins grain, never rows; bins are fixed-width so the shuffle key space is
bounded by construction.

Stage 2: binned two-sample KS of each window's observed distribution
against a static reference distribution — windows × bins grain,
broadcast baseline, one window-partitioned cumulative pass. Alerting =
filter ks_stat above a threshold.

The per-row work (binning, counting) is one map-side-combined groupBy;
the cross-bin comparison runs on the already-tiny aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def windowed_value_histogram(
    events: DataFrame,
    ts_col: str,
    value_col: str,
    *,
    window_len: str = "10 minutes",
    bin_width: float = 10.0,
) -> DataFrame:
    """(window_start, bin, n) histogram with fixed-width bins.

    Bin is a row-local floor-divide, so the only shuffle is the
    (window, bin) aggregation — map-side combined, key space =
    windows × bins.
    """
    binned = events.select(
        F.col(ts_col).alias("_ts"),
        F.floor(F.col(value_col) / bin_width).cast("long").alias("bin"),
    )
    return (
        binned.groupBy(F.window("_ts", window_len).alias("_w"), "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("_w.start").alias("window_start"), "bin", "n")
    )


def binned_drift_scores(hist: DataFrame, baseline: DataFrame) -> DataFrame:
    """Per-window binned KS statistic vs a static reference distribution.

    ``hist``: (window_start, bin, n) — the output of
    ``windowed_value_histogram``. ``baseline``: (bin, share) with shares
    summing to 1. Returns (window_start, n_rows, ks_stat).

    Bin-union per window is built by crossing the (tiny) window list with
    the (tiny) baseline bin list and left-joining observed counts — so
    bins missing from either side contribute zero mass instead of
    silently dropping. All windows/joins run on windows × bins grain.

    ``hist`` is referenced three times in the plan (windows, bin domain,
    observed counts), so it is pinned with ``localCheckpoint`` first:
    answer-sized by construction, this costs one tiny materialization
    and guarantees all three reads agree.
    """
    hist = hist.localCheckpoint()
    windows = hist.groupBy("window_start").agg(F.sum("n").alias("n_rows"))
    base = baseline.select("bin", F.col("share").alias("base_share"))
    # observed bins absent from the baseline keep their mass (share 0 on
    # the base side); baseline bins absent from a window get observed 0
    obs_bins = hist.select("bin").distinct()
    all_bins = obs_bins.unionByName(base.select("bin")).distinct()
    grid = windows.crossJoin(F.broadcast(all_bins))
    joined = (
        grid.join(hist, ["window_start", "bin"], "left")
        .join(F.broadcast(base), ["bin"], "left")
        .select(
            "window_start",
            "bin",
            "n_rows",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_obs"),
            F.coalesce(F.col("base_share"), F.lit(0.0)).alias("base_share"),
        )
    )
    w = (
        W.partitionBy("window_start")
        .orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cdf = joined.select(
        "window_start",
        "n_rows",
        (F.sum("n_obs").over(w) / F.col("n_rows")).alias("cdf_obs"),
        F.sum("base_share").over(w).alias("cdf_base"),
    )
    return (
        cdf.groupBy("window_start", "n_rows")
        .agg(F.round(F.max(F.abs(F.col("cdf_obs") - F.col("cdf_base"))), 6).alias("ks_stat"))
        .orderBy("window_start")
    )
