"""Profile dedup_clusters_exact's iterated-CC cost structure (VERDICT
r14 ask #5): the family swings 8.3 s quiet -> 55.7 s degraded (6.7x)
while scan-shaped families swing ~1.4x. Hypothesis: the cost is not
data but BARRIERS — every large-star/small-star alternation is one
localCheckpoint materialization job plus one convergence-diff job,
each multi-stage, and on a loaded host every stage barrier waits for
straggling tiny tasks, so amplification scales with (rounds x jobs x
stages), not bytes.

What it measures, at $SPARK_GRAFT_AUDIT_SF_DIR (default sf0.1):

1. the REAL operator end-to-end (wall + Spark job count via a job
   group), untouched — the blessed plan is never modified;
2. an inline instrumented replica of the operator's loop (same star
   algebra, copied from operators/components.py) timing each round's
   materialization and convergence check separately, with edge counts
   and partition counts per round — replica output is equivalence-
   checked against the real operator before its numbers are believed;
3. candidate mitigations, measured not guessed:
   - "check-every-2": run the convergence diff every second round
     (halves diff jobs, may overshoot one alternation pair);
   - "coalesce-1": round state coalesced to 1 partition before the
     checkpoint (AQE already coalesces post-shuffle partitions on
     tiny data; this additionally collapses the materialized RDD);
   - "aqe-off": adaptive execution disabled inside the fixpoint loop,
     so each round's materialization plans as ONE job instead of one
     job per query stage — the direct test of the barrier-count
     hypothesis, and the measured basis for any future in-window
     adoption (the real operator would need a re-bless).

Host probes (pre/post, sc+mc) bracket every section so a reading is
adjudicable on its own. Pure profiling tool: nothing here feeds the
correctness gate or the digest map.

Usage: python tools/profile_cc_rounds.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.1")


def _jobs_in_group(sc, group: str) -> int:
    try:
        return len(sc.statusTracker().getJobIdsForGroup(group))
    except Exception:  # noqa: BLE001
        return -1


def main() -> int:
    from pyspark.sql import functions as F

    from bench import host_probe_mc_sec, host_probe_sec
    from fitness_nutrition_data_pipeline_spark.operators.components import (
        connected_components_star,
    )
    from fitness_nutrition_data_pipeline_spark.operators.dedup import (
        lsh_bands,
        minhash_signatures,
    )
    from fitness_nutrition_data_pipeline_spark.queries.llm_ops import (
        N_BANDS,
        N_MINHASH,
    )
    from fitness_nutrition_data_pipeline_spark.session import get_spark
    from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

    spark = get_spark("profile_cc_rounds")
    sc = spark.sparkContext
    print(f"sf_dir={SF_DIR}  probes pre: sc={host_probe_sec()} "
          f"mc={host_probe_mc_sec()}")

    def edges_df():
        sigs = minhash_signatures(
            load_table(spark, SF_DIR, "documents"), "doc_id", "text",
            n_hashes=N_MINHASH,
        )
        bands = lsh_bands(sigs, "doc_id", n_bands=N_BANDS)
        mins = bands.groupBy("band_id", "band_key").agg(
            F.min("doc_id").alias("bucket_min")
        )
        return (
            bands.join(mins, ["band_id", "band_key"])
            .where(F.col("doc_id") != F.col("bucket_min"))
            .select(F.col("doc_id").alias("src"),
                    F.col("bucket_min").alias("dst"))
            .distinct()
        )

    # ---- 1. the real operator, untouched, jobs counted -----------------
    sc.setJobGroup("cc_real", "real operator")
    t0 = time.time()
    real = connected_components_star(edges_df()).collect()
    real_wall = time.time() - t0
    real_jobs = _jobs_in_group(sc, "cc_real")
    sc.setJobGroup("", "")
    print(f"\n[real operator] wall={real_wall:.2f}s jobs={real_jobs} "
          f"rows={len(real)}")

    # ---- 2. instrumented replica of the loop ---------------------------
    # (star algebra copied from operators/components.py — the operator
    # itself stays byte-identical; replica equivalence is asserted below)
    def star(adj, large):
        m = adj.groupBy("a").agg(F.least(F.first("a"), F.min("b")).alias("m"))
        nbr = adj.join(m, "a")
        cond = F.col("b") > F.col("a") if large else F.col("b") <= F.col("a")
        out = (
            nbr.where(cond)
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .union(m.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        return out.union(
            out.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).select(F.col("u").alias("a"), F.col("v").alias("b"))

    def run_replica(tag: str, check_every: int = 1, coalesce_to: int = 0,
                    aqe: bool = True):
        # AQE-off inside the fixpoint: each round's materialization plans
        # as ONE job instead of one job per query stage — the measured
        # form of SCALE.md lever (b); the real operator would need a
        # re-bless to adopt it, so it is only ever measured here
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        try:
            return _run_replica_body(tag, check_every, coalesce_to)
        finally:
            # restore on EVERY exit: an exception mid-run (e.g. in the
            # aqe=False section) must not leave AQE off for the session
            sc.setJobGroup("", "")
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def _run_replica_body(tag: str, check_every: int, coalesce_to: int):
        sc.setJobGroup(tag, tag)
        t_start = time.time()
        e = edges_df()
        sym = (
            e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            .union(e.select(F.col("dst").alias("a"), F.col("src").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        vertices = (
            sym.select(F.col("a").alias("vertex")).distinct().localCheckpoint()
        )
        t_setup = time.time() - t_start
        rounds = []
        for i in range(30):
            t1 = time.time()
            nxt = star(star(sym, large=True), large=False)
            if coalesce_to:
                nxt = nxt.coalesce(coalesce_to)
            nxt = nxt.localCheckpoint()
            t_mat = time.time() - t1
            do_check = (i + 1) % check_every == 0
            t2 = time.time()
            diff = -1
            if do_check:
                diff = (
                    nxt.join(sym, ["a", "b"], "left_anti")
                    .union(sym.join(nxt, ["a", "b"], "left_anti"))
                    .limit(1)
                    .count()
                )
            t_chk = time.time() - t2
            nparts = nxt.rdd.getNumPartitions()
            rounds.append((i, t_mat, t_chk, nparts, diff))
            sym = nxt
            if diff == 0:
                break
        labels = (
            sym.groupBy("a")
            .agg(F.least(F.first("a"), F.min("b")).alias("component"))
            .select(F.col("a").alias("vertex"), "component")
        )
        out = (
            vertices.join(labels, "vertex", "left")
            .select("vertex",
                    F.coalesce("component", F.col("vertex")).alias("component"))
        ).collect()
        wall = time.time() - t_start
        jobs = _jobs_in_group(sc, tag)
        print(f"\n[{tag}] wall={wall:.2f}s (setup {t_setup:.2f}s) "
              f"jobs={jobs} rounds={len(rounds)} rows={len(out)}")
        for i, t_mat, t_chk, nparts, diff in rounds:
            print(f"  round {i}: materialize={t_mat:.2f}s "
                  f"check={t_chk:.2f}s parts={nparts} diff={diff}")
        return out, wall

    base, base_wall = run_replica("cc_replica")
    assert sorted(map(tuple, base)) == sorted(map(tuple, real)), (
        "replica diverged from the real operator — do not trust its numbers"
    )

    every2, _ = run_replica("cc_every2", check_every=2)
    assert sorted(map(tuple, every2)) == sorted(map(tuple, real))
    coal, _ = run_replica("cc_coalesce1", coalesce_to=1)
    assert sorted(map(tuple, coal)) == sorted(map(tuple, real))
    noaqe, _ = run_replica("cc_aqe_off", aqe=False)
    assert sorted(map(tuple, noaqe)) == sorted(map(tuple, real))

    print(f"\nprobes post: sc={host_probe_sec()} mc={host_probe_mc_sec()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
