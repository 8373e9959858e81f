"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes via the no-op sink so timing covers the full plan
(scan → shuffle → result) without driver-side collect overhead.

Median mode (VERDICT r8 ask #5 — the regression-resolving protocol):
``python bench.py --median [R]`` runs R reps per query (default 5) and
reports the per-query MEDIAN plus dispersion (min/max spread per query,
and the spread of per-rep totals). The driver's single-shot best-of-5
headline sits inside a ±20% co-tenancy band that now spans four rounds
of totals; the median-with-dispersion line is the number regressions
are judged against (recorded per round in SCALE.md). The default
(no-arg) output is byte-compatible with the driver contract.
"""

from __future__ import annotations

import json
from statistics import median
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fitness_nutrition_data_pipeline_spark.queries import all_specs
from fitness_nutrition_data_pipeline_spark.session import get_spark

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_volume",
    "tpch_q6_forecast_revenue",
    "star_join_topk",
    "recent_window_topk",
    "daily_rollup_sum",
    "window_dedup_first_seen",
    "entity_resolution_profiles",
    "scan_filter_project",
    "vocab_inventory",
    "minhash_lsh_buckets",
    "simhash_signatures",
    "ngram_jaccard_pairs",
    "embedding_knn_bruteforce",
    "doc_quality_score",
    "sessionize_events",
    "rollup_qty",
]

# Extended section (VERDICT r12 ask #5): the costliest non-headline
# registry families, so their timing TREND is machine-readable like the
# headline's. Fixed list for round-over-round comparability. Single-shot
# per query (they are 5-40x a headline query; the probe_sec field beside
# the section adjudicates host regime as usual), executed AFTER the
# headline plan digest + probe are captured so the headline digest's
# execution-history comparability (see plan_digest docstring) is
# untouched. Disable with --no-extended.
EXTENDED = [
    "near_dup_pipeline",
    "dedup_clusters_exact",
    "kcore_fixpoint_audit",
    "rag_corpus_pipeline",
    "storage_layout_inventory_audit",
    "corpus_curation_pipeline",
    "dsir_importance_weights",
    "cluster_survivor_selection",
    "drift_monitor_batch_replay",
    "triangle_count_cooccurrence",
]


def host_probe_sec(adds: int = 20_000_000) -> float:
    """Pure-Python spin probe (20M integer adds): a host-regime witness
    with zero Spark involvement. Calibrated range on this container:
    ~1.9-2.2 s quiet, 30%+ degraded under co-tenant load (SCALE.md r10
    protocol section). Embedded in the bench JSON so every BENCH_r*.json
    carries its own noise adjudication — two rounds of driver-window
    readings (r9 9.15 s, r10 11.52 s) needed out-of-band probes to
    attribute to host regime; now the evidence ships with the number."""
    t0 = time.time()
    acc = 0
    for i in range(adds):
        acc += i
    return round(time.time() - t0, 3)


def _spin(adds: int) -> int:
    acc = 0
    for i in range(adds):
        acc += i
    return acc


def host_probe_mc_sec(workers: int = 8, adds: int = 20_000_000) -> float:
    """Fixed-width MULTI-core spin probe (8 forked processes x the SAME
    20M-add spin as host_probe_sec, wall-clock of the whole batch):
    witnesses effective parallel throughput, the regime the single-core
    probe is blind to — r13's host read FASTER on the single-core spin
    than every prior quiet band while every Spark-parallel workload ran
    10-40% slower with identical plan digests (VERDICT r13 ask #8,
    SCALE.md probe blind-spot note). Matching per-worker work makes the
    ratio self-interpreting: on a quiet host all 8 workers run
    concurrently and mc ~= sc (+ fork overhead); mc/sc climbing toward
    8 means effective cores are vanishing. Forked PROCESSES, not
    threads — the GIL would serialize a threaded pure-Python spin and
    measure single-core all over again.

    Fork, not spawn, keeps the reading comparable with the committed
    quiet band (spawn pays 8x interpreter+import startup inside the
    measured window). But forking a multi-threaded JVM-attached parent
    (every post-run probe call site) can deadlock in the child — a
    hang, not an exception, so callers' try/except guards never fire
    (ADVICE r14). The wait is therefore bounded: on timeout the pool is
    terminated and the probe reads -1.0 ("probe failed", never sane to
    downstream consumers such as tools/bench_trend._probe_sane)."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    t0 = time.time()
    pool = ctx.Pool(workers)
    try:
        pool.map_async(_spin, [adds] * workers).get(timeout=60)
    except mp.TimeoutError:
        return -1.0
    finally:
        pool.terminate()
        pool.join()
    return round(time.time() - t0, 3)


def plan_digest(spark, specs, sf_dir: str) -> str:
    """Deterministic hash of the 18 headline queries' formatted physical
    plans (initial, pre-AQE — a pure code+optimizer witness, no
    execution), normalized exactly as tools/plan_diff.py normalizes
    PLANS.md (expression ids, plan ids, lambda counters). Identical
    digest across rounds == the physics did not change; wall-clock drift
    with an identical digest is host regime by construction.

    Comparability caveat (r12): entity_resolution_profiles pins its
    survivor relation with localCheckpoint, whose scan node prints the
    session-global RDD id — deterministic given identical prior
    execution (warm-up + 18 queries x default reps), which is why the
    digest matches across driver/judge/default-mode runs, but a
    ``--median N`` run with N != 5 shifts it. Compare digests only
    between runs of the same mode; the full-registry witness
    (tools/registry_digest.py) normalizes the artifact instead and is
    mode-independent."""
    import contextlib
    import hashlib
    import io

    from tools.plan_diff import _norm

    h = hashlib.sha256()
    for name in HEADLINE:
        df = specs[name].builder(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        h.update(name.encode())
        h.update("\n".join(_norm(buf.getvalue())).encode())
    return h.hexdigest()[:16]


def main() -> None:
    median_mode = "--median" in sys.argv
    if median_mode:
        i = sys.argv.index("--median")
        # only consume the next token if it is actually a rep count —
        # `bench.py --median somefile` must not ValueError on int()
        nxt = sys.argv[i + 1] if len(sys.argv) > i + 1 else ""
        reps = int(nxt) if nxt.isdigit() else 5
        if reps < 1:
            raise SystemExit("--median rep count must be >= 1")
    else:
        reps = 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # pre-run probe pair: the post-run pair alone samples one instant —
    # a contended run ending in a quiet window ships clean probes (the
    # r14 pipeline bench caught exactly this); pre+post bracket the
    # headline section so the artifact shows whether the regime HELD
    probe_pre = host_probe_sec()
    probe_mc_pre = host_probe_mc_sec()
    spark = get_spark("bench")
    specs = all_specs()

    # Warm the JVM + file listings once so per-query numbers measure the
    # query, not session cold-start or first-touch footer reads.
    from fitness_nutrition_data_pipeline_spark.sources.testdata import TABLES, load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        builder = specs[name].builder
        best = None
        runs: list[float] = []
        try:
            # best-of-5: local[32] shows ~15% run-to-run spread from
            # scheduler/GC noise that best-of-3 sometimes failed to strip
            # (same code measured 9.3 s and 10.8 s totals an hour apart);
            # the min over 5 reps is a stabler floor at +~1 min bench time
            for _ in range(reps):
                t0 = time.time()
                builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                runs.append(dt)
                best = dt if best is None else min(best, dt)
            timings[name] = round(
                median(runs) if median_mode else best, 3
            )
            spreads[name] = [round(min(runs), 3), round(max(runs), 3)]
        except Exception as e:  # noqa: BLE001
            # One broken query must not zero the whole bench signal: record
            # the failure, keep timing the rest, and still emit the JSON
            # line (round 3 lost its entire bench to a single query error).
            errors[name] = str(e).split("\n", 1)[0][:200]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # capture the headline witnesses BEFORE the extended queries run:
    # plan_digest is execution-history-sensitive (localCheckpoint RDD
    # ids), so it must be computed at the same point in session history
    # as every prior round's reading
    headline_digest = plan_digest(spark, specs, sf_dir)
    headline_probe = host_probe_sec()
    headline_probe_mc = host_probe_mc_sec()

    extended = None
    if "--no-extended" not in sys.argv:
        ext_timings: dict[str, float] = {}
        ext_errors: dict[str, str] = {}
        # second rep + inline mini-probes (r18, VERDICT r17 ask #1): the
        # single-shot × 1 protocol could not distinguish a 2× code
        # regression from this host's measured 1.8× identical-code swing
        # (r17 ext 73.3 s at 32c vs 41.1 s at 8c). ADDITIVE only: the
        # original single-shot first-rep stays the `queries`/`value`
        # fields (byte-compatible contract, round-over-round comparable);
        # the second rep and a short spin probe bracketing each query land
        # in new fields so regressions can be adjudicated per query
        # (rep2 << rep1 = cold-path/contention artifact, rep2 ≈ rep1 =
        # believable). Each query's rep1 runs after the previous query's
        # rep2 and probe, so its warm-up context differs from the
        # single-rep protocol's.
        ext_rep2: dict[str, float] = {}
        ext_probes: dict[str, float] = {}
        for name in EXTENDED:
            try:
                ext_probes[name] = host_probe_sec(5_000_000)
                t0 = time.time()
                specs[name].builder(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ext_timings[name] = round(time.time() - t0, 3)
                t0 = time.time()
                specs[name].builder(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                ext_rep2[name] = round(time.time() - t0, 3)
            except Exception as e:  # noqa: BLE001
                ext_errors[name] = str(e).split("\n", 1)[0][:200]
                print(f"BENCH ERROR {name}: {ext_errors[name]}", file=sys.stderr)
        extended = {
            "value": round(sum(ext_timings.values()), 3)
            if not ext_errors
            else None,
            "queries": ext_timings,
            "n_ok": len(ext_timings),
            "n_queries": len(EXTENDED),
            "complete": not ext_errors,
            "reps": 2,
            "queries_rep2": ext_rep2,
            "value_rep2": round(sum(ext_rep2.values()), 3)
            if ext_rep2 and not ext_errors
            else None,
            "value_min_of_2": round(
                sum(min(v, ext_rep2.get(k, v)) for k, v in ext_timings.items()), 3
            )
            if not ext_errors
            else None,
            # 5M-add spin (~0.2 s quiet) taken immediately BEFORE each
            # query's first rep: a per-query regime witness the section
            # probes can't give (they sample only the section's ends)
            "probes_inline": ext_probes,
            "probe_sec": host_probe_sec(),
            "probe_mc_sec": host_probe_mc_sec(),
        }
        # per-family plan witness (VERDICT r15 ask #5): the headline
        # digest above witnesses only the 18 headline plans, so an
        # extended family re-blessed between rounds could inherit stale
        # wall-clock priors in bench_trend. Embed each extended query's
        # own digest from the suite-gated committed map
        # (tools/registry_digests.json — guaranteed == HEAD by
        # tests/test_registry_digest.py), so trend comparisons can key
        # comparability per family. Committed-map lookup, not a live
        # explain(): the live plan here is sf0.1/execution-history-
        # sensitive; the canonical map is the stable code witness.
        try:
            from tools.registry_digest import (
                NORMALIZER_VERSION,
                load_committed,
            )

            _dig = load_committed()
            extended["digests"] = {
                q: _dig[q] for q in EXTENDED if q in _dig
            }
            extended["digest_normalizer"] = NORMALIZER_VERSION
            # the committed map is only guaranteed == HEAD on a CLEAN
            # checkout (the suite gate runs against the working tree);
            # a dirty-tree bench may measure plans the committed digests
            # don't describe. Record the indicator so bench_trend can
            # demote such artifacts to the headline-only rule instead of
            # silently trusting a possibly-stale witness (ADVICE r16 #3).
            try:
                import subprocess

                # --untracked-files=no (r18, VERDICT r17 "what's wrong"
                # #6): the witness exists to catch MODIFIED tracked code
                # whose plans the committed digests don't describe; the
                # driver's own untracked artifact JSONs made every r17
                # bench read dirty on a clean code tree.
                _porcelain = subprocess.run(
                    ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
                     "status", "--porcelain", "--untracked-files=no"],
                    capture_output=True, text=True, timeout=30,
                ).stdout.strip()
                extended["digests_dirty_tree"] = bool(_porcelain)
            except Exception:  # noqa: BLE001 — no git = no indicator
                extended["digests_dirty_tree"] = None
            if extended["digests_dirty_tree"]:
                print("BENCH WARNING: working tree dirty — embedded "
                      "per-family digests may not describe the measured "
                      "plans", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — bench must still emit JSON
            # a dropped witness must be VISIBLE, not a silent revert to
            # the stale-prior headline rule this field exists to fix:
            # record the failure in the artifact and warn on stderr
            extended["digests_error"] = str(e).split("\n", 1)[0][:200]
            print(f"BENCH WARNING: extended digest witness dropped: "
                  f"{extended['digests_error']}", file=sys.stderr)
        if ext_errors:
            extended["errors"] = ext_errors
            extended["partial_total"] = round(sum(ext_timings.values()), 3)

    result = {
        "metric": "headline_queries_median_total"
        if median_mode
        else "headline_queries_total",
        # A partial total would COMPARE AS FASTER than a full run — null the
        # headline value on any error so round-over-round diffs can't
        # silently improve on breakage; per-query timings stay available.
        "value": total if not errors else None,
        "unit": "sec",
        "queries": timings,
        "n_ok": len(timings),
        "n_queries": len(HEADLINE),
        "complete": not errors,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # self-annotating protocol (VERDICT r10 ask #4): host regime +
        # plan-drift witnesses travel WITH the reading (captured before
        # the extended section ran — see comment at capture site)
        "probe_sec_pre": probe_pre,
        "probe_mc_sec_pre": probe_mc_pre,
        "probe_sec": headline_probe,
        "probe_mc_sec": headline_probe_mc,
        "plan_digest": headline_digest,
    }
    if extended is not None:
        result["extended"] = extended
    if median_mode:
        result["reps"] = reps
        result["spread"] = spreads
    if errors:
        # keep exit 0: a partial bench with an explicit "errors" field is
        # parseable signal; a non-zero exit risks the harness discarding
        # the JSON entirely (missing queries are visible, not silent)
        result["errors"] = errors
        result["partial_total"] = total
    print(json.dumps(result))


if __name__ == "__main__":
    main()
