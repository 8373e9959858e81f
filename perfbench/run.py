"""Benchmark of the fitness warehouse pipeline and the query registry.

    python3 perfbench/run.py --workload etl_reference --seed 1 --seconds 10 --trace 0

Run from the repository root. Each invocation is one fresh process on
``local[nproc]`` with one client; it generates its inputs from ``--seed``
under ``.perfbench_work/`` (removed on exit), measures, checks every
output, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (module call timers plus Spark's event log). A detail record with the
host context, per-unit series, errors and, for traced runs, the traced
end-to-end values, goes to stderr as a line starting ``perfbench-detail``.
See perfbench/README.md for what every metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "fitness_nutrition_data_pipeline_spark"
WORKLOADS = ("etl_reference", "query_mix")
DRIVER_MEM = "3g"
MB = 2**20

E2E = {  # name -> unit
    "setup_s": "s",
    "run_s": "s",
    "cpu_s": "s",
    "live_mem_mb": "MB",
}


def layer_names() -> dict[str, str]:
    from tracing import ETL_STAGES
    from workloads import QUERY_MIX

    names = {
        "session.get_spark_s": "s",
        "sources.extract_s": "s",
        "sources.xlsx_s": "s",
        "sources.fitbit_s": "s",
        "sources.testdata_warm_s": "s",
        "resolution.resolve_s": "s",
        "resolution.users": "count",
        "resolution.users_per_profile_row": "ratio",
        "pipeline.transform_s": "s",
        "plans.dimensions_s": "s",
        "plans.bridges_s": "s",
        "plans.facts_s": "s",
        "load.write_s": "s",
        "load.bytes": "bytes",
        "load.files": "count",
        "validation.validate_s": "s",
        "validation.checks": "count",
        "memory.jvm_heap_live_mb": "MB",
        "memory.jvm_nonheap_mb": "MB",
        "memory.driver_peak_rss_mb": "MB",
        "memory.workers_peak_pss_mb": "MB",
        "memory.tree_peak_pss_mb": "MB",
        "queries.build_s": "s",
        "queries.exec_s": "s",
    }
    for q in QUERY_MIX:
        names[f"queries.{q}.build_s"] = "s"
        names[f"queries.{q}.exec_s"] = "s"
        names[f"queries.{q}.jobs"] = "count"
    for phase in ETL_STAGES:
        names[f"spark.{phase}.jobs"] = "count"
        names[f"spark.{phase}.tasks"] = "count"
        names[f"spark.{phase}.task_cpu_s"] = "s"
        names[f"spark.{phase}.shuffle_write_bytes"] = "bytes"
        names[f"spark.{phase}.gc_s"] = "s"
    names["spark.queries.tasks"] = "count"
    names["spark.queries.task_cpu_s"] = "s"
    names["spark.queries.shuffle_write_bytes"] = "bytes"
    names["spark.queries.gc_s"] = "s"
    names["spark.persisted_rdds"] = "count"
    return names


def _pin_environment(work: str) -> dict[str, str]:
    """Fixed parallelism and heap limit so that CPU and memory figures
    compare across runs and hosts of the same size; every temporary file
    lands in the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "TMPDIR": tmp,
        # the JVMs' hsperfdata files would otherwise go to /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(pins)
    for k in ("SPARK_GRAFT_SEQ_PRIME", "SPARK_GRAFT_SEQ_DECL"):
        os.environ.pop(k, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return pins


def _spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started."""
    from pyspark import SparkContext

    import procmon

    before = set(procmon.tree_pids(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in before if os.path.exists(f"/proc/{p}")
                 and (procmon._stat(p) or ["Z"])[0] != "Z"]
        if not alive:
            break
        time.sleep(0.1)
    else:
        for p in alive:
            try:
                os.kill(p, 9)
            except OSError:
                pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def memory_metrics(res, rss) -> dict[str, float]:
    """Memory figures in MB. The JVM's are read after the ETL run or the
    last query pass: reachable heap rather than resident size, because
    the JVM keeps heap pages it no longer needs resident for as long as
    its collector sees fit. The driver's is its high-water mark; the
    workers' and the whole tree's are sampled peaks."""
    import procmon

    top = max(res.units, key=lambda u: u.heap_live + u.nonheap)
    return {
        "memory.jvm_heap_live_mb": top.heap_live / MB,
        "memory.jvm_nonheap_mb": top.nonheap / MB,
        "memory.driver_peak_rss_mb": procmon.peak_rss_self() / MB,
        "memory.workers_peak_pss_mb": rss.peak_workers / MB,
        "memory.tree_peak_pss_mb": rss.peak / MB,
    }


def unit_s(res) -> float:
    """Wall-clock of one unit. For the query mix, the sum of each query's
    fastest build + execute over the measured passes: on a shared host a
    neighbour's burst of CPU use slows a few queries of one pass, and the
    fastest execution leaves it out."""
    if not res.units[0].ops:
        return _median([u.wall_s for u in res.units])
    best: dict[str, float] = {}
    for u in res.units:
        for q, _, b, e in u.ops:
            best[q] = min(best.get(q, b + e), b + e)
    return sum(best.values())


def e2e_metrics(res, setup_s: float, mem: dict[str, float]) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "run_s": unit_s(res),
        # the query passes still compile code as they go; the last ones least
        "cpu_s": min(u.cpu_s for u in res.units),
        "live_mem_mb": mem["memory.jvm_heap_live_mb"] + mem["memory.jvm_nonheap_mb"]
        + mem["memory.driver_peak_rss_mb"],
    }


def _unit_detail(u) -> dict[str, float]:
    return {"wall_s": u.wall_s, "cpu_s": u.cpu_s,
            "heap_live_mb": u.heap_live / MB, "nonheap_mb": u.nonheap / MB}


def layer_metrics(workload: str, res, timer, log_dir: str, fixed: dict[str, float]) -> dict[str, float]:
    """Per-layer values, averaged over the measured units."""
    from tracing import ETL_STAGES, FOLD_KEYS, fold_event_log

    out = dict.fromkeys(layer_names(), 0.0)
    out.update(fixed)
    n = len(res.units)
    lo, hi = res.units[0].start, res.units[-1].end
    per = {k: timer.total_s(k, lo, hi) / n for k in timer.calls}
    out["spark.persisted_rdds"] = res.persisted_rdds[-1]
    if workload == "etl_reference":
        for metric, call in (
            ("sources.extract_s", "sources.extract"),
            ("sources.xlsx_s", "sources.xlsx"),
            ("sources.fitbit_s", "sources.fitbit"),
            ("resolution.resolve_s", "resolution.resolve"),
            ("pipeline.transform_s", "stage.transform"),
            ("plans.dimensions_s", "plans.dimensions"),
            ("plans.bridges_s", "plans.bridges"),
            ("plans.facts_s", "plans.facts"),
            ("load.write_s", "load.write"),
            ("validation.validate_s", "validation.validate"),
        ):
            out[metric] = per.get(call, 0.0)
        report = res.extra.get("report")
        if report is not None:
            users = report["table_counts"].get("Dim_User", 0)
            out["resolution.users"] = users
            out["resolution.users_per_profile_row"] = users / max(1, report["total_users_mapped"])
            out["load.bytes"] = res.extra["warehouse_bytes"]
            out["load.files"] = res.extra["warehouse_files"]
        checks = timer.last_result.get("validation.validate")
        out["validation.checks"] = getattr(checks, "checks_run", 0)
        windows = {
            stage: [(a, b) for a, b in timer.calls[f"stage.{stage}"] if lo <= a < hi]
            for stage in ETL_STAGES
        }
        folded = fold_event_log(log_dir, windows)
        for phase, figures in folded.items():
            for k in FOLD_KEYS:
                out[f"spark.{phase}.{k}"] = figures[k] / n
    else:
        builds: dict[str, list[float]] = {}
        execs: dict[str, list[float]] = {}
        windows = {}
        for u in res.units:
            for q, start, b, e in u.ops:
                builds.setdefault(q, []).append(b)
                execs.setdefault(q, []).append(e)
                windows.setdefault(q, []).append((start, start + b + e))
        for q in builds:
            out[f"queries.{q}.build_s"] = _median(builds[q])
            out[f"queries.{q}.exec_s"] = _median(execs[q])
        out["queries.build_s"] = sum(sum(v) for v in builds.values()) / n
        out["queries.exec_s"] = sum(sum(v) for v in execs.values()) / n
        for q, figures in fold_event_log(log_dir, windows).items():
            out[f"queries.{q}.jobs"] = figures["jobs"] / n
        passes = fold_event_log(log_dir, {"queries": [(u.start, u.end) for u in res.units]})
        for k in ("tasks", "task_cpu_s", "shuffle_write_bytes", "gc_s"):
            out[f"spark.queries.{k}"] = passes["queries"][k] / n
    return out


def self_times(metrics: dict[str, float]) -> dict[str, float]:
    """Exclusive wall-clock per layer per measured unit (nested layers
    subtracted), to name the layer that dominates a workload."""
    m = metrics
    return {
        "sources": m["sources.extract_s"],
        "operators.resolution": m["resolution.resolve_s"],
        "plans": m["pipeline.transform_s"] - m["resolution.resolve_s"],
        "load": m["load.write_s"],
        "validation": m["validation.validate_s"],
        "queries.build": m["queries.build_s"],
        "queries.exec": m["queries.exec_s"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="fitness pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]

    import procmon

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    pins = _pin_environment(work)
    spark = None
    try:
        detail: dict = {"workload": args.workload, "seed": args.seed,
                        "trace": args.trace, "env": pins}
        # inputs are generated in a child process that has exited before
        # any CPU or memory of this process tree is measured
        t = time.time()
        if args.workload == "etl_reference":
            data_dir = os.path.join(work, "inputs")
            cmd = ["gen_fitness.py", data_dir]
        else:
            data_dir = os.path.join(work, "tables")
            cmd = ["gen_tables.py", data_dir]
        gen = json.loads(subprocess.run(
            [sys.executable, os.path.join(HERE, cmd[0]), *cmd[1:], "--seed", str(args.seed)],
            check=True, capture_output=True, text=True,
        ).stdout)
        gen_s = time.time() - t
        detail["inputs"] = {k: v for k, v in gen.items() if k != "expected"}

        rss = procmon.PeakRss().start()
        import tracing
        import workloads
        from fitness_nutrition_data_pipeline_spark.session import get_spark

        conf = _spark_conf(work)
        log_dir = os.path.join(work, "eventlog")
        timer = tracing.CallTimer()
        if args.trace:
            conf.update(tracing.event_log_conf(log_dir))
            tracing.instrument_pipeline(timer)
        detail["before_session_s"] = procmon.process_age_s() - gen_s
        t = time.time()
        spark = get_spark("perfbench", extra_conf=conf)
        fixed = {"session.get_spark_s": time.time() - t}
        if args.workload == "query_mix":
            from fitness_nutrition_data_pipeline_spark.sources.testdata import TABLES, load_table

            t = time.time()
            for name in TABLES:
                load_table(spark, data_dir, name).count()
            fixed["sources.testdata_warm_s"] = time.time() - t
        setup_s = procmon.process_age_s() - gen_s

        if args.workload == "etl_reference":
            res = workloads.run_etl(spark, work, data_dir, gen["expected"], args.seconds)
        else:
            res = workloads.run_query_mix(spark, data_dir, args.seed, args.seconds)

        rss.stop()
        mem = memory_metrics(res, rss)
        _stop_spark(spark)
        spark = None
        timer.restore()
        if args.workload == "query_mix":
            workloads.check_query_results(res, data_dir)
        e2e = e2e_metrics(res, setup_s, mem)
        detail["memory_at_peak_mb"] = {k: v / MB for k, v in rss.at_peak.items()}
        detail.update(
            host=procmon.host_context(),
            generate_s=gen_s,
            setup=fixed,
            units=[_unit_detail(u) for u in res.units],
            unmeasured=[_unit_detail(u) for u in res.warm],
            extra={k: v for k, v in res.extra.items() if k != "report"},
            persisted_rdds=res.persisted_rdds,
            errors=res.errors[:20],
            e2e=e2e,
        )
        if args.trace:
            values = layer_metrics(args.workload, res, timer, log_dir, {**fixed, **mem})
            units = layer_names()
            detail["self_time_s"] = self_times(values)
        else:
            values, units = e2e, E2E
        correct = res.failed == 0 and res.attempted > 0
        print("perfbench-detail " + json.dumps(detail), file=sys.stderr)
        print(json.dumps({
            "correct": correct,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
