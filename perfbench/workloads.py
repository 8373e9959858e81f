"""The two workloads: the warehouse ETL and the query-registry mix.

Each ``run_*`` function is called once per benchmark process, after the
Spark session exists, and returns a ``Result``. A *unit* is one complete
piece of user-visible work: one extract→report pipeline run, or one pass
over the query mix. Units repeat until the measuring time is used up.

ETL: the measured figure is the first run of the process, the cost a
scheduled batch job pays; later runs (only on hosts where one run is
shorter than the measuring time) go to ``Result.warm``.
Query mix: a first, checked pass warms the session; the measured units
are the passes after it, at least three.
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import time
from dataclasses import dataclass, field

from procmon import tree_cpu_s

# 9 of the 18 headline queries of the repository's query benchmark, copied
# so that editing that list does not change this workload: the relational,
# event, entity-resolution, text and vector families each keep their most
# expensive members.
QUERY_MIX = (
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q5_local_volume", "recent_window_topk", "sessionize_events",
    "entity_resolution_profiles", "minhash_lsh_buckets",
    "ngram_jaccard_pairs", "embedding_knn_bruteforce",
)

@dataclass
class Unit:
    wall_s: float
    cpu_s: float
    start: float
    end: float
    ops: list[tuple[str, float, float, float]] = field(default_factory=list)
    # queries only: (name, start, build seconds, execute seconds)
    heap_live: int = 0  # JVM heap bytes reachable after the unit
    nonheap: int = 0  # JVM non-heap bytes in use after the unit


@dataclass
class Result:
    units: list[Unit] = field(default_factory=list)  # measured
    warm: list[Unit] = field(default_factory=list)  # not measured
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    persisted_rdds: list[int] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _persisted(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _settled_jvm_memory(spark, limit_s: float = 10.0) -> tuple[int, int]:
    """JVM heap bytes still reachable once the session has let go of what
    it no longer needs, and the JVM's non-heap bytes in use (metaspace
    with the generated classes, code cache). Full collections repeat
    until three readings agree within 1%: Spark's context cleaner frees
    broadcast blocks and shuffle state only after a collection has found
    their handles unreachable, a second or two later."""
    gc.collect()  # drop Python proxies that pin JVM objects
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    seen: list[int] = []
    deadline = time.time() + limit_s
    while time.time() < deadline:
        jvm.java.lang.System.gc()
        seen.append(mx.getHeapMemoryUsage().getUsed())
        last = seen[-3:]
        if len(last) == 3 and max(last) - min(last) <= 0.01 * last[-1]:
            break
        time.sleep(0.5)
    return seen[-1], mx.getNonHeapMemoryUsage().getUsed()


def _measure_loop(seconds: float, one_unit, min_units: int = 1) -> list[Unit]:
    """Units until ``seconds`` have passed (at least ``min_units``)."""
    units, t0 = [], time.time()
    while len(units) < min_units or time.time() - t0 < seconds:
        units.append(one_unit(len(units)))
    return units


# -- ETL ---------------------------------------------------------------------

def run_etl(spark, work: str, data_dir: str, expected: dict[str, int],
            seconds: float) -> Result:
    from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
    from fitness_nutrition_data_pipeline_spark.pipeline import FitnessWarehousePipeline

    res = Result()

    def one_unit(i: int) -> Unit:
        wh = os.path.join(work, f"wh{i}")
        cfg = PipelineConfig(
            data_dir=data_dir,
            fitbit_dir=os.path.join(data_dir, "fitbit"),
            warehouse_dir=wh,
            output_dir=os.path.join(work, f"report{i}"),
        )
        cpu0, t0 = tree_cpu_s(), time.time()
        report, error = None, ""
        try:
            report = FitnessWarehousePipeline(spark, cfg).run()
        except Exception as e:  # noqa: BLE001 — a failed run is a failed operation
            error = str(e).splitlines()[0][:200]
        t1 = time.time()
        unit = Unit(t1 - t0, tree_cpu_s() - cpu0, t0, t1)
        res.check(report is not None, f"run {i} raised: {error}")
        if report is not None:
            counts = report["table_counts"]
            for table, n in expected.items():
                res.check(counts.get(table) == n,
                          f"run {i}: {table} rows {counts.get(table)} != {n}")
            score = report["validation"]["quality_score"]
            res.check(score == 100.0, f"run {i}: quality_score {score}")
            res.extra["report"] = report
            res.extra["warehouse_bytes"], res.extra["warehouse_files"] = _dir_size(wh)
        res.persisted_rdds.append(_persisted(spark))
        if i == 0:
            unit.heap_live, unit.nonheap = _settled_jvm_memory(spark)
        shutil.rmtree(os.path.join(work, f"wh{i - 1}"), ignore_errors=True)
        return unit

    runs = _measure_loop(seconds, one_unit)
    res.units, res.warm = runs[:1], runs[1:]
    return res


def _dir_size(path: str) -> tuple[int, int]:
    size = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dp, f))
                files += 1
    return size, files


# -- query mix -----------------------------------------------------------------

def run_query_mix(spark, tables_dir: str, seed: int, seconds: float) -> Result:
    """First pass: every query built and its result collected. Measured
    passes: the closed loop — each query built and executed to the noop
    sink, in an order the seed permutes anew for every pass. The collected
    results are compared with the DuckDB oracles by ``check_query_results``
    after the measurement, so the oracle engine's memory and CPU stay out
    of it."""
    from fitness_nutrition_data_pipeline_spark.queries import all_specs
    from tools import verify_queries as vq

    res = Result()
    specs = all_specs()
    for q in QUERY_MIX:
        if q not in specs:
            res.check(False, f"{q}: not registered")
    names = [q for q in QUERY_MIX if q in specs]
    rng = random.Random(seed)

    order = names[:]
    rng.shuffle(order)
    cpu0, t0 = tree_cpu_s(), time.time()
    first = Unit(0.0, 0.0, t0, 0.0)
    collected = {}
    for q in order:
        a = time.time()
        try:
            sdf = specs[q].builder(spark, tables_dir)
            b = time.time()
            collected[q] = vq.norm_rows(*vq.fetch_spark(sdf))
        except Exception as e:  # noqa: BLE001
            res.check(False, f"{q}: spark error {str(e).splitlines()[0][:200]}")
            continue
        first.ops.append((q, a, b - a, time.time() - b))
    first.end = time.time()
    first.wall_s, first.cpu_s = first.end - t0, tree_cpu_s() - cpu0
    res.warm = [first]
    res.extra["collected"] = collected
    res.persisted_rdds.append(_persisted(spark))

    def one_pass(i: int) -> Unit:
        order = names[:]
        rng.shuffle(order)
        cpu0, t0 = tree_cpu_s(), time.time()
        unit = Unit(0.0, 0.0, t0, 0.0)
        for q in order:
            a = time.time()
            try:
                df = specs[q].builder(spark, tables_dir)
                b = time.time()
                df.write.format("noop").mode("overwrite").save()
                c = time.time()
            except Exception as e:  # noqa: BLE001
                res.check(False, f"pass {i} {q}: {str(e).splitlines()[0][:200]}")
                continue
            res.check(True, "")
            unit.ops.append((q, a, b - a, c - b))
        unit.end = time.time()
        unit.wall_s, unit.cpu_s = unit.end - t0, tree_cpu_s() - cpu0
        res.persisted_rdds.append(_persisted(spark))
        return unit

    # each query's fastest of three or more executions is its figure
    res.units = _measure_loop(seconds, one_pass, min_units=3)
    # memory is read once, after the last pass: settling it takes a few
    # seconds of full collections, and the passes hold the same state
    last = res.units[-1]
    last.heap_live, last.nonheap = _settled_jvm_memory(spark)
    return res


def check_query_results(res: Result, tables_dir: str) -> None:
    """Compare each collected result with its registered DuckDB oracle."""
    import duckdb

    from fitness_nutrition_data_pipeline_spark.queries import all_specs
    from tools import verify_queries as vq

    specs = all_specs()
    t0 = time.time()
    con = duckdb.connect()
    for t in vq.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    for q, got in res.extra.pop("collected").items():
        try:
            ok = got == vq.norm_rows(*vq.fetch_oracle(con.sql(specs[q].oracle)))
        except Exception as e:  # noqa: BLE001
            ok = False
            res.errors.append(f"{q}: oracle error {str(e).splitlines()[0][:200]}")
        res.check(ok, f"{q}: result differs from oracle")
    con.close()
    res.extra["oracle_s"] = time.time() - t0
