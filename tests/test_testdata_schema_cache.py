"""Session schema registry of ``sources/testdata.load_table``: the first
read of a file infers its parquet schema, later reads reuse it and start
no Spark job, and a rewritten file or a changed inference conf is
re-inferred. Jobs are counted exactly, per job group, through the status
tracker."""

from __future__ import annotations

import ast
import contextlib
import itertools
import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from fitness_nutrition_data_pipeline_spark.sources import testdata
from fitness_nutrition_data_pipeline_spark.sources.testdata import TABLES, load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_groups = itertools.count()


@contextlib.contextmanager
def count_jobs(spark):
    """Yield a one-element list that holds, after the block, the number of
    Spark jobs the block started on this thread."""
    sc = spark.sparkContext
    group = f"schema_cache_{next(_groups)}"
    out = [0]
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc._jsc.clearJobGroup()
        out[0] = len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(map(repr, df.collect()))


def test_second_load_starts_no_job(spark, sf_dir):
    testdata._schemas.clear()
    with count_jobs(spark) as first:
        load_table(spark, sf_dir, "lineitem")
    with count_jobs(spark) as second:
        load_table(spark, sf_dir, "lineitem")
    assert first[0] > 0, "the first read should infer the schema"
    assert second[0] == 0


def test_cached_reads_match_inferred_reads(spark, sf_dir):
    for name in TABLES:
        path = f"{sf_dir}/{name}.parquet"
        testdata._schemas.clear()
        ref = load_table(spark, sf_dir, name, parallelize=False)
        with count_jobs(spark) as jobs:
            got = load_table(spark, sf_dir, name, parallelize=False)
            raw = testdata._read_parquet(spark, path)
        assert jobs[0] == 0, name
        assert raw.schema == spark.read.parquet(path).schema, name
        assert got.schema == ref.schema, name
        assert _rows(got) == _rows(ref), name
    # a registry hit still gets events.ts normalised to a session-TZ TIMESTAMP
    events = load_table(spark, sf_dir, "events")
    assert events.schema["ts"].dataType.typeName() == "timestamp"


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    before = load_table(spark, str(tmp_path), "region")
    assert before.columns == ["r_regionkey"]

    mtime = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    with count_jobs(spark) as jobs:
        after = load_table(spark, str(tmp_path), "region")
    assert jobs[0] > 0
    assert after.columns == ["r_regionkey", "r_name"]
    assert sorted(after.collect()) == [(0, "A"), (1, "B")]


def test_conf_change_is_reinferred(spark, sf_dir):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    load_table(spark, sf_dir, "orders")
    try:
        spark.conf.set(key, "false" if prev == "true" else "true")
        with count_jobs(spark) as flipped:
            load_table(spark, sf_dir, "orders")
        with count_jobs(spark) as again:
            load_table(spark, sf_dir, "orders")
    finally:
        spark.conf.set(key, prev)
    assert flipped[0] > 0
    assert again[0] == 0


def test_concurrent_loads_agree(spark, sf_dir):
    """Threads sharing one session (``verify_queries --jobs``) read through
    the registry at once, starting from an empty one; each gets the
    schema a fresh inference gives."""
    want = {n: load_table(spark, sf_dir, n).schema for n in TABLES}
    testdata._schemas.clear()
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [
                pool.submit(lambda n: (n, load_table(spark, sf_dir, n).schema), n)
                for _ in range(3) for n in TABLES
            ]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(prev)
    assert all(schema == want[n] for n, schema in got)


def _query_mix() -> tuple[str, ...]:
    """The benchmark's query mix, read from its source without importing
    the benchmark package."""
    src = open(os.path.join(REPO, "perfbench", "workloads.py")).read()
    for node in ast.parse(src).body:
        if isinstance(node, ast.Assign) and node.targets[0].id == "QUERY_MIX":
            return ast.literal_eval(node.value)
    raise AssertionError("QUERY_MIX not found in perfbench/workloads.py")


def test_query_mix_builders_start_no_scan_jobs(spark, sf_dir):
    """With every table read once, building the benchmark's query mix
    starts jobs only in entity_resolution_profiles, whose builder pins
    sizes eagerly; every other builder is pure plan construction."""
    from fitness_nutrition_data_pipeline_spark.queries import all_specs

    for name in TABLES:
        load_table(spark, sf_dir, name)
    specs = all_specs()
    jobs = {}
    for q in _query_mix():
        with count_jobs(spark) as n:
            specs[q].builder(spark, sf_dir)
        jobs[q] = n[0]
    assert {q for q, n in jobs.items() if n} == {"entity_resolution_profiles"}, jobs
