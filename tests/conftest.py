import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fitness_nutrition_data_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture(scope="session")
def registry_plans(spark):
    """ONE build+explain pass over every registered query, shared by the
    four registry-wide gates (plan digests, cartesian-product lint,
    output-order contract, Spark schema allowlist). Before r13 each of
    those gates re-built all ~300 plans itself — four redundant passes,
    ~8 min of the suite's wall-clock (the round-trip/write-audit
    builders execute their sinks at build time, so re-building is not
    free). Built at the digest-canonical config (sf0.01, shuffle
    partitions 32) because the committed digest map is only meaningful
    there; the other three gates' assertions are config-independent
    (operator presence, logical-plan root shape, schema types).

    name -> {schema, formatted, optimized, max_rows}: the Spark schema,
    the formatted-mode explain text, the optimized logical plan string,
    and Catalyst's maxRows bound (None when undefined).
    """
    import contextlib
    import io

    from fitness_nutrition_data_pipeline_spark.queries import all_specs
    from tools.registry_digest import CANONICAL_SF_DIR

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    out = {}
    try:
        for name, spec in all_specs().items():
            df = spec.builder(spark, CANONICAL_SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            opt = df._jdf.queryExecution().optimizedPlan()
            max_rows = opt.maxRows()
            out[name] = {
                "schema": df.schema,
                "formatted": buf.getvalue(),
                "optimized": opt.toString(),
                "max_rows": max_rows.get() if max_rows.isDefined() else None,
            }
    finally:
        spark.conf.set(key, prev)
    return out


def pytest_sessionstart(session):
    _print_probe("suite-start")


def pytest_sessionfinish(session, exitstatus):
    _print_probe("suite-finish")


def _print_probe(tag: str) -> None:
    """Self-annotating suite timing (same protocol as bench.py's
    probe_sec): the suite's wall-clock drifted 14m09s -> 16m39s across
    one r13 session with an identical test list while the host probe
    drifted 0.70 -> 0.84 — without a probe in the log, a slow run reads
    as a regression. Failures here must never fail the suite."""
    try:
        from bench import host_probe_mc_sec, host_probe_sec

        print(f"\n[{tag}] host_probe_sec={host_probe_sec()} "
              f"host_probe_mc_sec={host_probe_mc_sec()}")
    except Exception:  # noqa: BLE001
        pass


def pytest_terminal_summary(terminalreporter):
    """List the tests skipped because the reference's own input data is
    absent under a "not measured" heading: without that data, parity
    with the reference is unmeasured, which a bare skip count hides.
    Informational only; the exit status is unchanged."""
    not_measured = [
        rep.nodeid
        for rep in terminalreporter.stats.get("skipped", [])
        if "reference data" in _skip_reason(rep)
    ]
    if not_measured:
        terminalreporter.section("not measured: reference data absent")
        for nodeid in not_measured:
            terminalreporter.line(nodeid)


def _skip_reason(rep) -> str:
    longrepr = rep.longrepr
    return str(longrepr[2]) if isinstance(longrepr, tuple) else str(longrepr)
