"""Registry-wide output-type lints for the cross-engine hash gate.

The driver fetches the DuckDB oracle via Arrow/pandas and stringifies
both engines' values before hashing.  Any type whose string form
differs between the lanes is a silent hash-red:

* HUGEINT (DuckDB bare ``sum()`` over integers) -> float64: ``60.0``
  vs Spark's ``60`` (three r6 reds).
* DECIMAL -> float64: the oracle lane reprs ``0.05`` while Spark
  collects fixed-scale ``Decimal('0.050000')`` -> ``'0.050000'`` —
  red iff any value's decimal string has trailing zeros (five r7
  reds, six latent).  The SAME defect class, one type later.

Instead of chasing types one-by-one, both lints are allowlists:

* every final ORACLE column must type as one of
  BIGINT/INTEGER/SMALLINT/TINYINT/DOUBLE/VARCHAR/DATE/BOOLEAN —
  anything else (HUGEINT, DECIMAL, TIMESTAMP, FLOAT, lists, ...) must
  be canonicalized inside the SQL (``CAST(... AS DOUBLE)``,
  ``CAST(... AS VARCHAR)``);
* every final SPARK schema from a registered query must use only
  Long/Integer/Short/Byte/Double/String/Date/Boolean — in particular
  no ``DecimalType``: quantize through decimal for cross-engine
  exactness, then ``.cast("double")`` (the stats_ops ``ks_stat``
  pattern).

The same file pins the engine arithmetic the oracles rely on: division
by zero yields NULL on both engines (through ``try_divide`` in Spark),
and half-boundary averages round identically only through the exact
integer half-up formula.

Cost honesty: the ORACLE half is binder-only (no execution). The
SPARK half lints the REAL registered builders rather than a parallel
registry that could drift; since r13 it reads schemas from the shared
one-pass ``registry_plans`` fixture (conftest) instead of re-building
all ~300 queries itself — the build cost (including the sink-executing
audit builders) is paid once per suite run, shared with the digest,
cartesian and output-order gates.
"""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fitness_nutrition_data_pipeline_spark.oracle_types import (
    ALLOWED_ORACLE_TYPES,
)  # single source of truth — shared with tools/verify_queries.py
from fitness_nutrition_data_pipeline_spark.queries import all_specs

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

ALLOWED_SPARK_TYPES = (
    T.LongType,
    T.IntegerType,
    T.ShortType,
    T.ByteType,
    T.DoubleType,
    T.StringType,
    T.DateType,
    T.BooleanType,
    # mirrors the oracle allowlist: timestamps stringify identically
    # across the lanes; driver-green since r5.
    T.TimestampType,
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_oracle_output_types_allowlisted(con):
    offenders = {}
    for name, spec in all_specs().items():
        rel = con.sql(spec.oracle)  # binder only; no execution
        bad = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t).upper() not in ALLOWED_ORACLE_TYPES
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracle output columns outside the Arrow-stable allowlist "
        f"{sorted(ALLOWED_ORACLE_TYPES)}: {offenders} — the driver's "
        f"pandas/Arrow fetch coerces these (HUGEINT/DECIMAL -> float64, "
        f"TIMESTAMP -> Timestamp) so the value hash diverges from "
        f"Spark's str(); canonicalize with CAST(... AS DOUBLE/BIGINT/"
        f"VARCHAR) as the final projection"
    )


def test_spark_output_types_allowlisted(registry_plans):
    offenders = {}
    for name, plans in registry_plans.items():
        schema = plans["schema"]
        bad = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if not isinstance(f.dataType, ALLOWED_SPARK_TYPES)
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"registered queries with final schema types outside "
        f"Long/Int/Short/Byte/Double/String/Date/Boolean: {offenders} — "
        f"Spark collects DecimalType as fixed-scale Decimal "
        f"('0.050000') while the driver's oracle lane reprs float64 "
        f"('0.05'); finish every decimal quantization with "
        f'.cast("double") (stats_ops ks_stat pattern)'
    )


def test_lints_are_not_vacuous(con, spark):
    """Self-test: the allowlists must actually REJECT the two defect
    classes that cost rounds 6 and 7 — a bare integer sum() (HUGEINT)
    and a DECIMAL cast — on both engines' lanes."""
    from pyspark.sql import functions as F

    rel = con.sql(
        "SELECT sum(r_regionkey) AS s, "
        "CAST(1.5 AS DECIMAL(18,2)) AS d FROM region"
    )
    bad = [
        str(t)
        for t in rel.types
        if str(t).upper() not in ALLOWED_ORACLE_TYPES
    ]
    assert len(bad) == 2, f"expected HUGEINT+DECIMAL rejected, got {bad}"

    sdf = spark.range(1).select(
        F.lit(1.5).cast("decimal(18,2)").alias("d"),
        F.lit(1).alias("ok"),
    )
    bad_s = [
        f.dataType.simpleString()
        for f in sdf.schema.fields
        if not isinstance(f.dataType, ALLOWED_SPARK_TYPES)
    ]
    assert bad_s == ["decimal(18,2)"], bad_s


def test_division_by_zero_null_on_both_engines(spark):
    """Round-5 ADVICE: jaccard 0/0 on an empty-shingle pair. The operator
    (operators/dedup.py::jaccard_on_adjacent_pairs) emits a NULL for the
    degenerate pair instead of filtering it (a pushed-down denom>0
    predicate re-evaluates array_intersect per row — measured 1.6× on
    ngram_jaccard_pairs). That is only sound if both engines produce the
    same NULL: Spark 4 runs ANSI mode where plain `/` by zero THROWS, so
    the operator must use try_divide; DuckDB's plain division already
    yields NULL. Pin both behaviors."""
    import duckdb

    spark_row = spark.sql(
        "SELECT try_divide(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS a,"
        "       try_divide(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS b"
    ).collect()[0]
    assert spark_row.a is None and spark_row.b is None
    duck_row = duckdb.sql(
        "SELECT CAST(0.0 AS DOUBLE)/CAST(0.0 AS DOUBLE) AS a,"
        "       CAST(1.0 AS DOUBLE)/CAST(0.0 AS DOUBLE) AS b"
    ).fetchone()
    assert duck_row == (None, None)
    # and the ANSI default that motivates try_divide really is on
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_half_boundary_rounding_diverges_and_integer_formula_agrees(spark):
    """Round-5 finding (caught by cross-SF verification of tpch_q2): when a
    mean of exact 2-decimal money lands exactly on a half boundary
    (e.g. avg(10.01, 10.02) = 10.015), Spark and DuckDB round the DOUBLE
    in opposite directions — Spark rounds the shortest decimal repr
    half-up (10.02), DuckDB rounds the binary value (10.0149999… →
    10.01). Queries must therefore round such averages with exact integer
    half-up over cent sums (floor((2*cents + n) / (2*n))), the pattern
    used by tpch_q2_min_cost_supplier and monthly_customer_spend. Pin the
    divergence (so we notice if an engine changes) and the formula."""
    import duckdb

    # 583.43/8 = 72.92875 exactly; its nearest double is BELOW the
    # boundary (72.928749999…), so DuckDB (binary value) rounds down
    # while Spark (shortest decimal repr "72.92875", HALF_UP) rounds up.
    # (Which side the binary value falls on varies per literal — 10.015's
    # double is above its boundary and both engines round it up — which
    # is exactly why no double-rounding convention can be portable.)
    s = spark.sql(
        "SELECT round(CAST(583.43 AS DOUBLE) / 8, 4) AS r"
    ).collect()[0].r
    d = duckdb.sql("SELECT round(CAST(583.43 AS DOUBLE) / 8, 4) AS r").fetchone()[0]
    assert s == 72.9288 and d == 72.9287  # the trap: engines disagree

    # the exact integer formula agrees with decimal HALF_UP on both
    # engines: sp/sq in cents-scaled units, result in 1e4ths (4dp)
    sp, sq = 58343, 800  # 583.43 and 8.00, cents-scaled
    expect = 729288  # 72.9288 in 1e4ths, half-up
    s2 = spark.sql(
        f"SELECT (CAST({sp} AS BIGINT) * 20000 + {sq}) DIV (2 * {sq}) AS c"
    ).collect()[0].c
    d2 = duckdb.sql(
        f"SELECT (CAST({sp} AS BIGINT) * 20000 + {sq}) // (2 * {sq}) AS c"
    ).fetchone()[0]
    assert s2 == expect and d2 == expect


def test_avg_half_boundary_integer_formula(spark):
    """sf0.001 sweep regression: 307.03/8 = 38.37875 exactly — a 4dp half
    boundary where Spark's round (BigDecimal HALF_UP on the double's
    exact value) gives .3788 while DuckDB's scale-multiply can land a ulp
    below the midpoint and give .3787. incremental_agg_merge's integer
    half-up formula must produce the same digits as DuckDB's version of
    the same integer formula, boundary included."""
    import duckdb

    df = spark.createDataFrame([(307.03, 8)], "total double, n long")
    got = (
        df.select(
            (
                # the DECIMAL cast before scaling is load-bearing: a raw
                # double total*100 can land at 30702.999... and truncate
                F.expr(
                    "CAST(((CAST(CAST(total AS DECIMAL(18,2)) * 100 AS LONG)"
                    " * 100 * 2 + n) div (2 * n)) AS DOUBLE)"
                )
                / 10000
            ).alias("avg4")
        )
        .first()
        .avg4
    )
    want = (
        duckdb.connect()
        .execute(
            "SELECT CAST((CAST(307.03 * 100 AS BIGINT) * 100 * 2 + 8) "
            "// (2 * 8) AS DOUBLE) / 10000"
        )
        .fetchone()[0]
    )
    assert got == want == 38.3788
