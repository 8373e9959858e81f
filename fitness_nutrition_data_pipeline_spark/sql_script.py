"""SQL-script runner (SURVEY §2.1 S7): executes a validation-corpus-style
script statement-by-statement with the reference's lenient semantics
(main_etl_pipeline.py:826-852, 872-900):

- ``--`` line comments and blank lines skipped;
- ``/* ... */`` block comments skipped (line-granular, like the reference);
- ``SET @name = value`` statements captured as substitution variables (the
  MySQL-session-variable idiom of validation.sql:7-13 — here applied as a
  textual substitution before each subsequent statement, since Spark has
  no session variables of that form);
- statements split on ``;``;
- each statement executed independently; failures are logged at debug
  level and skipped (lenient per-statement failure, :841-842);
- SELECT rows are handed to ``process_row`` (e.g. the validation scorer).
"""

from __future__ import annotations

import logging
import re
from collections.abc import Callable

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

_SET_RE = re.compile(r"^SET\s+(@\w+)\s*=\s*(.+?);?$", re.IGNORECASE)


def parse_sql_statements(sql_script: str) -> list[str]:
    """Reference-parity statement parser (main_etl_pipeline.py:872-900)."""
    statements: list[str] = []
    current: list[str] = []
    in_comment = False

    for line in sql_script.split("\n"):
        stripped = line.strip()
        if not stripped or stripped.startswith("--"):
            continue
        if "/*" in stripped:
            in_comment = True
        if "*/" in stripped:
            in_comment = False
            continue
        if in_comment:
            continue

        if stripped.upper().startswith("SET "):
            statements.append(stripped)
        else:
            current.append(line)
            if ";" in line:
                stmt = "\n".join(current).replace(";", "").strip()
                if stmt:
                    statements.append(stmt)
                current = []
    return statements


def run_sql_script(
    spark: SparkSession,
    sql_script: str,
    process_row: Callable[[dict], None] | None = None,
) -> dict:
    """Execute a script statement by statement; returns {'executed': n,
    'failed': n, 'rows': n}. A SET governs the statements after it."""
    variables: dict[str, str] = {}
    stats = {"executed": 0, "failed": 0, "rows": 0}
    for statement in parse_sql_statements(sql_script):
        m = _SET_RE.match(statement)
        if m:
            variables[m.group(1)] = m.group(2).strip()
            continue
        stmt = statement
        for name, value in variables.items():
            stmt = stmt.replace(name, value)
        try:
            df = spark.sql(stmt)
            rows = df.collect() if statement.strip().upper().startswith("SELECT") else []
        except Exception as e:  # lenient: log + continue (:841-842)
            stats["failed"] += 1
            logger.debug("statement failed: %s", str(e)[:120])
            continue
        stats["executed"] += 1
        for row in rows:
            stats["rows"] += 1
            if process_row is not None:
                process_row(row.asDict())
    return stats
