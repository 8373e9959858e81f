"""The single source of truth for the cross-engine output-type
contract (shared by tools/verify_queries.py and
tests/test_oracle_types.py so the gate and the lint cannot drift).

The driver fetches BOTH engines' results through pandas/Arrow and
hashes stringified values, so a final output column may only use a
type whose pandas coercion stringifies identically on both lanes.
Everything else (HUGEINT, DECIMAL, FLOAT, lists, ...) must be
canonicalized in the final projection — see tests/test_oracle_types.py
for the defect classes (HUGEINT, DECIMAL).
"""

from __future__ import annotations

ALLOWED_ORACLE_TYPES = {
    "BIGINT",
    "INTEGER",
    "SMALLINT",
    "TINYINT",
    "DOUBLE",
    "VARCHAR",
    "DATE",
    "BOOLEAN",
    # Arrow-stable: pandas Timestamp and Spark datetime stringify
    # identically (three replay queries emit TIMESTAMP).
    "TIMESTAMP",
}
