"""Cleaning / normalization Column expressions (SURVEY §2.6-2.7).

The reference's three Python "UDFs" — `_clean_text_list`
(main_etl_pipeline.py:129-135), `_standardize_fitness_goal` (:314-323) and
the BMI validity rule (:202-208, 579-585) — are all expressible as native
Column expressions, so they whole-stage-codegen on the JVM and never cross
the Python boundary. That is the central idiomatic-Spark win over the
reference's row-at-a-time loops.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Split pattern of the reference's multi-value text blobs: comma, newline,
# or the word ' and ' (main_etl_pipeline.py:134).
BLOB_SPLIT_PATTERN = r"[,\n]| and "

# Python str.strip() / re \s whitespace set, spelled out as a Java regex
# character class. It is NEITHER Java's (?U)\s (which misses \x1c-\x1f —
# bidi-separator controls that str.isspace() accepts but are not Unicode
# White_Space) nor ASCII \s. Every strip that must mirror Python text
# semantics uses this class.
PYSPACE_CLASS = (
    "\\t-\\r\\x1c-\\x1f \\x85\\xa0\\u1680\\u2000-\\u200a"
    "\\u2028\\u2029\\u202f\\u205f\\u3000"
)


def normalize_name(name: str) -> str:
    """Lower-case + spaces→underscores (main_etl_pipeline.py:177, 241, 392)."""
    return name.lower().replace(" ", "_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """``normalize_name`` on all column names."""
    return df.toDF(*[normalize_name(c) for c in df.columns])


def clean_text_list(col: Column | str) -> Column:
    """Multi-value text blob → array of cleaned items.

    Splits on comma/newline/' and ' after lower-casing, trims each item and
    drops empties (main_etl_pipeline.py:129-135). NULL input → empty array
    (the reference returns [] for non-strings).
    """
    c = F.col(col) if isinstance(col, str) else col
    items = F.split(F.lower(c), BLOB_SPLIT_PATTERN)
    # PYSPACE_CLASS, not (?U)\s: Python str.strip() removes Unicode
    # whitespace plus \x1c-\x1f; Spark's trim() only strips ASCII spaces
    cleaned = F.transform(
        items,
        lambda x: F.regexp_replace(
            x, f"^[{PYSPACE_CLASS}]+|[{PYSPACE_CLASS}]+$", ""
        ),
    )
    non_empty = F.filter(cleaned, lambda x: x != "")
    return F.coalesce(non_empty, F.array())


def strip_units(col: Column | str) -> Column:
    """Unit-suffixed nutrient string → double.

    Strips a trailing g/mg/mcg/iu/kcal unit (case-insensitive) plus
    whitespace, then casts; cast failure → NULL, matching
    ``pd.to_numeric(errors='coerce')`` (main_etl_pipeline.py:416-427).
    """
    c = F.col(col) if isinstance(col, str) else col
    # PYSPACE_CLASS for Python-whitespace parity (see its doc above).
    # (?d) restricts Java's $ to \n-only line terminators (Java otherwise
    # lets $ match before a trailing NEL/U+2028, which Python's $ does not).
    unit_stripped = F.regexp_replace(
        c, f"(?id)[{PYSPACE_CLASS}]*(g|mg|mcg|iu|kcal)$", ""
    )
    stripped = F.regexp_replace(
        unit_stripped, f"^[{PYSPACE_CLASS}]+|[{PYSPACE_CLASS}]+$", ""
    )
    # try_cast ≡ to_numeric(errors='coerce') under ANSI mode — EXCEPT that
    # Spark's string→numeric cast trims every char ≤ 0x20 at the ends,
    # while Python float() only tolerates true whitespace. After the strip
    # above, any remaining edge char in \x00-\x08 / \x0e-\x1b (control,
    # non-whitespace) would cast in Spark ('0\x08' → 0.0) but coerce to
    # NaN in pandas — null those explicitly for parity.
    bad_edge = stripped.rlike(r"^[\x00-\x08\x0e-\x1b]|[\x00-\x08\x0e-\x1b]$")
    return F.when(~bad_edge, stripped.try_cast("double"))


def standardize_fitness_goal(
    col: Column | str, goal_keywords: Mapping[str, Sequence[str]], default: str = "maintain_health"
) -> Column:
    """Keyword-based goal standardization, first-match-wins in mapping order
    (main_etl_pipeline.py:314-323; config.py:30-35).

    NULL / non-matching input → ``default`` (the reference returns
    'maintain_health' for non-strings and on fall-through).
    """
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(c)
    expr: Column | None = None
    for goal, keywords in goal_keywords.items():
        cond = None
        for kw in keywords:
            hit = lowered.contains(kw)
            cond = hit if cond is None else (cond | hit)
        expr = F.when(cond, goal) if expr is None else expr.when(cond, goal)
    assert expr is not None, "goal_keywords must be non-empty"
    return F.coalesce(expr.otherwise(F.lit(default)), F.lit(default))


def null_out_of_range(col: Column | str, lo: float, hi: float) -> Column:
    """Range-validity conditional null-out (P5): value outside (lo, hi) →
    NULL. Bounds are EXCLUSIVE, matching the reference's ``10 < bmi < 60``
    (main_etl_pipeline.py:204, 581)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when((c > lo) & (c < hi), c).otherwise(F.lit(None))
