"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``fitness_nutrition_data_pipeline_spark``; this module just
adapts the registry to the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the driver may import this module with any cwd — anchor the package path
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fitness_nutrition_data_pipeline_spark.queries import all_specs  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: star-join top-k revenue."""
    spec = all_specs()["star_join_topk"]
    return spec.builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star ops)."""
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle for every registered query."""
    return {name: spec.oracle for name, spec in all_specs().items()}
