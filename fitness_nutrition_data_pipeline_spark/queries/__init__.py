"""Query registry: every operator the engine claims, as a (Spark builder,
DuckDB oracle SQL) pair runnable on the synthetic testdata tables.

Each spec's builder takes ``(spark, sf_dir)`` and returns a DataFrame; the
oracle is ANSI SQL DuckDB can run over the same parquet (views
pre-registered by the driver). Column names/aliases are kept identical on
both sides because the correctness compare sorts columns by name before
hashing. Specs without an oracle (non-SQL-expressible ops) set
``oracle=None`` and get a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    sort: tuple[str, ...] | None = None


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    doc: str = "",
    sort: tuple[str, ...] | None = None,
):
    """Decorator: add a query builder to the global registry.

    ``sort``: output-order contract — columns appended as a final total
    sort so every registered query returns deterministically ordered
    rows (enforced by tests/test_plans.py::test_deterministic_output_order).
    Declare it here when the builder body doesn't already end in a sort;
    the oracle SQL must carry the matching final ORDER BY.

    The contract is implemented as ``repartition(1).sortWithinPartitions``
    rather than ``orderBy``: a distributed ``orderBy`` inserts a
    RangePartitioning exchange whose boundary-sampling pass RE-EXECUTES the
    unmaterialized child subplan — measured +57% on ngram_jaccard_pairs at
    sf0.1, where the child is a join projecting array_intersect per row.
    The round-robin repartition materializes the (answer-sized) result
    once, and a single reduce task sorts it with no sampling job — total
    order at zero marginal cost. The contract runs on the RESULT relation,
    which is driver-collectable by construction; at 100 TB a caller that
    needs a distributed total order of a huge relation should ``orderBy``
    explicitly — this is an output contract, not a computation step.
    """

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        builder = fn
        if sort:
            import functools

            @functools.wraps(fn)
            def sorted_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
                return fn(spark, sf_dir).repartition(1).sortWithinPartitions(*sort)

            builder = sorted_builder
        _REGISTRY[name] = QuerySpec(
            name=name, builder=builder, oracle=oracle, doc=doc,
            sort=tuple(sort) if sort else None,
        )
        return fn

    return wrap


_QUERY_MODULES = (
    "analytics_ops",
    "analytics_ops2",
    "analytics_ops3",
    "behavior_ops",
    "corpus_ops",
    "corpus_ops2",
    "curation",
    "eval_ops",
    "graph_ops",
    "llm_ops",
    "multimodal_ops",
    "profiling",
    "relational",
    "relational2",
    "relational3",
    "retrieval_ops",
    "sampling",
    "scale_ops",
    "serving_ops",
    "sketch_ops",
    "stats_ops",
    "text_ops",
    "text_ops2",
    "text_ops3",
    "tpch_like",
    "tpch_like2",
    "tpch_like3",
    "tpch_like4",
    "warehouse_ops",
)

# module name → import error message; populated by all_specs (empty when
# every module registered cleanly). Inspected by tools/verify_queries.py.
IMPORT_FAILURES: dict[str, str] = {}


def all_specs() -> dict[str, QuerySpec]:
    """Registry snapshot in registration order.

    Module imports are ISOLATED: one module failing to import (e.g. a
    Spark API that moved between environment versions — it has happened
    between rounds) must cost its own queries only, never the other 100+.
    Failures are recorded in IMPORT_FAILURES, not swallowed silently;
    set SPARK_GRAFT_STRICT_IMPORTS=1 to re-raise (local dev / CI).
    """
    import importlib
    import logging
    import os

    strict = bool(os.environ.get("SPARK_GRAFT_STRICT_IMPORTS"))
    for mod in _QUERY_MODULES:
        try:
            importlib.import_module(f"fitness_nutrition_data_pipeline_spark.queries.{mod}")
        except Exception as e:  # noqa: BLE001
            if strict:
                raise
            IMPORT_FAILURES[mod] = f"{type(e).__name__}: {e}"
            logging.getLogger(__name__).warning(
                "query module %s failed to import (its queries are "
                "unavailable this run): %s", mod, e
            )

    return dict(_REGISTRY)
