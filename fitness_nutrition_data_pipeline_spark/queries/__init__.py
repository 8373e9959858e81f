"""Query registry: every operator the engine claims, as a (Spark builder,
DuckDB oracle SQL) pair runnable on the synthetic testdata tables.

Each spec's builder takes ``(spark, sf_dir)`` and returns a DataFrame; the
oracle is ANSI SQL DuckDB can run over the same parquet (views
pre-registered by the driver). Column names/aliases are kept identical on
both sides because the correctness compare sorts columns by name before
hashing. Every spec carries an oracle.
"""

from __future__ import annotations

import pkgutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str,
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
        _REGISTRY[name] = QuerySpec(name=name, builder=builder, oracle=oracle, doc=doc)
        return fn

    return wrap


# Every module of this package is a query module; the directory is the
# only record of which exist. They are imported in sorted order, but a
# module that another one imports while loading registers at that point,
# so all_specs orders the registry itself.
_QUERY_MODULES = tuple(sorted(m.name for m in pkgutil.iter_modules(__path__)))


def all_specs() -> dict[str, QuerySpec]:
    """Registry snapshot: the query modules in sorted order, and each
    module's queries in definition order. A module that fails to import
    raises."""
    import importlib

    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__name__}.{mod}")

    rank = {f"{__name__}.{m}": i for i, m in enumerate(_QUERY_MODULES)}
    # registration order within a module is definition order, and the
    # sort is stable
    ordered = sorted(
        _REGISTRY.values(), key=lambda s: rank.get(s.builder.__module__, len(rank))
    )
    return {s.name: s for s in ordered}
