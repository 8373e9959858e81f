"""The registry's order: query modules in sorted order, each module's
queries in the order its source defines them, however the modules
import one another while loading."""

import ast
from pathlib import Path

from fitness_nutrition_data_pipeline_spark import queries
from fitness_nutrition_data_pipeline_spark.queries import _QUERY_MODULES, all_specs


def _registered_names(module: str) -> list[str]:
    """The names of ``@register("name", ...)`` defs, in source order."""
    tree = ast.parse((Path(queries.__file__).parent / f"{module}.py").read_text())
    return [
        d.args[0].value
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        for d in node.decorator_list
        if isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
    ]


def test_all_specs_in_module_then_definition_order():
    expected = [name for m in _QUERY_MODULES for name in _registered_names(m)]
    assert len(expected) == len(set(expected))
    assert list(all_specs()) == expected
