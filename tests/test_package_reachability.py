"""Every top-level function and class in the package must be reachable
from something that runs: a registered query, module-level code, the
tools, perfbench, bench.py or __spark_entry__.py. Tests are not roots, so
a def that only its own test calls fails here.

Reachability is by identifier, transitively: a reached def reaches every
``Name``, ``Attribute.attr``, import alias and identifier-like string
constant in its body. Matching names rather than resolving imports keeps
the census simple and errs towards "reachable" when two modules share a
def name."""

import ast
from pathlib import Path

import fitness_nutrition_data_pipeline_spark as pkg

PKG = Path(pkg.__file__).parent
REPO = PKG.parent
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _identifiers(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in node.decorator_list
    )


def test_every_package_def_is_reachable():
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, DEFS):
                roots |= _identifiers(node)  # module-level code runs on import
                continue
            defs.setdefault(node.name, []).append((module, node))
            for d in node.decorator_list:
                roots |= _identifiers(d)
            if _is_registered(node):
                roots.add(node.name)
    entry_files = [
        *sorted((REPO / "tools").glob("*.py")),
        *sorted((REPO / "perfbench").glob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    for path in entry_files:
        roots |= _identifiers(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs.get(name, ()):
            todo.extend(_identifiers(node) - reached)

    unreachable = sorted(
        f"{module}.{name}"
        for name, sites in defs.items()
        if name not in reached
        for module, _ in sites
    )
    assert unreachable == [], f"package defs nothing runs: {unreachable}"

