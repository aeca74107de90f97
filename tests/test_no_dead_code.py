"""Dead-code guard: every top-level function and class of the engine
package is referenced by name from somewhere other than its own
definition, and every entry of the slow-test list names a real test.

A reference is a name load, an attribute, an import alias or a string
constant that is exactly the name (``monkeypatch.setattr(mod, "f", …)``).
Docstring and comment mentions do not count. The places searched are
the engine's other definitions and module-level code,
``__spark_entry__.py``, ``bench.py``, ``annbench/``, ``scripts/`` and
``tests/``. No engine module resolves a definition through
``importlib``/``getattr`` by name, so this static view is complete.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "vectordbindexing_spark")
ROOTS = ["__spark_entry__.py", "bench.py", "annbench", "scripts", "tests"]


def _py_files(path: str) -> list[str]:
    if path.endswith(".py"):
        return [path]
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".py")
    )


def _referenced_names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _is_def(node: ast.AST) -> bool:
    return isinstance(
        node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    )


def test_every_engine_definition_has_a_reference():
    defs: list[tuple[str, str]] = []          # (module path, name)
    refs: dict[str, set[str]] = defaultdict(set)  # name -> referring places
    for path in _py_files(ENGINE):
        rel = os.path.relpath(path, REPO)
        for node in _parse(path).body:
            owner = f"{rel}:{node.name}" if _is_def(node) else rel
            if _is_def(node):
                defs.append((rel, node.name))
            for name in _referenced_names(node):
                refs[name].add(owner)
    for root in ROOTS:
        for path in _py_files(os.path.join(REPO, root)):
            rel = os.path.relpath(path, REPO)
            for name in _referenced_names(_parse(path)):
                refs[name].add(rel)
    unreferenced = [
        f"{rel}:{name}" for rel, name in defs
        if not refs[name] - {f"{rel}:{name}"}
    ]
    assert not unreferenced, (
        "top-level engine definitions nothing references (give each a "
        f"caller or delete it): {unreferenced}"
    )


def test_slow_list_names_existing_tests():
    tests_dir = os.path.join(REPO, "tests")
    conftest = _parse(os.path.join(tests_dir, "conftest.py"))
    slow = next(
        ast.literal_eval(node.value) for node in conftest.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "_SLOW_TESTS" for t in node.targets)
    )
    test_names = {
        node.name
        for path in _py_files(tests_dir)
        for node in ast.walk(_parse(path))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }
    assert sorted(slow - test_names) == []
