"""Dead-code guard for the library package (no Spark needed).

Every top-level ``def``/``class`` and module-level assignment in
``otel_arrow_adapter_spark/`` must be referenced by some ``.py`` file of
the repo outside its own definition and outside the package
``__init__`` re-exports. A name that only its definition and an
``__init__`` import mention is dead: delete it instead of keeping it
importable.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "otel_arrow_adapter_spark")
SKIP_DIRS = {".git", "__pycache__", "spark-warehouse", ".perfbench"}


def _py_files():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [d for d in dirnames if d not in SKIP_DIRS]
        for fn in filenames:
            if fn.endswith(".py"):
                yield os.path.join(dirpath, fn)


def _definitions(tree: ast.Module):
    """(name, first_line, last_line) of each top-level def and assignment."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node.lineno, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node.lineno, node.end_lineno


def _references(tree: ast.Module, is_package_init: bool):
    """(name, line) of every identifier use. In a package ``__init__`` the
    ``from .x import name`` re-exports are not uses."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.ImportFrom) and not (is_package_init and node.level):
            for a in node.names:
                yield a.name, node.lineno


def find_dead_names() -> list[str]:
    trees = {}
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), filename=path)
    refs: dict[str, list[tuple[str, int]]] = {}
    for path, tree in trees.items():
        is_init = os.path.basename(path) == "__init__.py" and path.startswith(PACKAGE)
        for name, line in _references(tree, is_init):
            refs.setdefault(name, []).append((path, line))
    dead = []
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        for name, lo, hi in _definitions(tree):
            used = any(
                not (p == path and lo <= line <= hi) for p, line in refs.get(name, [])
            )
            if not used:
                dead.append(f"{os.path.relpath(path, ROOT)}:{lo} {name}")
    return sorted(dead)


def test_no_dead_library_names():
    dead = find_dead_names()
    assert not dead, "unreferenced library names:\n" + "\n".join(dead)

