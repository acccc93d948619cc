"""Dead-code guards for the library package (no Spark needed).

Every top-level ``def``/``class`` and module-level assignment in
``otel_arrow_adapter_spark/`` must be referenced by some ``.py`` file of
the repo outside its own definition and outside the package
``__init__`` re-exports. A name that only its definition and an
``__init__`` import mention is dead: delete it instead of keeping it
importable.

Likewise every defaulted parameter of a top-level library function must
be set by some call in the repo: an option no caller sets is a constant
with extra branches. Make it one.
"""

from __future__ import annotations

import ast
import collections
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


# Per-run deployment settings: where the routed, sink and versioned tables
# live under ``out_dir``, the metrics records' write mode, the capture and
# routed-table codecs and the obfuscation key (a credential). A deployment
# sets them; the repo's own calls need not.
DEPLOYMENT_OPTIONS = {
    ("obfuscate_strings", "key"),
    ("read_sinks", "subdir"),
    ("compact_routed", "subdir"),
    ("write_versioned", "subdir"),
    ("read_versioned", "subdir"),
    ("write_metrics_records", "mode"),
    ("write_capture", "compression"),
    ("write_routed", "codec"),
}


def _code_trees():
    """(path, AST) of every .py file, plus (``path::NAME``, AST) of each
    module-level string constant NAME that is a Python program
    (``bench.py`` runs such strings with ``python -c``, ``str.format``-ed
    first, so ``{{``/``}}`` escapes are undone)."""
    for path in _py_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), filename=path)
        yield path, tree
        for node in tree.body:
            if not (
                isinstance(node, ast.Assign)
                and isinstance(node.value, ast.Constant)
                and isinstance(node.value.value, str)
                and "import " in node.value.value
            ):
                continue
            code = node.value.value
            for render in (str, lambda c: c.format_map(collections.defaultdict(str))):
                try:
                    yield f"{path}::{node.targets[0].id}", ast.parse(render(code))
                    break
                except (SyntaxError, ValueError, KeyError, IndexError):
                    pass


def find_unset_options() -> list[str]:
    """``path:line function(param)`` for each defaulted parameter of a
    top-level library function that no call in the repo sets, by keyword,
    by position or through ``*``/``**``. Calls match by the called name;
    functions that are also used as values (passed, stored) are skipped,
    since a call through the value cannot be traced."""
    trees = list(_code_trees())
    set_by: dict[str, set] = collections.defaultdict(set)
    values: set[str] = set()
    for _, tree in trees:
        callees = set()
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            callees.add(id(f))
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in node.args):
                set_by[name].add("*")
            set_by[name].add(len(node.args))
            set_by[name].update("**" if k.arg is None else k.arg for k in node.keywords)
        for node in ast.walk(tree):
            if id(node) in callees or not isinstance(getattr(node, "ctx", None), ast.Load):
                continue
            if isinstance(node, ast.Name):
                values.add(node.id)
            elif isinstance(node, ast.Attribute):
                values.add(node.attr)
    unset = []
    for path, tree in trees:
        if not path.startswith(PACKAGE + os.sep) or not path.endswith(".py"):
            continue
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)) or fn.name in values:
                continue
            calls = set_by[fn.name]
            if "*" in calls or "**" in calls:
                continue
            a = fn.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            n_pos = max((c for c in calls if isinstance(c, int)), default=0)
            defaulted = positional[len(positional) - len(a.defaults):] + [
                x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            for p in defaulted:
                by_position = p in positional and positional.index(p) < n_pos
                if p in calls or by_position or (fn.name, p) in DEPLOYMENT_OPTIONS:
                    continue
                unset.append(f"{os.path.relpath(path, ROOT)}:{fn.lineno} {fn.name}({p})")
    return sorted(unset)


def test_no_unset_library_options():
    unset = find_unset_options()
    assert not unset, "library options that no call sets:\n" + "\n".join(unset)
