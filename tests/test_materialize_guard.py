"""Materialization guard for the library and the entry module (no Spark
needed).

Only ``otel_arrow_adapter_spark/caching.py`` may call ``localCheckpoint``,
``persist`` or ``cache``. Every other intermediate in
``otel_arrow_adapter_spark/`` and ``__spark_entry__.py`` goes through
``caching.materialize_scope`` / ``owned_result``, which free it when the
scope exits, errors included. Tests, ``perfbench/`` and ``bench.py`` are
not scanned.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "otel_arrow_adapter_spark")
CACHING = os.path.join(PACKAGE, "caching.py")
MATERIALIZING = {"localCheckpoint", "persist", "cache"}


def _scanned():
    yield os.path.join(ROOT, "__spark_entry__.py")
    for dirpath, dirnames, filenames in os.walk(PACKAGE):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            path = os.path.join(dirpath, fn)
            if fn.endswith(".py") and path != CACHING:
                yield path


def test_materialization_only_in_caching():
    sites = []
    for path in _scanned():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in MATERIALIZING
            ):
                sites.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} .{node.func.attr}(")
    assert not sites, (
        f"{len(sites)} materialization(s) outside caching.py; use "
        "caching.materialize_scope instead:\n" + "\n".join(sorted(sites))
    )
