"""Every package module is reachable from a non-test entry point.

An AST walk over import statements (function-level imports included)
starting from ``__spark_entry__.py``, the bench scripts, the
spark-submit scripts and perfbench.  A module nothing ships is dead
weight in the ``--py-files`` zip; it either gets an entry point, a
place in ``LIBRARY_SURFACES`` with the reason it stays, or deleted."""

from __future__ import annotations

import ast
import glob
import os

from ocr_hardsubx_spark.plans.packaging import REPO_DIR

PKG = "ocr_hardsubx_spark"
ENTRY_GLOBS = ("__spark_entry__.py", "bench.py", "bench_extra.py",
               "scripts/*.py", "perfbench/*.py")

# modules only tests import, kept as library surface
LIBRARY_SURFACES = {
    f"{PKG}.sources.catalog":
        "Iceberg-or-parquet documents source (feature-detected catalog)",
    f"{PKG}.streaming.extract_stream":
        "streaming twin of the extraction job (stream==batch tests)",
    f"{PKG}.streaming.stateful_sessions":
        "streaming twin of q_sessionize (stream==batch tests)",
}


def _module_path(name: str) -> str | None:
    base = os.path.join(REPO_DIR, *name.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(p):
            return p
    return None


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO_DIR)[:-len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imports(path: str) -> set[str]:
    """Dotted names of every module ``path`` may import, with each
    enclosing package (importing a.b.c runs a/__init__ and a/b/__init__)."""
    name = _module_name(path)
    package = name if path.endswith("__init__.py") else name.rpartition(".")[0]
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[:len(parts) - node.level + 1])
                mod = f"{base}.{node.module}" if node.module else base
            else:
                mod = node.module
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    out = set()
    for mod in found:
        parts = mod.split(".")
        out.update(".".join(parts[:i + 1]) for i in range(len(parts)))
    return {m for m in out if _module_path(m)}


def _reached() -> set[str]:
    todo = [p for g in ENTRY_GLOBS
            for p in glob.glob(os.path.join(REPO_DIR, g))]
    seen: set[str] = set()
    while todo:
        path = todo.pop()
        for mod in _imports(path) - seen:
            seen.add(mod)
            todo.append(_module_path(mod))
    return seen


def _package_modules() -> set[str]:
    return {_module_name(p) for p in glob.glob(
        os.path.join(REPO_DIR, PKG, "**", "*.py"), recursive=True)}


def test_every_package_module_is_reached():
    reached = _reached()
    assert f"{PKG}.plans.dataset_queries" in reached  # the walk works
    unreached = _package_modules() - reached - set(LIBRARY_SURFACES)
    assert not unreached, sorted(unreached)


def test_library_surfaces_are_still_unreached_modules():
    """A listed surface that gained an entry point, or was deleted,
    leaves the list."""
    modules, reached = _package_modules(), _reached()
    for name in LIBRARY_SURFACES:
        assert name in modules and name not in reached, name
