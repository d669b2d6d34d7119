"""Every package module is reached from an entry point.

Walks the static import graph (``ast``, imports inside functions
included) from the query registry (``__spark_entry__.py``), ``bench.py``,
the ``perfbench/`` benchmark and the package's ``plans/``. A module only
its own tests import is unreached: delete it with its tests rather than
maintain it.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "companycatalogcrawlerparser_spark"
ENTRY_GLOBS = ("__spark_entry__.py", "bench.py", "perfbench/*.py",
               f"{PKG}/plans/*.py")


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _imports(path: str) -> set:
    """Module names ``path`` imports, with their parent packages."""
    name = _module_name(path)
    is_pkg = path.endswith("__init__.py")
    here = os.path.dirname(path)
    out = set()
    for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = name.split(".")
                base = parts[: len(parts) - node.level + (1 if is_pkg else 0)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            targets = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            # sibling scripts (perfbench imports its own modules by name)
            if "." not in t and os.path.isfile(os.path.join(here, t + ".py")):
                out.add(os.path.join(here, t + ".py"))
                continue
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f:
                    out.add(f)
    return out


def reachable() -> set:
    todo = [p for g in ENTRY_GLOBS for p in glob.glob(os.path.join(ROOT, g))]
    seen = set()
    while todo:
        path = os.path.normpath(todo.pop())
        if path not in seen:
            seen.add(path)
            todo.extend(_imports(path))
    return seen


def test_every_package_module_is_reached():
    modules = {os.path.normpath(p) for p in
               glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)}
    unreached = sorted(os.path.relpath(p, ROOT) for p in modules - reachable())
    assert unreached == []
