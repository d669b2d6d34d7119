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


# CrawlConfig fields that no non-test caller sets away from their default,
# each kept for the reason given. Any other such field is a knob nothing
# turns: delete it rather than maintain it.
UNSET_CRAWL_FIELDS = {
    "max_depth": "the reference's crawl depth (seed round + contact "
                 "round); tests stop at a round boundary with it",
    "delay_ms": "the reference's politeness delay; perfbench's politeness "
                "audit reads it",
    "native_extract": "perfbench wraps extract_tokens_meta, the branch's "
                      "other side",
    "url_seen_filter": "perfbench's url-seen replay reads it",
    "respect_robots": "robots.txt gating (north rule), a no-op on corpora "
                      "without robots.txt rows; ROADMAP item 4 decides it",
    "robots_agent": "the user agent the robots gate matches; decided with "
                    "respect_robots",
    "broadcast_frontier": "the shuffled-hash fetch join for frontiers "
                          "beyond broadcast size; ROADMAP item 4 decides it",
    "compact_every": "round-table compaction; ROADMAP item 4 decides it",
    "use_sitemaps": "sitemap contact discovery; ROADMAP item 4 decides it",
}


def _crawl_fields_set_by_callers() -> set:
    """CrawlConfig fields a non-test module sets to a value other than the
    field's default: keyword arguments of ``CrawlConfig(...)`` calls and
    attribute assignments (a non-literal value counts as set)."""
    import dataclasses

    from companycatalogcrawlerparser_spark.plans.crawl import CrawlConfig

    defaults = {f.name: f.default for f in dataclasses.fields(CrawlConfig)}
    paths = [p for g in ("*.py", "perfbench/*.py", "tools/*.py",
                         f"{PKG}/**/*.py")
             for p in glob.glob(os.path.join(ROOT, g), recursive=True)]
    out = set()
    for path in paths:
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and getattr(
                    node.func, "id", getattr(node.func, "attr", None)) == "CrawlConfig":
                pairs = [(k.arg, k.value) for k in node.keywords]
            elif isinstance(node, ast.Assign):
                pairs = [(t.attr, node.value) for t in node.targets
                         if isinstance(t, ast.Attribute)]
            else:
                continue
            for name, value in pairs:
                if name not in defaults:
                    continue
                if isinstance(value, ast.Constant) and value.value == defaults[name]:
                    continue
                out.add(name)
    return out


def test_every_crawl_config_field_is_set_or_listed():
    import dataclasses

    from companycatalogcrawlerparser_spark.plans.crawl import CrawlConfig

    fields = {f.name for f in dataclasses.fields(CrawlConfig)}
    unset = fields - _crawl_fields_set_by_callers()
    assert sorted(unset - set(UNSET_CRAWL_FIELDS)) == []
    # the list names only fields that exist and are unset
    assert sorted(set(UNSET_CRAWL_FIELDS) - unset) == []
