"""Every package module and public function is reached from a non-test
module.

Modules: walks the static import graph (``ast``, imports inside functions
included) from the query registry (``__spark_entry__.py``), ``bench.py``,
the ``perfbench/`` benchmark and the package's ``plans/``. A module only
its own tests import is unreached: delete it with its tests rather than
maintain it.

Functions: every public top-level function and method of the package
outside ``refsem/`` (the reference semantics, the tests' oracle) must be
named by some non-test module other than in its own body or an
``__all__`` list, or be listed in ``UNREACHED_FUNCTIONS`` with a reason.
A local variable, parameter or loop target of the same name is not a
reference. A ``True``/``False`` parameter of such a function must be
passed by some non-test call.

Configs: every field of ``CrawlConfig`` and ``CurationConfig`` must be
set away from its default by some non-test module, or be listed with a
reason.
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


# Config dataclass fields that no non-test caller sets away from their
# default, each kept for the reason given. Any other such field is a knob
# nothing turns: delete it rather than maintain it.
UNSET_CRAWL_FIELDS = {
    "max_depth": "the reference's crawl depth (seed round + contact "
                 "round); tests stop at a round boundary with it",
    "delay_ms": "the reference's politeness delay; perfbench's politeness "
                "audit reads it",
    "native_extract": "perfbench wraps extract_tokens_meta, the branch's "
                      "other side",
    "url_seen_filter": "perfbench's url-seen replay reads it",
    "robots_agent": "a deployment setting: the user agent the robots gate "
                    "matches",
}
PIPELINE_FIXTURE = "tests/test_pipeline.py's 45-doc fixture sets it"
UNSET_CURATION_FIELDS = {
    "quality_min": PIPELINE_FIXTURE,
    "jaccard_threshold": PIPELINE_FIXTURE,
    "shard_budget_tokens": PIPELINE_FIXTURE,
}


def _unset_config_fields(cls) -> set:
    """Fields of the dataclass ``cls`` that no non-test module sets to a
    value other than the field's default: keyword arguments of
    ``cls(...)`` calls and attribute assignments (a non-literal value
    counts as set)."""
    import dataclasses

    defaults = {f.name: f.default for f in dataclasses.fields(cls)}
    paths = [p for g in ("*.py", "perfbench/*.py", "tools/*.py",
                         f"{PKG}/**/*.py")
             for p in glob.glob(os.path.join(ROOT, g), recursive=True)]
    out = set()
    for path in paths:
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and getattr(
                    node.func, "id", getattr(node.func, "attr", None)) == cls.__name__:
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
    return set(defaults) - out


def test_every_crawl_config_field_is_set_or_listed():
    from companycatalogcrawlerparser_spark.plans.crawl import CrawlConfig

    unset = _unset_config_fields(CrawlConfig)
    assert sorted(unset - set(UNSET_CRAWL_FIELDS)) == []
    # the list names only fields that exist and are unset
    assert sorted(set(UNSET_CRAWL_FIELDS) - unset) == []


def test_every_curation_config_field_is_set_or_listed():
    from companycatalogcrawlerparser_spark.plans.pipeline import CurationConfig

    unset = _unset_config_fields(CurationConfig)
    assert sorted(unset - set(UNSET_CURATION_FIELDS)) == []
    assert sorted(set(UNSET_CURATION_FIELDS) - unset) == []


# Non-test modules: the package, the query registry, bench.py, the
# benchmark and the tools.
NON_TEST_GLOBS = ("*.py", "perfbench/*.py", "tools/*.py", f"{PKG}/**/*.py")

CATALOG = "catalog plan entry point (paper component 1, the catalog scrape)"
MAILER = "mailer plan entry point (paper component 3, the mailer batches)"
WEBGEN = "webgen page builder for test corpora"
SHARD_READER = ("the reader half of commit_shards' layout, so that format "
                "stays known to one module")

# Public functions no non-test module names, each kept for the reason
# given. Any other such function is code only its own tests run: delete
# it with them rather than maintain it.
UNREACHED_FUNCTIONS = {
    "plans/catalog.py::extract_country_list": CATALOG,
    "plans/catalog.py::extract_russian_cities": CATALOG,
    "plans/catalog.py::extract_russian_regions": CATALOG,
    "plans/catalog.py::listing_urls": CATALOG,
    "plans/mailer.py::commit_batch": MAILER,
    "plans/mailer.py::delete_files": MAILER,
    "plans/mailer.py::next_batch": MAILER,
    "plans/mailer.py::send_groups": MAILER,
    "plans/pipeline.py::pages_to_docs": "pipeline plan entry point: crawled "
        "pages to the documents curate_training_corpus takes",
    "sources/webgen.py::country_list_page": WEBGEN,
    "sources/webgen.py::robots_txt": WEBGEN,
    "sources/webgen.py::russian_cities_page": WEBGEN,
    "sources/webgen.py::russian_regions_page": WEBGEN,
    "operators/bpe.py::encode_word_py": "the pure-Python reference twin the "
        "BPE tests compare the engine's encoder against",
    "operators/dedup.py::lsh_oversized_buckets": "the audit "
        "test_winnow_skew_cap_observed_matches_audit checks the in-job LSH "
        "cap against",
    "operators/dedup.py::winnow_oversized_prints": "the audit "
        "test_winnow_skew_cap_observed_matches_audit checks the in-job "
        "winnowing cap against",
    "storage/snapshots.py::SnapshotStore.read_shard": SHARD_READER,
    "storage/snapshots.py::SnapshotStore.shard_ids": SHARD_READER,
}


def _public_functions() -> dict:
    """``"<path in package>::<name>"`` → (name, (path, line of its def)),
    for every public top-level function and public method of a public
    top-level class, outside ``refsem/``."""
    out = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, os.path.join(ROOT, PKG)).replace(os.sep, "/")
        if rel.startswith("refsem/"):
            continue
        tree = ast.parse(open(path, encoding="utf-8").read())
        for node in tree.body:
            if isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                members = [(f"{node.name}.{getattr(m, 'name', '')}", m)
                           for m in node.body]
            else:
                members = [(getattr(node, "name", ""), node)]
            for qual, fn in members:
                if (isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                        and not fn.name.startswith("_")):
                    out[f"{rel}::{qual}"] = (fn.name, (os.path.normpath(path), fn.lineno))
    return out


def _bound_names(fn) -> set:
    """Names the function ``fn`` binds itself: its parameters (and those
    of the functions and lambdas inside it) and every assignment, loop,
    ``with`` or comprehension target in its body."""
    out = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.arg):
            out.add(node.arg)
        elif isinstance(node, ast.Name) and isinstance(node.ctx, (ast.Store, ast.Del)):
            out.add(node.id)
    return out


def _name_references() -> dict:
    """name → the top-level defs (path, line of the def; None outside
    any) whose bodies name it, over the non-test modules. A name is an
    identifier the enclosing def does not bind itself, an attribute or a
    string constant equal to it; the strings of an ``__all__`` list do
    not count."""
    refs: dict = {}

    def visit(node, owner, bound, path):
        for child in ast.iter_child_nodes(node):
            if (isinstance(child, ast.Assign) and any(
                    getattr(t, "id", None) == "__all__" for t in child.targets)):
                continue
            if owner is None and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner, inner_bound = (path, child.lineno), _bound_names(child)
            else:
                inner, inner_bound = owner, bound
            if isinstance(child, ast.Name):
                if child.id not in bound:
                    refs.setdefault(child.id, set()).add(owner)
            elif isinstance(child, ast.Attribute):
                refs.setdefault(child.attr, set()).add(owner)
            elif isinstance(child, ast.Constant) and isinstance(child.value, str):
                refs.setdefault(child.value, set()).add(owner)
            # class bodies stay top level: a method is its own owner
            if isinstance(child, ast.ClassDef):
                visit(child, owner, bound, path)
            else:
                visit(child, inner, inner_bound, path)

    for g in NON_TEST_GLOBS:
        for path in glob.glob(os.path.join(ROOT, g), recursive=True):
            path = os.path.normpath(path)
            visit(ast.parse(open(path, encoding="utf-8").read()), None, set(), path)
    return refs


def test_every_public_function_is_referenced_or_listed():
    refs = _name_references()
    unreferenced = sorted(
        key for key, (name, where) in _public_functions().items()
        if not refs.get(name, set()) - {where}
    )
    assert sorted(set(unreferenced) - set(UNREACHED_FUNCTIONS)) == []
    # the list names only functions that exist and are unreferenced
    assert sorted(set(UNREACHED_FUNCTIONS) - set(unreferenced)) == []


def _bool_parameters() -> dict:
    """``"<path in package>::<name>"`` → (name, {parameter: position}) for
    every public function outside ``refsem/`` (see ``_public_functions``)
    whose parameters include one with a ``True``/``False`` default. The
    position counts ``self``/``cls`` out of a method's parameters;
    keyword-only parameters have position None."""
    out = {}
    for key, (name, (path, line)) in _public_functions().items():
        tree = ast.parse(open(path, encoding="utf-8").read())
        fn = next(n for n in ast.walk(tree)
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and n.name == name and n.lineno == line)
        a = fn.args
        positional = a.posonlyargs + a.args
        if "." in key.split("::")[1] and positional and positional[0].arg in ("self", "cls"):
            positional = positional[1:]
        flags = {}
        for i, (p, d) in enumerate(zip(positional[len(positional) - len(a.defaults):],
                                       a.defaults)):
            if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                flags[p.arg] = len(positional) - len(a.defaults) + i
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if isinstance(d, ast.Constant) and isinstance(d.value, bool):
                flags[p.arg] = None
        if flags:
            out[key] = (name, flags)
    return out


def _passed_parameters(name: str, flags: dict) -> set:
    """The parameters in ``flags`` that some call of ``name`` (a plain or
    attribute call) in a non-test module passes, by keyword or by
    position; a ``**`` splat passes every keyword, a ``*`` splat every
    position from its own on."""
    passed = set()
    for g in NON_TEST_GLOBS:
        for path in glob.glob(os.path.join(ROOT, g), recursive=True):
            for node in ast.walk(ast.parse(open(path, encoding="utf-8").read())):
                if not (isinstance(node, ast.Call) and getattr(
                        node.func, "id", getattr(node.func, "attr", None)) == name):
                    continue
                words = {k.arg for k in node.keywords}
                star = next((i for i, x in enumerate(node.args)
                             if isinstance(x, ast.Starred)), None)
                for param, pos in flags.items():
                    if (param in words or None in words
                            or (pos is not None and pos < len(node.args))
                            or (pos is not None and star is not None and pos >= star)):
                        passed.add(param)
    return passed


def test_every_bool_parameter_is_passed_or_listed():
    """A ``True``/``False`` parameter no non-test module passes selects a
    branch only tests run: delete the branch and the parameter rather
    than maintain them."""
    unpassed = sorted(
        f"{key}({param})"
        for key, (name, flags) in _bool_parameters().items()
        if key not in UNREACHED_FUNCTIONS
        for param in sorted(set(flags) - _passed_parameters(name, flags))
    )
    assert unpassed == []
