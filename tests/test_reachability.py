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
reference.

Parameters: every defaulted parameter of such a function must be passed
by some non-test call, or be listed in ``UNPASSED_PARAMETERS`` with a
reason. A call counts only when its callee resolves to the function's
module — through ``from M import f``, an ``import M as X`` alias, or the
module itself; a method call counts in the modules that import its
class. A same-named function elsewhere passes nothing.

Configs: every field of ``CrawlConfig`` and ``CurationConfig`` must be
set away from its default by some non-test module, or be listed with a
reason.
"""

from __future__ import annotations

import ast
import functools
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "companycatalogcrawlerparser_spark"
ENTRY_GLOBS = ("__spark_entry__.py", "bench.py", "perfbench/*.py",
               f"{PKG}/plans/*.py")


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


@functools.lru_cache(maxsize=None)
def _tree(path: str) -> ast.Module:
    """The parsed module at ``path``, parsed once per test session."""
    return ast.parse(open(path, encoding="utf-8").read())


def _module_file(name: str) -> str | None:
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _from_module(path: str, node: ast.ImportFrom) -> str:
    """The absolute module name of ``from ... import`` in ``path``."""
    if not node.level:
        return node.module
    parts = _module_name(path).split(".")
    is_pkg = path.endswith("__init__.py")
    base = parts[: len(parts) - node.level + (1 if is_pkg else 0)]
    return ".".join(base + ([node.module] if node.module else []))


def _imports(path: str) -> set:
    """Module names ``path`` imports, with their parent packages."""
    here = os.path.dirname(path)
    out = set()
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(path, node)
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
    "url_seen_filter": "perfbench's url-seen replay passes it to UrlSeen, "
                       "which accepts only \"bloom\"",
    "robots_agent": "a deployment setting: the user agent the robots gate "
                    "matches",
}
PIPELINE_FIXTURE = "tests/test_pipeline.py's 45-doc fixture sets it"
UNSET_CURATION_FIELDS = {
    "quality_min": PIPELINE_FIXTURE,
    "jaccard_threshold": PIPELINE_FIXTURE,
    "sample_rates": PIPELINE_FIXTURE,
    "default_keep": PIPELINE_FIXTURE,
    "shard_budget_tokens": PIPELINE_FIXTURE,
}


# Non-test modules: the package, the query registry, bench.py, the
# benchmark and the tools. A script in tools/ counts as a caller only
# while it runs on the project's measurement host (4 cores, 15 GiB; see
# ROADMAP.md): a tool that cannot run there is retired, not kept alive
# as a caller.
NON_TEST_GLOBS = ("*.py", "perfbench/*.py", "tools/*.py", f"{PKG}/**/*.py")


def _non_test_paths() -> list:
    return [os.path.normpath(p) for g in NON_TEST_GLOBS
            for p in glob.glob(os.path.join(ROOT, g), recursive=True)]


def _unset_config_fields(cls) -> set:
    """Fields of the dataclass ``cls`` that no non-test module sets to a
    value other than the field's default: keyword arguments of
    ``cls(...)`` calls and attribute assignments (a non-literal value
    counts as set)."""
    import dataclasses

    defaults = {f.name: f.default for f in dataclasses.fields(cls)}
    out = set()
    for path in _non_test_paths():
        for node in ast.walk(_tree(path)):
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


CATALOG = "catalog plan entry point (paper component 1, the catalog scrape)"
MAILER = "mailer plan entry point (paper component 3, the mailer batches)"
WEBGEN = "webgen page builder for test corpora"
CAP_AUDIT = ("the audit the skew-cap tests check the in-job {} cap "
             "against")

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
    "plans/pipeline.py::curate_training_corpus": "pipeline plan entry "
        "point: the composed curation chain",
    "sources/webgen.py::country_list_page": WEBGEN,
    "sources/webgen.py::robots_txt": WEBGEN,
    "sources/webgen.py::russian_cities_page": WEBGEN,
    "sources/webgen.py::russian_regions_page": WEBGEN,
    "operators/bpe.py::encode_word_py": "the pure-Python reference twin the "
        "BPE tests compare the engine's encoder against",
    "operators/dedup.py::lsh_oversized_buckets": CAP_AUDIT.format("LSH"),
    "operators/dedup.py::winnow_oversized_prints": CAP_AUDIT.format(
        "winnowing"),
    "operators/similarity.py::cosine_oversized_buckets": CAP_AUDIT.format(
        "cosine"),
    "operators/textquality.py::winnow_fingerprints": "the per-row array "
        "reference twin test_winnow_prints_exploded_equals_array_form checks "
        "dedup.winnow_prints against",
}


def _public_functions() -> dict:
    """``"<path in package>::<name>"`` → (name, (path, line of its def)),
    for every public top-level function and public method of a public
    top-level class, outside ``refsem/``."""
    out = {}
    for path in glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True):
        path = os.path.normpath(path)
        rel = os.path.relpath(path, os.path.join(ROOT, PKG)).replace(os.sep, "/")
        if rel.startswith("refsem/"):
            continue
        for node in _tree(path).body:
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

    for path in _non_test_paths():
        visit(_tree(path), None, set(), path)
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


TEST_HOOK = "the hook tests use to vary the permutation (salt)"
OBSERVATION = ("the skew cap's only in-job report of the volume it skipped; "
               "the cap tests read it")

# Defaulted parameters of public functions that no non-test call passes,
# each kept for the reason given. Any other such parameter is a knob only
# tests turn: delete it (for a fixed value, or a module constant tests
# monkeypatch) rather than maintain it.
UNPASSED_PARAMETERS = {
    "operators/curation.py::cap_per_domain(salt)": TEST_HOOK,
    "operators/curation.py::global_order_index(salt)": TEST_HOOK,
    "operators/curation.py::span_corruption(salt)": TEST_HOOK,
    "operators/dedup.py::minhash_lsh_pairs(observation)": OBSERVATION,
    "operators/dedup.py::winnow_pairs(observation)": OBSERVATION,
    "operators/similarity.py::cosine_pairs(observation)": OBSERVATION,
    "operators/similarity.py::semantic_dedup(observation)": OBSERVATION,
}


@functools.lru_cache(maxsize=None)
def _module_bindings(path: str) -> dict:
    """Names ``path`` binds by import (anywhere in the module) → the
    dotted name they stand for: ``import a.b`` binds ``a``, ``import a.b
    as X`` binds ``X`` to ``a.b``, ``from M import n as X`` binds ``X``
    to ``M.n``."""
    out = {}
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            for a in node.names:
                head = a.name.split(".")[0]
                out[a.asname or head] = a.name if a.asname else head
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(path, node)
            for a in node.names:
                out[a.asname or a.name] = f"{mod}.{a.name}"
    return out


def _callee(node: ast.Call, path: str) -> str | None:
    """The dotted name the callee of a call in ``path`` resolves to: a
    plain name or the head of an attribute chain through the module's
    imports, else the module's own top level. A call on anything else
    (``obj.m(...)``) resolves to ``"*.m"``."""
    parts, f = [], node.func
    while isinstance(f, ast.Attribute):
        parts.insert(0, f.attr)
        f = f.value
    if not isinstance(f, ast.Name):
        return f"*.{parts[-1]}" if parts else None
    head = _module_bindings(path).get(f.id)
    if head is None:
        if parts:
            return f"*.{parts[-1]}"
        head = f"{_module_name(path)}.{f.id}"
    return ".".join([head] + parts)


@functools.lru_cache(maxsize=None)
def _calls() -> dict:
    """dotted callee (see ``_callee``) → [(path, call)] over the non-test
    modules."""
    out: dict = {}
    for path in _non_test_paths():
        for node in ast.walk(_tree(path)):
            if isinstance(node, ast.Call):
                callee = _callee(node, path)
                if callee:
                    out.setdefault(callee, []).append((path, node))
    return out


def _defaulted_parameters() -> dict:
    """``"<path in package>::<name>"`` → (callee, {parameter: position},
    class) for every public function outside ``refsem/`` (see
    ``_public_functions``) with a defaulted parameter. ``callee`` is the
    function's dotted name, or ``"*.<name>"`` for a method, whose
    ``class`` is the dotted name of its class (None for a function). The
    position counts ``self``/``cls`` out of a method's parameters;
    keyword-only parameters have position None."""
    out = {}
    for key, (name, (path, line)) in _public_functions().items():
        fn = next(n for n in ast.walk(_tree(path))
                  if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
                  and n.name == name and n.lineno == line)
        a = fn.args
        positional = a.posonlyargs + a.args
        qual = key.split("::")[1]
        if "." in qual and positional and positional[0].arg in ("self", "cls"):
            positional = positional[1:]
        first = len(positional) - len(a.defaults)
        params = {p.arg: first + i for i, p in enumerate(positional[first:])}
        params.update({p.arg: None for p, d in zip(a.kwonlyargs, a.kw_defaults)
                       if d is not None})
        if not params:
            continue
        module = _module_name(path)
        if "." in qual:
            cls = f"{module}.{qual.split('.')[0]}"
            out[key] = (f"*.{name}", params, cls)
        else:
            out[key] = (f"{module}.{name}", params, None)
    return out


def _passed_parameters(callee: str, params: dict, cls: str | None) -> set:
    """The parameters in ``params`` that some non-test call of ``callee``
    passes, by keyword or by position; a ``**`` splat passes every
    keyword, a ``*`` splat every position from its own on. A method's
    call counts only in a module that imports its class ``cls``, or in
    the class's own module."""
    passed = set()
    for path, node in _calls().get(callee, []):
        if cls and not (cls.startswith(_module_name(path) + ".")
                        or cls in _module_bindings(path).values()):
            continue
        words = {k.arg for k in node.keywords}
        star = next((i for i, x in enumerate(node.args)
                     if isinstance(x, ast.Starred)), None)
        for param, pos in params.items():
            if (param in words or None in words
                    or (pos is not None and pos < len(node.args))
                    or (pos is not None and star is not None and pos >= star)):
                passed.add(param)
    return passed


def test_every_defaulted_parameter_is_passed_or_listed():
    unpassed = sorted(
        f"{key}({param})"
        for key, (callee, params, cls) in _defaulted_parameters().items()
        if key not in UNREACHED_FUNCTIONS
        for param in set(params) - _passed_parameters(callee, params, cls)
    )
    assert sorted(set(unpassed) - set(UNPASSED_PARAMETERS)) == []
    # the list names only parameters that exist and are unpassed
    assert sorted(set(UNPASSED_PARAMETERS) - set(unpassed)) == []
