"""Every ``featureextraction_spark`` import in the package, the scripts,
the benchmark (``perfbench/``) and the driver entry resolves — including
imports inside functions, which otherwise fail only when someone calls
them. Pure AST walk, no Spark.
Each file is parsed with warnings as errors, so an invalid escape sequence
(a warning today, an error in a later Python) fails here too. Every package
module path that ``README.md`` and ``COVERAGE.md`` name exists, and every
``module.py::name`` they name is a top-level definition of that module, so a
retired module or function cannot leave its doc rows behind. No top-level
import in the package, the scripts or the driver entry goes unread, so it
cannot leave an import behind either; and no top-level definition of the
package, the driver entry or the tests goes unread anywhere in the repo's
code, so a retirement cannot leave a dead helper or test oracle behind."""

from __future__ import annotations

import ast
import os
import re
import warnings
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "featureextraction_spark"


def _sources(tops=(PKG, "scripts", "perfbench")) -> list[str]:
    out = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in tops:
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            out += [os.path.join(d, n) for n in names if n.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        src = f.read()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        return ast.parse(src, path)


def _module_file(mod: str) -> str | None:
    base = os.path.join(ROOT, *mod.split("."))
    for cand in (os.path.join(base, "__init__.py"), base + ".py"):
        if os.path.isfile(cand):
            return cand
    return None


def _module_of(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return rel[: -len(".__init__")] if rel.endswith(".__init__") else rel


def _top_level(tree: ast.Module):
    """The module's statements, with those of top-level ``if``/``try``."""
    todo = list(tree.body)
    while todo:
        n = todo.pop()
        if isinstance(n, (ast.If, ast.Try)):
            todo += n.body + n.orelse + getattr(n, "finalbody", [])
            todo += [s for h in getattr(n, "handlers", []) for s in h.body]
        else:
            yield n


def _definitions(tree: ast.Module):
    """(name, node) for each top-level function, class and assigned name."""
    for n in _top_level(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield n.name, n
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            for t in targets:
                for x in ast.walk(t):
                    if isinstance(x, ast.Name):
                        yield x.id, n


def _top_level_names(path: str) -> set[str]:
    tree = _parse(path)
    names = {name for name, _ in _definitions(tree)}
    for n in _top_level(tree):
        if isinstance(n, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in n.names}
    return names


def _package_imports(path: str):
    """(line, module, name-or-None) for every package import in ``path``."""
    is_init = path.endswith("__init__.py")
    here = _module_of(path).split(".")
    for n in ast.walk(_parse(path)):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.name.split(".")[0] == PKG:
                    yield n.lineno, a.name, None
        elif isinstance(n, ast.ImportFrom):
            mod = n.module or ""
            if n.level:
                pkg = here if is_init else here[:-1]
                pkg = pkg[: len(pkg) - (n.level - 1)]
                mod = ".".join(pkg + ([mod] if mod else []))
            if mod.split(".")[0] == PKG:
                for a in n.names:
                    yield n.lineno, mod, a.name


def test_package_imports_resolve():
    missing = []
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        for line, mod, name in _package_imports(path):
            f = _module_file(mod)
            if f is None:
                missing.append(f"{rel}:{line}: no module {mod}")
            elif name is not None and name != "*" and _module_file(f"{mod}.{name}") is None:
                if name not in _top_level_names(f):
                    missing.append(f"{rel}:{line}: {mod} has no {name}")
    assert not missing, "dangling imports:\n" + "\n".join(missing)


def test_oracles_only_for_registered_queries():
    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) <= set(entry.queries())


# a package module path in prose: ``operators/asof.py``, optionally under
# ``featureextraction_spark/``, or a brace list ``operators/{rolling,olap}.py``,
# optionally followed by a definition in it: ``operators/asof.py::asof_join``
# (``::Class.method`` names the class)
_DOC_PATH = re.compile(
    r"(?<![\w/.])(?:featureextraction_spark/)?"
    r"((?:functions|operators|oracle|plans|sources|streaming)/[\w{},]+\.py)"
    r"(?:::(\w+))?"
)


def _expand(path: str) -> list[str]:
    m = re.fullmatch(r"(.*)\{([^}]*)\}(.*)", path)
    return [m[1] + x + m[3] for x in m[2].split(",")] if m else [path]


def test_doc_module_paths_exist():
    missing = []
    for doc in ("README.md", "COVERAGE.md"):
        with open(os.path.join(ROOT, doc)) as f:
            text = f.read()
        for m in _DOC_PATH.finditer(text):
            line = text.count("\n", 0, m.start()) + 1
            for p in _expand(m[1]):
                path = os.path.join(ROOT, PKG, p)
                if not os.path.isfile(path):
                    missing.append(f"{doc}:{line}: {p}")
                elif m[2] and m[2] not in _top_level_names(path):
                    missing.append(f"{doc}:{line}: {p}::{m[2]}")
    assert not missing, "docs name missing modules or definitions:\n" + "\n".join(missing)


_NOQA_F401 = re.compile(r"#\s*noqa:[^#\n]*\bF401\b")


def _unused_imports(path: str):
    """(line, name) for each top-level import in ``path`` whose bound name
    the module never reads."""
    tree = _parse(path)
    with open(path) as f:
        lines = f.read().splitlines()
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for n in _top_level(tree):
        if not isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.ImportFrom) and n.module == "__future__":
            continue
        if any(_NOQA_F401.search(x) for x in lines[n.lineno - 1 : n.end_lineno]):
            continue
        for a in n.names:
            name = a.asname or a.name.split(".")[0]
            if name not in read:
                yield n.lineno, name


def test_no_unused_top_level_imports():
    """``__init__.py`` files re-export, so they are not checked; a line
    marked ``# noqa: F401`` is a deliberate re-export too."""
    unused = []
    for path in _sources():
        rel = os.path.relpath(path, ROOT)
        if rel.startswith("perfbench") or os.path.basename(path) == "__init__.py":
            continue
        unused += [f"{rel}:{line}: {name}" for line, name in _unused_imports(path)]
    assert not unused, "unused imports:\n" + "\n".join(unused)


def _reads(tree: ast.AST):
    """Every name ``tree`` reads: loaded names, attribute names and
    names imported from a module."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.ImportFrom):
            yield from (a.name for a in n.names)


def _fixture_requests(tree: ast.AST):
    """Every fixture name ``tree`` requests: the parameters of its
    functions and the names passed to ``usefixtures``."""
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from (a.arg for a in n.args.args + n.args.kwonlyargs)
        elif isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "usefixtures":
            yield from (a.value for a in n.args if isinstance(a, ast.Constant))


def _fixture_used(node: ast.AST, requested: set[str]) -> bool:
    """True for a ``pytest.fixture`` that is autouse or requested."""
    for d in getattr(node, "decorator_list", []):
        call = d if isinstance(d, ast.Call) else None
        f = call.func if call else d
        if getattr(f, "attr", getattr(f, "id", None)) == "fixture":
            return node.name in requested or any(
                k.arg == "autouse" and getattr(k.value, "value", False)
                for k in (call.keywords if call else [])
            )
    return False


def _pytest_reads(name: str) -> bool:
    """Names pytest itself reads: tests, hooks and module marks."""
    return name.startswith(("test_", "pytest_")) or name == "pytestmark"


def test_no_unreferenced_top_level_definitions():
    """A definition counts as read when any file of the package, the
    scripts, the tests, the benchmark or the driver entry reads its name
    outside the definition itself. Names are matched, not resolved, so a
    read of an equal name elsewhere keeps a definition alive. In the
    tests, pytest reads the tests, hooks and autouse fixtures, and a
    fixture is also read when a test or fixture requests it."""
    trees = {p: _parse(p) for p in _sources((PKG, "scripts", "perfbench", "tests"))}
    reads = Counter(name for t in trees.values() for name in _reads(t))
    requested = {
        name
        for p, t in trees.items()
        if os.path.relpath(p, ROOT).startswith("tests" + os.sep)
        for name in _fixture_requests(t)
    }
    dead = []
    for path, tree in sorted(trees.items()):
        rel = os.path.relpath(path, ROOT)
        in_tests = rel.startswith("tests" + os.sep)
        if not (rel.startswith(PKG) or rel == "__spark_entry__.py" or in_tests):
            continue
        for name, node in _definitions(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            if in_tests and (_pytest_reads(name) or _fixture_used(node, requested)):
                continue
            if reads[name] == sum(1 for x in _reads(node) if x == name):
                dead.append(f"{rel}:{node.lineno}: {name}")
    assert not dead, "definitions nothing reads:\n" + "\n".join(dead)
