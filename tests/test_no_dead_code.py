"""Guard against unreachable package code and dangling cross-references.

Every top-level function or class in the package that is not a registered
query must be referenced from somewhere other than its own definition and
the tests: another package module, ``bench.py``, ``tools/``,
``perfbench/`` or ``__spark_entry__.py``. A reference is a name or
attribute in code; a word in a docstring, string or comment does not
count, so a docstring that cites a function keeps nothing alive. Code that
only tests call either gets a real caller or goes.

Every package module must be imported by one of those callers other than
itself (``__init__.py`` and the ``python -m`` entry point ``__main__.py``
aside). Names are counted package-wide, so a module whose top-level names
all collide with names defined elsewhere (say, its own ``register``) would
pass the name check while nothing outside the tests imports it.

Every Sphinx ``:func:`` / ``:class:`` cross-reference in the package must
name a function or class the package defines.
"""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "gh_archive_data_pipeline_spark")
CALLERS = [PACKAGE, os.path.join(ROOT, "tools"), os.path.join(ROOT, "perfbench"),
           os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]

# Kept without a non-test caller, each for a stated reason.
ALLOWED = {
    "write_delta": "README environment-blocked seam (no Delta jars); a test "
                   "pins its clear error",
    "jdbc_ddl_types": "README environment-blocked seam (no JDBC driver); a "
                      "test pins the DDL type mapping",
    "write_jdbc": "the gold -> Postgres sink, a README environment-blocked "
                  "seam (no database); a test pins the options it sends, "
                  "jdbc_write_options",
    "plan_metrics": "ROADMAP's metrics-as-data API: executed-plan metrics "
                    "as a DataFrame",
}

_XREF = re.compile(r":(?:func|class):`~?([\w.]+)`")


def _py_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if x != "tests"]  # perfbench/tests
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _names(tree: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
    return out


def _is_registered(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _unreferenced() -> dict[str, str]:
    refs: Counter = Counter()
    # name -> (where, uses of the name inside its own definition(s))
    own: dict[str, tuple[str, int]] = {}
    for root in CALLERS:
        for path in _py_files(root):
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in tree.body:
                names = _names(node)
                refs.update(names)
                if (path.startswith(PACKAGE + os.sep)
                        and isinstance(node, (ast.FunctionDef, ast.ClassDef))
                        and not _is_registered(node)):
                    where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                    seen = own.get(node.name, (where, 0))
                    own[node.name] = (seen[0], seen[1] + names[node.name])
    return {name: where for name, (where, n) in own.items()
            if refs[name] == n}


def _module(path: str) -> str:
    """Dotted module name of ``path`` relative to the repo root."""
    name = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return name.removesuffix(".__init__")


def _imports(path: str, tree: ast.AST) -> set[str]:
    """Every module an import statement in ``tree`` may load: the named
    module, its parent packages, and ``from`` targets that are modules."""
    here = _module(path)
    if not path.endswith("__init__.py"):
        here = here.rpartition(".")[0]
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            mods = [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            base = n.module or ""
            if n.level:
                pkg = here.rsplit(".", n.level - 1)[0] if n.level > 1 else here
                base = f"{pkg}.{base}" if base else pkg
            mods = [base] + [f"{base}.{a.name}" for a in n.names]
        else:
            continue
        for m in mods:
            parts = m.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def _unimported_modules() -> list[str]:
    imported: dict[str, set[str]] = {}
    for root in CALLERS:
        for path in _py_files(root):
            with open(path) as f:
                imported[_module(path)] = _imports(path, ast.parse(f.read(), path))
    return sorted(
        os.path.relpath(path, ROOT) for path in _py_files(PACKAGE)
        if os.path.basename(path) not in ("__init__.py", "__main__.py")
        and not any(_module(path) in mods
                    for who, mods in imported.items() if who != _module(path)))


def test_every_package_module_has_a_non_test_importer():
    dead = _unimported_modules()
    assert not dead, (
        "package modules no caller outside tests imports (give them a real "
        f"caller or delete them): {dead}")


def test_no_package_code_only_tests_reach():
    dead = {name: where for name, where in _unreferenced().items()
            if name not in ALLOWED}
    assert not dead, (
        "top-level package code with no caller outside tests (give it a "
        f"real caller or delete it): {dead}")


def test_docstring_cross_references_resolve():
    defined = set()
    xrefs = []
    for path in _py_files(PACKAGE):
        with open(path) as f:
            src = f.read()
        defined.update(n.name for n in ast.walk(ast.parse(src, path))
                       if isinstance(n, (ast.FunctionDef, ast.ClassDef)))
        rel = os.path.relpath(path, ROOT)
        xrefs += [(m.group(1), f"{rel}:{src.count(chr(10), 0, m.start()) + 1}")
                  for m in _XREF.finditer(src)]
    assert xrefs
    dangling = [(name, where) for name, where in xrefs
                if name.rsplit(".", 1)[-1] not in defined]
    assert not dangling, (
        f"cross-references to nothing the package defines: {dangling}")
