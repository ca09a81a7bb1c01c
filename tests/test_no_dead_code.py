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

Every defaulted parameter of a top-level package function must be passed
at least two different values by those same non-test callers: an option
with one value in use is a constant and belongs in the function body (or
one module constant). A call that omits the parameter passes its default;
a literal, or a name bound to a literal at a module's top level, is one
value; any other expression, a ``*args``/``**kwargs`` call and a reference
that is not a call (say, a function handed to a thread pool) count as
varying. Calls are matched by name, so the census is approximate.
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

# Defaulted parameters kept with fewer than two values in use, each for a
# stated reason: a deployment setting, a fault-injection seam, a reference
# path a test compares against, a property-test lever, or a documented
# entry point.
_JDBC_SEAM = ("deployment setting of the gold -> Postgres sink, a README "
              "environment-blocked seam (no database here)")
_DELTA_SEAM = ("deployment setting of the Delta writer, a README "
               "environment-blocked seam (no Delta jars here)")
ALLOWED_PARAMS = {
    "get_spark.master": "deployment setting: the cluster master URL",
    "write_delta.mode": _DELTA_SEAM,
    "write_delta.overwrite_schema": _DELTA_SEAM,
    "write_jdbc.mode": _JDBC_SEAM,
    "write_jdbc.properties": _JDBC_SEAM,
    "write_jdbc.isolation_level": _JDBC_SEAM,
    "write_jdbc.batchsize": _JDBC_SEAM,
    "write_jdbc.num_partitions": _JDBC_SEAM,
    "read_binary_files.glob": "path: the file-name filter under the asset "
                              "directory being read",
    "stream_corpus_build.fail_after_stage3": "fault-injection seam: the "
                                             "crash/restart rehearsal kills "
                                             "the drain after a stage",
    "stream_corpus_build.n_batches": "property-test lever: batch-boundary "
                                     "invariance is pinned over 2/4/8 "
                                     "landing splits",
    "epoch_order.distributed": "reference path a test compares against: "
                               "the one-window-per-shard rank",
    "global_rank.num_partitions": "property-test lever: the rank must not "
                                  "depend on the partition count",
    "main.argv": "the python -m entry point's argument list",
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


_VARIES = "<varies>"
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _literal(node, consts: dict):
    """repr of the value ``node`` always has, or ``_VARIES``."""
    if isinstance(node, ast.Name) and node.id in consts:
        return consts[node.id]
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return _VARIES


def _defaulted(fn: ast.FunctionDef):
    """(name, positional index or None, default node) per defaulted
    parameter of ``fn``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    for i, d in enumerate(a.defaults):
        yield pos[first + i].arg, first + i, d
    for arg, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            yield arg.arg, None, d


def _one_valued_params() -> dict[str, str]:
    """``"function.param"`` -> where, for each defaulted parameter of a
    top-level package function that non-test callers pass fewer than two
    different values."""
    trees = {path: ast.parse(open(path).read(), path)
             for root in CALLERS for path in _py_files(root)}
    # module -> {top-level name: literal it is bound to}; a name bound to
    # different literals in different modules resolves only in its own
    consts: dict = {path: {} for path in trees}
    anywhere: dict = {}
    for path, tree in trees.items():
        for node in tree.body:
            if (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                v = _literal(node.value, {})
                name = node.targets[0].id
                consts[path][name] = v
                anywhere[name] = v if anywhere.get(name, v) == v else _VARIES
    for path in trees:
        consts[path] = {**anywhere, **consts[path]}
    params: dict = {}  # function name -> [(param, index, default, where)]
    for path, tree in trees.items():
        if path.startswith(PACKAGE + os.sep):
            for fn in tree.body:
                if isinstance(fn, _FUNCS):
                    where = f"{os.path.relpath(path, ROOT)}:{fn.lineno}"
                    params.setdefault(fn.name, []).extend(
                        (p, i, _literal(d, consts[path]), where)
                        for p, i, d in _defaulted(fn))
    values: dict = {(f, p): set() for f, ps in params.items() for p, *_ in ps}
    for path, tree in trees.items():
        for top in tree.body:
            own = top.name if isinstance(top, _FUNCS) else None
            called = set()
            for n in ast.walk(top):
                if not isinstance(n, ast.Call):
                    continue
                name = getattr(n.func, "id", getattr(n.func, "attr", None))
                if name not in params or name == own:
                    continue
                called.add(id(n.func))
                kw = {k.arg: k.value for k in n.keywords}
                star = None in kw or any(isinstance(x, ast.Starred)
                                         for x in n.args)
                for p, i, d, _ in params[name]:
                    if p in kw:
                        v = _literal(kw[p], consts[path])
                    elif i is not None and i < len(n.args) and not star:
                        v = _literal(n.args[i], consts[path])
                    else:
                        v = _VARIES if star else d
                    values[name, p].add(v)
            for n in ast.walk(top):
                name = getattr(n, "id", getattr(n, "attr", None))
                if (isinstance(n, (ast.Name, ast.Attribute))
                        and name in params and name != own
                        and id(n) not in called):
                    for p, *_ in params[name]:
                        values[name, p].add(_VARIES)
    return {f"{f}.{p}": where for f, ps in params.items()
            for p, _, _, where in ps
            if _VARIES not in values[f, p] and len(values[f, p]) < 2}


def test_every_parameter_has_two_values_in_use():
    one = _one_valued_params()
    knobs = {k: where for k, where in one.items() if k not in ALLOWED_PARAMS}
    assert not knobs, (
        "defaulted parameters that callers outside tests pass fewer than "
        "two values (make each a constant in the function body or the "
        f"module): {knobs}")
    stale = sorted(set(ALLOWED_PARAMS) - set(one))
    assert not stale, (
        f"ALLOWED_PARAMS entries that are no longer one-valued knobs: {stale}")
