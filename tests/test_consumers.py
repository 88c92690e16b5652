"""Every engine module, function and class has a consumer, or is
allowlisted with a reason.

A consumer is a driver query (`__spark_entry__.py`), a bench leaf
(`bench.py`, `bench_extra.py`, `perfbench/*.py`), `pipeline()` or
`LadderJob`. The import closure of those files is computed from the
source with `ast` alone (no Spark, nothing imported): relative imports
are resolved against the importing file's package, imports inside
functions count, and a package's `__init__.py` is kept whenever any
module under it is reached or allowlisted. A module outside the closure
serves no workload, so it goes together with its tests instead of
staying as tested, documented code that nothing runs.

The same rule holds for each module-level function and class of the
engine, again from `ast` alone. Every top-level definition in a
`CONSUMERS` file is a root. A definition in a reached module is reached
when its name is used, as an `ast.Name`, an attribute or an import
alias, by a reached definition or by the module-level code of a reached
module; its own body does not count, and strings, docstrings and
`__all__` do not count either. This runs to a fixpoint, so a helper that
only unreached definitions use is unreached too. Names are matched
without their module, which is deliberately conservative: an unreached
function whose name collides with a reached one is missed.

A switch is a parameter whose default is a `bool` literal. Each switch
of an engine function or method must receive the other literal, or a
value computed at run time, by keyword or by position, in at least one
call in a `CONSUMERS` file or an engine module (tests do not count;
calls are matched by name). A switch no consumer flips keeps a second
path that only tests run. Functions defined in `CONSUMERS` files are the
user API and exempt, as are modules on `ALLOWLIST`.
"""

from __future__ import annotations

import ast
import functools
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "time2feat_spark"

CONSUMERS = [
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "time2feat_spark/pipeline.py",
    "time2feat_spark/plans/ladder_job.py",
] + sorted(
    f"perfbench/{f}"
    for f in os.listdir(os.path.join(ROOT, "perfbench"))
    if f.endswith(".py")
)

#: unreached on purpose, one line each on why it stays
ALLOWLIST = {
    "time2feat_spark/sources/tableio.py": (
        "the engine's only Iceberg path; whether it goes waits until an "
        "Iceberg runtime jar is in the repository"
    ),
    "time2feat_spark/streaming/continuous.py": (
        "ContinuousRollup is the only late-data-safe points path; it folds "
        "into a points shape of LadderJob first"
    ),
}

_IN_ALLOWLISTED_MODULE = "its module is on ALLOWLIST, for the reason there"

#: unreached definitions kept on purpose, "path::name" -> why
DEFINITION_ALLOWLIST = {
    "time2feat_spark/functions/gorilla.py::_BitReader": (
        "the bit reader of the sequential reference decoders"
    ),
    "time2feat_spark/functions/gorilla.py::decode_ts_block": (
        "sequential reference the flat timestamp decoder is tested against"
    ),
    "time2feat_spark/functions/gorilla.py::decode_val_block": (
        "sequential reference the flat value decoder is tested against"
    ),
    "time2feat_spark/functions/parity.py::_permutation_entropy": (
        "per-row reference the batched permutation-entropy kernel is "
        "tested against"
    ),
    "time2feat_spark/sources/tableio.py::TableIO": _IN_ALLOWLISTED_MODULE,
    "time2feat_spark/sources/tableio.py::ParquetTableIO": (
        _IN_ALLOWLISTED_MODULE
    ),
    "time2feat_spark/sources/tableio.py::IcebergTableIO": (
        _IN_ALLOWLISTED_MODULE
    ),
    "time2feat_spark/streaming/continuous.py::ContinuousRollup": (
        _IN_ALLOWLISTED_MODULE
    ),
}

#: switches no consumer flips, kept on purpose, "path::function(param)" -> why
SWITCH_ALLOWLIST = {
    "time2feat_spark/operators/dedup.py::ngram_jaccard_pairs(allow_full_scan)": (
        "overrides a size guard on input from outside the program"
    ),
    "time2feat_spark/operators/text.py::heavy_hitters(with_guarantee)": (
        "opt-in certificate that the returned set is exact"
    ),
}


def _modules() -> dict[str, str]:
    """Dotted module name -> repo-relative path, for every module of the
    engine, the perfbench package and the top-level scripts."""
    mods = {
        f[:-3]: f
        for f in os.listdir(ROOT)
        if f.endswith(".py") and os.path.isfile(os.path.join(ROOT, f))
    }
    for pkg in (ENGINE, "perfbench"):
        for d, _, files in os.walk(os.path.join(ROOT, pkg)):
            for f in files:
                if not f.endswith(".py"):
                    continue
                rel = os.path.relpath(os.path.join(d, f), ROOT)
                parts = rel[:-3].split(os.sep)
                if parts[-1] == "__init__":
                    parts = parts[:-1]
                mods[".".join(parts)] = rel.replace(os.sep, "/")
    return mods


def _parse(path: str) -> ast.Module:
    with open(os.path.join(ROOT, path)) as f:
        return ast.parse(f.read(), path)


def _imported_names(path: str) -> set[str]:
    """Absolute dotted names a file imports: each imported module, and
    for `from X import y` both X and X.y (y may be a submodule)."""
    parts = path[:-3].split("/")
    pkg = parts[:-1]  # an __init__.py's package is its own directory
    tree = _parse(path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


@functools.cache
def _closure() -> set[str]:
    mods = _modules()
    path_to_mod = {p: m for m, p in mods.items()}
    seen: set[str] = set()
    todo = [path_to_mod[c] for c in CONSUMERS]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        # importing a.b.c runs a/__init__.py and a/b/__init__.py too
        todo.extend(
            ".".join(mod.split(".")[:i])
            for i in range(1, mod.count(".") + 1)
        )
        todo.extend(n for n in _imported_names(mods[mod]) if n in mods)
    return {mods[m] for m in seen}


def _used_names(node: ast.AST) -> set[str]:
    """Names `node` uses: `ast.Name` ids, attribute names and the last
    part of each imported name. String constants are never names."""
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _definitions(path: str) -> tuple[dict[str, set[str]], set[str]]:
    """A file's top-level functions and classes, each with the names its
    decorators, signature and body use, and the names used by the
    module-level code outside those definitions."""
    tree = _parse(path)
    defs: dict[str, set[str]] = {}
    top: set[str] = set()
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            defs[node.name] = _used_names(node)
        else:
            top |= _used_names(node)
    return defs, top


@functools.cache
def _definition_reach() -> tuple[frozenset[str], frozenset[str]]:
    """("path::name" of every definition in the closure and the engine,
    "path::name" of the reached ones)."""
    closure = _closure()
    uses: dict[str, set[str]] = {}
    used: set[str] = set()
    for path in closure | _engine_files():
        defs, top = _definitions(path)
        if path in closure:
            used |= top
        uses.update({f"{path}::{name}": u for name, u in defs.items()})
    reached = {d for d in uses if d.split("::")[0] in CONSUMERS}
    frontier = reached
    while frontier:
        for d in frontier:
            used |= uses[d]
        frontier = {
            d
            for d in uses.keys() - reached
            if d.split("::")[0] in closure and d.split("::")[1] in used
        }
        reached |= frontier
    return frozenset(uses), frozenset(reached)


def _engine_files() -> set[str]:
    return {p for p in _modules().values() if p.startswith(ENGINE + "/")}


def _package_inits(paths: set[str]) -> set[str]:
    """The `__init__.py` of every package enclosing one of `paths`."""
    return {
        "/".join(p.split("/")[:i] + ["__init__.py"])
        for p in paths
        for i in range(1, p.count("/") + 1)
    }


def test_every_engine_module_has_a_consumer():
    kept = _closure() | set(ALLOWLIST)
    unreached = _engine_files() - kept - _package_inits(kept)
    assert not unreached, (
        f"modules no consumer imports: {sorted(unreached)}; delete them "
        "with their tests, or add them to ALLOWLIST with a reason"
    )


def test_allowlist_holds_only_unreached_modules():
    engine, reached = _engine_files(), _closure()
    assert set(ALLOWLIST) <= engine, sorted(set(ALLOWLIST) - engine)
    assert not set(ALLOWLIST) & reached, sorted(set(ALLOWLIST) & reached)


def test_every_engine_definition_has_a_consumer():
    defined, reached = _definition_reach()
    unreached = {
        d for d in defined - reached if d.startswith(ENGINE + "/")
    } - set(DEFINITION_ALLOWLIST)
    assert not unreached, (
        f"functions and classes no consumer reaches: {sorted(unreached)}; "
        "delete them with their tests, or add them to DEFINITION_ALLOWLIST "
        "with a reason"
    )


def test_definition_allowlist_holds_only_unreached_definitions():
    defined, reached = _definition_reach()
    allowed = set(DEFINITION_ALLOWLIST)
    assert allowed <= defined, sorted(allowed - defined)
    assert not allowed & reached, sorted(allowed & reached)


def _is_bool(node) -> bool:
    return isinstance(node, ast.Constant) and isinstance(node.value, bool)


def _switches(path: str):
    """(function name, param, position seen by a caller or None for a
    keyword-only param, default) for each switch of a module's top-level
    functions and its classes' methods."""
    tree = _parse(path)
    funcs = [(n, 0) for n in tree.body if isinstance(n, ast.FunctionDef)]
    for cls in tree.body:
        if isinstance(cls, ast.ClassDef):
            funcs += [
                (n, 0 if any(getattr(d, "id", None) == "staticmethod"
                             for d in n.decorator_list) else 1)
                for n in cls.body
                if isinstance(n, ast.FunctionDef)
            ]
    for fn, bound in funcs:
        a = fn.args
        params = a.posonlyargs + a.args
        first = len(params) - len(a.defaults)
        for i, d in enumerate(a.defaults, first):
            if _is_bool(d):
                yield fn.name, params[i].arg, i - bound, d.value
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if _is_bool(d):
                yield fn.name, p.arg, None, d.value


_RUNTIME = "a value computed at run time"


def _passed(node):
    """What an argument passes: a bool literal's value, `_RUNTIME` for an
    expression (it may be either bool), or None for any other constant."""
    if not isinstance(node, ast.Constant):
        return _RUNTIME
    return node.value if isinstance(node.value, bool) else None


@functools.cache
def _call_arguments() -> frozenset:
    """(callee name, keyword or position, `_passed` value) for every
    argument of a call in a `CONSUMERS` file or an engine module."""
    seen = set()
    for path in set(CONSUMERS) | _engine_files():
        for call in ast.walk(_parse(path)):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "id", None) or getattr(
                call.func, "attr", None
            )
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    break  # later positions are unknown
                seen.add((name, i, _passed(arg)))
            seen.update(
                (name, kw.arg, _passed(kw.value)) for kw in call.keywords
            )
    return frozenset(seen)


def _unflipped_switches() -> set[str]:
    flipped = _call_arguments()
    return {
        f"{path}::{fn}({param})"
        for path in _engine_files() - set(CONSUMERS) - set(ALLOWLIST)
        for fn, param, pos, default in _switches(path)
        if not any(
            (fn, key, value) in flipped
            for key in (param, pos)
            if key is not None
            for value in (not default, _RUNTIME)
        )
    }


def test_every_engine_switch_has_a_consumer():
    unflipped = _unflipped_switches() - set(SWITCH_ALLOWLIST)
    assert not unflipped, (
        f"switches no consumer flips: {sorted(unflipped)}; delete the "
        "switch and the path it selects, or add it to SWITCH_ALLOWLIST "
        "with a reason"
    )


def test_switch_allowlist_holds_only_unflipped_switches():
    assert set(SWITCH_ALLOWLIST) <= _unflipped_switches(), sorted(
        set(SWITCH_ALLOWLIST) - _unflipped_switches()
    )
