"""Every engine module has a consumer, or is allowlisted with a reason.

A consumer is a driver query (`__spark_entry__.py`), a bench leaf
(`bench.py`, `bench_extra.py`, `perfbench/*.py`), `pipeline()` or
`LadderJob`. The import closure of those files is computed from the
source with `ast` alone (no Spark, nothing imported): relative imports
are resolved against the importing file's package, imports inside
functions count, and a package's `__init__.py` is kept whenever any
module under it is reached or allowlisted. A module outside the closure
serves no workload, so it goes together with its tests instead of
staying as tested, documented code that nothing runs.
"""

from __future__ import annotations

import ast
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


def _imported_names(path: str) -> set[str]:
    """Absolute dotted names a file imports: each imported module, and
    for `from X import y` both X and X.y (y may be a submodule)."""
    parts = path[:-3].split("/")
    pkg = parts[:-1]  # an __init__.py's package is its own directory
    with open(os.path.join(ROOT, path)) as f:
        tree = ast.parse(f.read(), path)
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
