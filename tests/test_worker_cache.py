"""session.cache_zip_directories: an unchanged zip archive's directory is
read once per process, a rewritten one is re-read; inside Spark, importing
the engine in a Python worker installs the cache there and not in the
driver."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from time2feat_spark.session import cache_zip_directories

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches re-reads lazily from 3.12",
)


def _installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)


def _write_zip(path, modules) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pkg_z/__init__.py", "")
        for m in modules:
            z.writestr(f"pkg_z/{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding package pkg_z on sys.path; zipimporter's method, the
    path and the imported modules are restored afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, ["mod_a"])
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "pkg_z"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    from pkg_z import mod_a

    assert mod_a.NAME == "mod_a"
    # two importers of one archive: the archive root and pkg_z/
    assert sum(
        isinstance(i, zipimport.zipimporter) and i.archive == archive
        for i in sys.path_importer_cache.values()
    ) == 2
    read_directory = zipimport._read_directory
    reads = []

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert len(reads) == 2  # uncached: every importer re-reads

    cache_zip_directories()
    cache_zip_directories()  # idempotent
    assert _installed()
    importlib.invalidate_caches()
    assert len(reads) == 3  # first pass: one read for both importers
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 3

    _write_zip(archive, ["mod_a", "mod_b"])
    importlib.invalidate_caches()
    assert len(reads) == 4
    from pkg_z import mod_b

    assert mod_b.NAME == "mod_b"


def test_engine_import_installs_cache_in_workers_only(spark):
    """After one engine UDF job every reused worker keeps the cache for
    later tasks that do not touch the engine; the driver keeps the
    original method."""
    from time2feat_spark.generator import gen_pandas
    from time2feat_spark.operators.rollup import RollupConfig, rollup_sequences

    # 32 tasks on 4 cores pass through every idle worker in the pool
    seq = spark.createDataFrame(gen_pandas(0, 64)).repartition(32)
    cfg = RollupConfig(tiers=[("1m", 60)], include_raw=False)
    assert rollup_sequences(seq, cfg).count() > 0

    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        cached = getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)
        yield pd.DataFrame({"cached": [cached]})

    got = spark.range(0, 8, 1, 8).mapInPandas(report, "cached boolean").toPandas()
    assert len(got) == 8 and got["cached"].all()
    assert not _installed()
