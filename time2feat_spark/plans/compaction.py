"""Small-file compaction for tier tables.

LadderJob's rebalanced, per-unit, incremental writes deliberately trade
file granularity for parallelism and resumability: a hot source writes
through as many tasks as AQE gives its rebalance, and every
incremental run appends more files into the same `(tier, window_day)`
leaves. At 100 TB that is the classic small-file problem — scan
planning cost and open-file overhead grow with file count, not data
size. `compact_source` rewrites every leaf of one source tree that
holds more than one file into one file, swaps each rewritten leaf in
with two directory renames, and records the rewrite in the checkpoint
manifest. `LadderJob.maintain` is the
only caller in the engine; it compacts every source tree through
`compact_all`.

Scale posture: a file-level rewrite of the multi-file leaves only — no
row shuffle and no Spark job. Every input file already sits in the leaf
its rows belong to, so a leaf's files are concatenated as Arrow tables
on the driver and written back as one file with the inputs' codec and
column types; single-file leaves are never read. Peak memory is one
leaf. This is the bin-pack step of Iceberg's `rewrite_data_files`,
minus the row shuffle, which this layout does not need; on an Iceberg
deployment that call replaces this operator (compaction with snapshot
isolation). The directory swap here is the parquet-on-filesystem
equivalent and is safe for a maintenance window, not for concurrent
writers — the same constraint plain-parquet compaction always has.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from .checkpoint import Manifest, UnitRecord

_TMP = ".compacting__"
_OLD = ".old__"
_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"


def _hidden(name: str) -> bool:
    # Spark and pyarrow.dataset skip these: scratch dirs, _temporary,
    # _SUCCESS, .crc sidecars
    return name.startswith((".", "_"))


def _leaves(root: str) -> dict[str, list[str]]:
    """{dir: sorted parquet file names} for every non-hidden dir under
    root that holds parquet files."""
    out = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        names = sorted(
            f for f in files if f.endswith(".parquet") and not _hidden(f)
        )
        if names:
            out[dirpath] = names
    return out


def _parquet_files(root: str) -> list[str]:
    return [os.path.join(d, f) for d, names in _leaves(root).items() for f in names]


def _repair(parent: str) -> None:
    """Finish or undo a dir swap that a crash interrupted among
    parent's children: `.old__X` without `X` is renamed back (the crash
    fell between the two renames), `.old__X` beside `X` is the replaced
    original and is removed, and a `.compacting__X` never swapped in is
    removed."""
    for name in os.listdir(parent):
        path = os.path.join(parent, name)
        if name.startswith(_TMP):
            shutil.rmtree(path)
        elif name.startswith(_OLD):
            orig = os.path.join(parent, name[len(_OLD):])
            if os.path.exists(orig):
                shutil.rmtree(path)
            else:
                os.rename(path, orig)


def _signature(meta: pq.FileMetaData) -> tuple:
    """What a rewrite must keep: the parquet schema (physical and logical
    types) and Spark's row metadata."""
    return meta.schema, (meta.metadata or {}).get(_ROW_META)


def _compact_leaf(leaf: str, names: list[str]) -> int:
    """Rewrite the parquet files `names` of `leaf` as one file with one
    row group; returns its row count. The new file is checked against
    the inputs' footers before the leaf is touched: any mismatch raises
    with the leaf as it was."""
    parent, base = os.path.split(leaf)
    tmp = os.path.join(parent, _TMP + base)
    old = os.path.join(parent, _OLD + base)
    metas, tables = [], []
    for n in names:
        # INT96 read at microsecond unit: every timestamp Spark can hold fits
        with pq.ParquetFile(
            os.path.join(leaf, n), coerce_int96_timestamp_unit="us"
        ) as f:
            metas.append(f.metadata)
            tables.append(f.read())
    want = _signature(metas[0])
    for n, m in zip(names, metas):
        if _signature(m) != want:
            raise RuntimeError(
                f"compaction of {leaf}: schema of {n} differs from {names[0]}; "
                "aborted, leaf left untouched"
            )
    rows = sum(m.num_rows for m in metas)
    # the inputs' encoding choices: Spark's writer drops a dictionary that
    # does not pay, pyarrow would keep it for every column
    big = max(metas, key=lambda m: m.num_rows)
    rg = big.row_group(0)
    cols = [rg.column(i) for i in range(big.num_columns)]
    codec = cols[0].compression
    int96 = any(c.physical_type == "INT96" for c in cols)
    table = pa.concat_tables(tables)
    os.mkdir(tmp)
    try:
        out = os.path.join(tmp, f"part-00000-{uuid.uuid4()}.c000.parquet")
        pq.write_table(
            table,
            out,
            compression="none" if codec == "UNCOMPRESSED" else codec,
            use_dictionary=[
                c.path_in_schema for c in cols
                if any("DICTIONARY" in e for e in c.encodings)
            ],
            use_deprecated_int96_timestamps=int96,
            row_group_size=max(table.num_rows, 1),
        )
        got = pq.read_metadata(out)
        if got.num_rows != rows:
            raise RuntimeError(
                f"compaction rewrite of {leaf} produced {got.num_rows} rows, "
                f"inputs have {rows}; aborted, leaf left untouched"
            )
        if _signature(got) != want:
            raise RuntimeError(
                f"compaction rewrite of {leaf} changed the parquet schema; "
                "aborted, leaf left untouched"
            )
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    # the swap also drops Hadoop's .crc sidecars with the files they cover
    os.rename(leaf, old)
    try:
        os.rename(tmp, leaf)
    except BaseException:
        # crash window between the two renames: restore the leaf so data
        # is never left hidden under a dot-prefixed dir
        os.rename(old, leaf)
        raise
    shutil.rmtree(old)
    return rows


def compact_source(out_root: str, source: str) -> dict:
    """Compact `{out_root}/source={source}` (layout written by
    LadderJob: partitioned by tier, window_day) to one file per leaf.
    `source` is the name as the directory holds it, already escaped.
    Returns {files_before, files_after, rows}: `rows` is the tree's row
    count from the parquet footers, or None on a no-op (no leaf holds
    more than one file). A rewrite appends a `compacted` record under
    unit `compaction:source={source}` to the manifest. Dirs an
    interrupted swap left in the tree are repaired first (`_repair`)."""
    t0 = time.time()
    path = f"{out_root}/source={source}"
    for dirpath, dirs, _ in os.walk(path):
        _repair(dirpath)
        dirs[:] = [d for d in dirs if not _hidden(d)]
    leaves = _leaves(path)
    files_before = sum(len(names) for names in leaves.values())
    if all(len(names) == 1 for names in leaves.values()):
        return {"files_before": files_before, "files_after": files_before,
                "rows": None}
    rows = 0
    for leaf, names in leaves.items():
        if len(names) > 1:
            rows += _compact_leaf(leaf, names)
        else:
            rows += pq.read_metadata(os.path.join(leaf, names[0])).num_rows
    res = {
        "files_before": files_before,
        "files_after": len(_parquet_files(path)),
        "rows": rows,
    }
    # unit key is namespaced so done_units()/watermarks() (which key on
    # the latest record per unit) never mistake it for unit state
    Manifest(out_root).append(
        UnitRecord(
            run_id="compaction",
            unit=f"compaction:source={source}",
            partition_range=f"files {res['files_before']}->{res['files_after']}",
            rows_in=rows,
            windows_out=rows,
            wall_ms=int((time.time() - t0) * 1000),
            status="compacted",
        )
    )
    return res


def compact_all(out_root: str) -> dict[str, dict]:
    """Compact every `source=` partition under out_root."""
    # tables compacted by whole-source-tree swaps may hold their leftovers
    # at this level
    _repair(out_root)
    results = {}
    for d in sorted(os.listdir(out_root)):
        if d.startswith("source="):
            source = d.split("=", 1)[1]
            results[source] = compact_source(out_root, source)
    return results
