"""Small-file compaction for tier tables.

LadderJob's salted, per-unit, incremental writes deliberately trade
file granularity for parallelism and resumability: a hot source writes
through `salt_k` tasks and every incremental run appends more files
into the same `(tier, window_day)` leaves. At 100 TB that is the
classic small-file problem — scan planning cost and open-file overhead
grow with file count, not data size. `compact_source` rewrites one
source partition tree so every leaf holds one file, swaps the
rewritten tree in with a directory rename, and records the rewrite in
the checkpoint manifest. `LadderJob.maintain` is the only caller in the
engine; it compacts every source tree through `compact_all`.

Scale posture: the rewrite is ONE Spark job per source (repartition on
the partition columns routes each leaf's rows to one task, which the
dynamic partition writer turns into one file per leaf), not a job per
leaf. On an Iceberg deployment this operator is replaced by
`rewrite_data_files` (compaction with snapshot isolation); the
directory swap here is the parquet-on-filesystem equivalent and is safe
for a maintenance window, not for concurrent writers — the same
constraint plain-parquet compaction always has.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession

from .checkpoint import Manifest, UnitRecord


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            if f.endswith(".parquet")
        )
    return out


def compact_source(spark: SparkSession, out_root: str, source: str) -> dict:
    """Compact `{out_root}/source={source}` (layout written by
    LadderJob: partitioned by tier, window_day) to one file per leaf.
    Returns {files_before, files_after, rows}. No-op (no rewrite, rows
    None) when no leaf holds more than one file; a rewrite appends a
    `compacted` record under unit `compaction:source={source}` to the
    manifest."""
    t0 = time.time()
    path = f"{out_root}/source={source}"
    before = _parquet_files(path)
    df = spark.read.parquet(path)  # tier/window_day partition cols inferred
    n_leaves = df.select("tier", "window_day").distinct().count()
    if len(before) <= n_leaves:
        return {
            "files_before": len(before),
            "files_after": len(before),
            "rows": None,
        }
    tmp = f"{out_root}/.compacting__source={source}"
    old = f"{out_root}/.old__source={source}"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    src_rows = df.count()
    (
        df.repartition(max(n_leaves, 1), "tier", "window_day")
        .write.mode("overwrite")
        .partitionBy("tier", "window_day")
        .parquet(tmp)
    )
    # verify BEFORE touching the source: a silent row loss in the rewrite
    # (partition-inference drift, schema drift) must abort with the
    # original tree intact, never become permanent
    rows = spark.read.parquet(tmp).count()
    if rows != src_rows:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction rewrite of {path} produced {rows} rows, "
            f"source has {src_rows}; aborted, source left untouched"
        )
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except BaseException:
        # crash window between the two renames: restore the source so the
        # table is never left hidden under a dot-prefixed dir
        os.rename(old, path)
        raise
    shutil.rmtree(old)
    res = {
        "files_before": len(before),
        "files_after": len(_parquet_files(path)),
        "rows": rows,
    }
    # unit key is namespaced so done_units()/watermarks() (which key on
    # the latest record per unit) never mistake it for unit state
    Manifest(out_root).append(
        UnitRecord(
            run_id="compaction",
            unit=f"compaction:source={source}",
            input_snapshot_id="",
            partition_range=f"files {res['files_before']}->{res['files_after']}",
            rollup_watermark="",
            rows_in=rows,
            windows_out=rows,
            points=0,
            bytes_compressed=0,
            wall_ms=int((time.time() - t0) * 1000),
            status="compacted",
        )
    )
    return res


def compact_all(spark: SparkSession, out_root: str) -> dict[str, dict]:
    """Compact every `source=` partition under out_root."""
    results = {}
    for d in sorted(os.listdir(out_root)):
        if d.startswith("source="):
            source = d.split("=", 1)[1]
            results[source] = compact_source(spark, out_root, source)
    return results
