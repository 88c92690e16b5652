"""T-resume (SURVEY.md §5): kill the ladder job after k units, resume,
and verify the output table is identical to an uninterrupted run, with
checkpoint lineage populated. Also exercises incremental watermark runs
(append-only input -> only new docs processed) and the rebalanced
write path."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from time2feat_spark.generator import gen_pandas
from time2feat_spark.operators.rollup import RollupConfig
from time2feat_spark.plans import compaction
from time2feat_spark.plans.checkpoint import Manifest, snapshot_id
from time2feat_spark.plans.compaction import (
    _leaves,
    _parquet_files,
    compact_all,
    compact_source,
)
from time2feat_spark.plans.ladder_job import LadderJob
from time2feat_spark.plans.retention import RetentionPolicy

CFG = RollupConfig(tiers=[("1m", 60), ("1h", 3600)], include_raw=False)
#: the test units are below AQE's default 1 MB partition floor; under a
#: 16 KB floor the larger ones split into several tasks, hence files
MULTI_FILE = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k"}


def _write_input(spark, path, n):
    spark.createDataFrame(gen_pandas(0, n)).write.mode("overwrite").parquet(path)


def _table(spark, root) -> pd.DataFrame:
    df = (
        spark.read.option("basePath", root)
        .parquet(root)
        .select("source", "doc_id", "tier", "window_start", "count", "mean",
                "feat.variance", "feat.median")
        .toPandas()
    )
    return df.sort_values(["source", "doc_id", "tier", "window_start"]).reset_index(
        drop=True
    )


def test_resume_after_partial_run(spark, tmp_path):
    inp = str(tmp_path / "seq")
    _write_input(spark, inp, 400)

    full = LadderJob(spark, inp, str(tmp_path / "full"), CFG)
    r = full.run()
    assert r["pending"] == 0 and not r["skipped"]

    part = LadderJob(spark, inp, str(tmp_path / "partial"), CFG)
    r1 = part.run(max_units=3)  # simulate a crash after 3 units
    assert len(r1["processed"]) == 3 and r1["pending"] > 0
    r2 = part.run()  # resume
    assert set(r2["skipped"]) == set(r1["processed"])
    assert r2["pending"] == 0

    a = _table(spark, str(tmp_path / "full"))
    b = _table(spark, str(tmp_path / "partial"))
    pd.testing.assert_frame_equal(a, b)


def test_manifest_lineage_and_metrics(spark, tmp_path):
    inp = str(tmp_path / "seq")
    _write_input(spark, inp, 200)
    job = LadderJob(spark, inp, str(tmp_path / "out"), CFG)
    job.run()
    recs = Manifest(str(tmp_path / "out")).records()
    assert recs
    snap = snapshot_id(inp)
    done = [r for r in recs if r.status == "done"]
    started = [r for r in recs if r.status == "started"]
    # write-ahead protocol: every unit logs intent before mutating output
    assert {r.unit for r in started} == {r.unit for r in done}
    for rec in done:
        assert rec.input_snapshot_id == snap
        assert rec.rollup_watermark.startswith("doc_")
        assert rec.rows_in > 0 and rec.windows_out > 0 and rec.points > 0
        assert rec.bytes_compressed > 0 and rec.wall_ms >= 0


def _written(files) -> tuple[int, int, int]:
    """(rows, sum(count), Gorilla bytes) of the given tier files."""
    rows = points = nbytes = 0
    for f in files:
        t = pq.read_table(f, columns=["count", "val_gorilla", "ts_gorilla"])
        rows += t.num_rows
        points += pc.sum(t["count"]).as_py() or 0
        for c in ("val_gorilla", "ts_gorilla"):
            nbytes += pc.sum(pc.binary_length(t[c])).as_py() or 0
    return rows, points, nbytes


def test_unit_metrics_are_what_each_run_wrote(spark, spark_conf, tmp_path):
    """Each `done` record holds what its own run wrote for the unit (the
    increment in append mode, not the unit's running total) and the
    highest doc_id it processed; a run with no new docs records 0 and
    keeps the watermark."""
    inp, out = str(tmp_path / "seq"), str(tmp_path / "out")
    docs = gen_pandas(0, 200)
    spark.createDataFrame(docs[:150]).write.parquet(inp)
    job = LadderJob(spark, inp, out, CFG)
    marks = {f"source={s}": "" for s in docs["source"].unique()}

    def run_and_check(new_docs):
        before = {u: set(_parquet_files(f"{out}/{u}")) for u in marks}
        with spark_conf(MULTI_FILE):  # several files per leaf
            r = job.run(incremental=True)
        assert sorted(r["processed"]) == sorted(marks)
        recs = {x.unit: x for x in job.manifest.records()
                if x.run_id == r["run_id"] and x.status == "done"}
        assert set(recs) == set(marks)
        for unit, rec in recs.items():
            new = set(_parquet_files(f"{out}/{unit}")) - before[unit]
            assert (rec.windows_out, rec.points, rec.bytes_compressed) == _written(new)
            ids = new_docs.loc[new_docs["source"] == unit[len("source="):], "doc_id"]
            marks[unit] = ids.max() if len(ids) else marks[unit]
            assert rec.rollup_watermark == marks[unit]
        return recs

    build = run_and_check(docs[:150])
    assert all(x.windows_out > 0 and x.bytes_compressed > 0 for x in build.values())
    spark.createDataFrame(docs[150:]).write.mode("append").parquet(inp)
    append = run_and_check(docs[150:])
    assert any(0 < append[u].points < build[u].points for u in marks)
    # the input snapshot moves (a file rewritten in place), no doc is new
    f = _parquet_files(inp)[0]
    os.utime(f, (os.stat(f).st_atime, os.stat(f).st_mtime + 10))
    idle = run_and_check(docs[:0])
    assert all(
        (x.windows_out, x.points, x.bytes_compressed) == (0, 0, 0)
        for x in idle.values()
    )


def test_rerun_is_noop_until_snapshot_changes(spark, tmp_path):
    inp = str(tmp_path / "seq")
    _write_input(spark, inp, 150)
    job = LadderJob(spark, inp, str(tmp_path / "out"), CFG)
    r1 = job.run()
    r2 = job.run()
    assert not r2["processed"] and len(r2["skipped"]) == len(r1["processed"])


def test_incremental_watermark_appends_only_new_docs(spark, tmp_path):
    inp = str(tmp_path / "seq")
    _write_input(spark, inp, 150)
    out = str(tmp_path / "out")
    job = LadderJob(spark, inp, out, CFG)
    job.run(incremental=True)

    # append 50 new docs (same generator => append-only, increasing doc_id)
    spark.createDataFrame(gen_pandas(150, 200)).write.mode("append").parquet(inp)
    r = LadderJob(spark, inp, out, CFG).run(incremental=True)
    assert r["processed"]  # changed units re-ran (snapshot moved)

    got = _table(spark, out)
    ref_job = LadderJob(spark, inp, str(tmp_path / "ref"), CFG)
    ref_job.run()
    want = _table(spark, str(tmp_path / "ref"))
    pd.testing.assert_frame_equal(got, want)


def test_incremental_crash_between_write_and_manifest(spark, tmp_path):
    """Kill-and-resume identity for the WORST crash window: after an
    incremental increment is appended to the output but before its 'done'
    manifest record lands. Without the started-tombstone protocol the
    resume re-appends the same doc_id > watermark slice (duplicate
    windows); with it, the dangling unit is rebuilt by full overwrite."""
    inp = str(tmp_path / "seq")
    _write_input(spark, inp, 150)
    out = str(tmp_path / "out")
    LadderJob(spark, inp, out, CFG).run(incremental=True)

    spark.createDataFrame(gen_pandas(150, 200)).write.mode("append").parquet(inp)

    class CrashAfterFirstWrite(Exception):
        pass

    job = LadderJob(spark, inp, out, CFG)
    orig_append = job.manifest.append
    state = {"writes": 0}

    def crashing_append(rec):
        if rec.status == "done":
            state["writes"] += 1
            if state["writes"] == 1:
                raise CrashAfterFirstWrite()  # data written, record lost
        orig_append(rec)

    job.manifest.append = crashing_append
    with pytest.raises(CrashAfterFirstWrite):
        job.run(incremental=True)

    r = LadderJob(spark, inp, out, CFG).run(incremental=True)  # resume
    assert r["pending"] == 0

    got = _table(spark, out)
    ref_job = LadderJob(spark, inp, str(tmp_path / "ref"), CFG)
    ref_job.run()
    want = _table(spark, str(tmp_path / "ref"))
    pd.testing.assert_frame_equal(got, want)


def test_salted_write_spreads_hot_source(spark, spark_conf, tmp_path):
    """The Zipf-heavy source must be written by several parallel tasks,
    with no engine argument: AQE splits its rebalance by the bytes it
    carries. Its docs all fall in one day, so each file is one task."""
    import glob

    inp = str(tmp_path / "seq")
    _write_input(spark, inp, 600)
    out = str(tmp_path / "out")
    with spark_conf(MULTI_FILE):
        LadderJob(spark, inp, out, CFG).run()
    hot_files = glob.glob(f"{out}/source=src_0/tier=1m/window_day=*/part-*.parquet")
    assert len(hot_files) >= 3, f"expected parallel files, got {len(hot_files)}"


def test_compaction_shrinks_files_preserves_data(spark, spark_conf, tmp_path):
    """plans/compaction: after a multi-file run plus an incremental append,
    leaves hold many small files; compact_all must reduce to one file
    per leaf and leave the table contents bit-identical."""
    inp = str(tmp_path / "seq")
    out = str(tmp_path / "out")
    _write_input(spark, inp, 300)
    job = LadderJob(spark, inp, out, CFG)
    with spark_conf(MULTI_FILE):
        job.run()
        # incremental append piles more files into the same leaves
        spark.createDataFrame(gen_pandas(300, 420)).write.mode("append").parquet(inp)
        job.run(incremental=True)

    before_files = len(_parquet_files(out))
    before = _table(spark, out)
    res = compact_all(out)
    after_files = len(_parquet_files(out))
    assert after_files < before_files, (before_files, after_files)
    assert all(r["files_after"] <= r["files_before"] for r in res.values())
    after = _table(spark, out)
    pd.testing.assert_frame_equal(before, after)
    # idempotent: second pass is a no-op
    res2 = compact_all(out)
    assert all(r["rows"] is None for r in res2.values())


def test_run_compact_postpass(spark, spark_conf, tmp_path):
    """maintain() owns the small-file fix after an incremental run: every
    leaf holds at most one file, the data is unchanged, and each rewrite
    is recorded in the manifest (status='compacted', namespaced unit key
    so unit state/watermarks are untouched)."""
    import glob
    import os

    inp = str(tmp_path / "seq")
    out = str(tmp_path / "out")
    _write_input(spark, inp, 300)
    with spark_conf(MULTI_FILE):
        LadderJob(spark, inp, out, CFG).run(incremental=True)
        before = _table(spark, out)
        spark.createDataFrame(gen_pandas(300, 420)).write.mode("append").parquet(inp)
        job = LadderJob(spark, inp, out, CFG)
        r = job.run(incremental=True)
    assert r["processed"]
    res = job.maintain(policy=RetentionPolicy(max_age_days={}))  # keep all
    assert not res["retention"]["dropped"]
    assert any(c["rows"] is not None for c in res["compaction"].values())
    # every leaf of every processed source is at one file
    for unit in r["processed"]:
        for leaf in glob.glob(f"{out}/{unit}/tier=*/window_day=*"):
            files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
            assert len(files) <= 1, (leaf, files)
    # data identical to an uninterrupted non-compacted rebuild
    ref = LadderJob(spark, inp, str(tmp_path / "ref"), CFG)
    ref.run()
    pd.testing.assert_frame_equal(_table(spark, out), _table(spark, str(tmp_path / "ref")))
    assert len(_table(spark, out)) > len(before)
    # manifest records the rewrite without disturbing unit state
    recs = Manifest(out).records()
    crec = [r2 for r2 in recs if r2.status == "compacted"]
    assert crec and all(r2.unit.startswith("compaction:source=") for r2 in crec)
    # unit state intact: a rerun still skips everything
    r3 = LadderJob(spark, inp, out, CFG).run(incremental=True)
    assert not r3["processed"] and r3["pending"] == 0


@pytest.fixture(scope="module")
def salted_out(spark, spark_conf, tmp_path_factory):
    """A tier table whose leaves hold one file or several. Tests copy it
    before changing it."""
    base = tmp_path_factory.mktemp("salted")
    inp, out = str(base / "seq"), str(base / "out")
    _write_input(spark, inp, 300)
    with spark_conf(MULTI_FILE):
        LadderJob(spark, inp, out, CFG).run()
    return out


def _copy(src: str, tmp_path) -> str:
    dst = str(tmp_path / "out")
    shutil.copytree(src, dst)
    return dst


def _multi_leaf(out: str) -> tuple[str, list[str]]:
    return next((d, n) for d, n in _leaves(out).items() if len(n) > 1)


def _leaf_state(leaf: str) -> dict:
    """Every entry of a leaf dir with its inode and bytes."""
    out = {}
    for n in sorted(os.listdir(leaf)):
        with open(os.path.join(leaf, n), "rb") as f:
            out[n] = (os.stat(os.path.join(leaf, n)).st_ino, f.read())
    return out


def test_compaction_keeps_single_file_leaves(salted_out, tmp_path):
    """A leaf that already holds one file is not rewritten: same file
    name, same inode."""
    out = _copy(salted_out, tmp_path)
    single = {d: n[0] for d, n in _leaves(out).items() if len(n) == 1}
    assert single and any(len(n) > 1 for n in _leaves(out).values())
    inodes = {d: os.stat(os.path.join(d, n)).st_ino for d, n in single.items()}
    compact_all(out)
    after = _leaves(out)
    for d, n in single.items():
        assert after[d] == [n]
        assert os.stat(os.path.join(d, n)).st_ino == inodes[d]


def test_compaction_one_file_one_row_group_per_leaf(salted_out, tmp_path):
    """Every multi-file leaf ends with exactly one file holding one row
    group, and no `.crc` sidecar of a replaced file is left behind."""
    out = _copy(salted_out, tmp_path)
    multi = {d: sum(pq.read_metadata(os.path.join(d, f)).num_rows for f in n)
             for d, n in _leaves(out).items() if len(n) > 1}
    assert multi
    res = compact_all(out)
    after = _leaves(out)
    for d, rows in multi.items():
        assert len(after[d]) == 1 and os.listdir(d) == after[d], os.listdir(d)
        meta = pq.read_metadata(os.path.join(d, after[d][0]))
        assert meta.num_row_groups == 1 and meta.num_rows == rows
    assert sum(r["files_after"] for r in res.values()) == len(after)
    # a rewrite reports the whole source tree's rows, from the footers
    for src, r in res.items():
        if r["rows"] is not None:
            files = _parquet_files(f"{out}/source={src}")
            assert r["rows"] == sum(pq.read_metadata(f).num_rows for f in files)


def _dictionary_columns(meta) -> set[str]:
    rg = meta.row_group(0)
    return {rg.column(i).path_in_schema for i in range(meta.num_columns)
            if any("DICTIONARY" in e for e in rg.column(i).encodings)}


def test_compacted_file_keeps_parquet_schema(salted_out, tmp_path):
    """A compacted file's parquet schema (physical and logical types,
    INT96 timestamps included), codec and Spark row metadata equal its
    inputs', and it dictionary-encodes the columns its largest input did
    (Spark's writer drops a dictionary that does not pay)."""
    out = _copy(salted_out, tmp_path)
    leaf, names = _multi_leaf(out)
    inputs = [pq.read_metadata(os.path.join(leaf, n)) for n in names]
    compact_all(out)
    got = pq.read_metadata(os.path.join(leaf, os.listdir(leaf)[0]))
    key = b"org.apache.spark.sql.parquet.row.metadata"
    ts = got.schema.names.index("window_start")
    assert got.schema.column(ts).physical_type == "INT96"
    for m in inputs:
        assert got.schema.equals(m.schema)
        assert got.metadata[key] == m.metadata[key]
        assert (got.row_group(0).column(0).compression
                == m.row_group(0).column(0).compression)
    big = max(inputs, key=lambda m: m.num_rows)
    assert _dictionary_columns(got) == _dictionary_columns(big)


def test_compaction_keeps_far_future_timestamps(spark, tmp_path):
    """INT96 timestamps past 2262, the end of int64 nanoseconds, come
    back from a compacted leaf unchanged."""
    from datetime import datetime

    out = str(tmp_path / "out")
    leaf = f"{out}/source=s/tier=1d/window_day=0"
    rows = [(1, datetime(3000, 1, 1, 0, 0, 0, 1)), (2, datetime(9999, 12, 31))]
    for r in rows:  # one file per write
        spark.createDataFrame([r], "k long, window_start timestamp").coalesce(
            1).write.mode("append").parquet(leaf)
    assert len(_leaves(out)[leaf]) == 2
    compact_all(out)
    assert len(_leaves(out)[leaf]) == 1
    got = spark.read.parquet(leaf).orderBy("k").collect()
    assert [tuple(r) for r in got] == rows


def test_compaction_schema_drift_raises_leaf_untouched(salted_out, tmp_path):
    """One file of a leaf written with another column type: compaction
    raises before the rewrite and leaves the leaf exactly as it was."""
    out = _copy(salted_out, tmp_path)
    leaf, names = _multi_leaf(out)
    f = os.path.join(leaf, names[-1])
    t = pq.read_table(f, coerce_int96_timestamp_unit="us")
    i = t.schema.get_field_index("count")
    t = t.set_column(i, "count", t.column(i).cast(pa.int32()))
    pq.write_table(t, f, use_deprecated_int96_timestamps=True)
    before = _leaf_state(leaf)
    source = leaf.split("source=", 1)[1].split("/", 1)[0]
    with pytest.raises(RuntimeError, match="schema"):
        compact_source(out, source)
    assert _leaf_state(leaf) == before
    assert not [n for n in os.listdir(os.path.dirname(leaf)) if n.startswith(".")]


def test_compaction_lost_row_raises_leaf_untouched(salted_out, tmp_path, monkeypatch):
    """A writer that drops a row fails the footer row-count check: the
    leaf is left exactly as it was and the scratch dir is removed."""
    out = _copy(salted_out, tmp_path)
    leaf, _ = _multi_leaf(out)
    before = _leaf_state(leaf)
    write = pq.write_table
    monkeypatch.setattr(compaction.pq, "write_table",
                        lambda t, *a, **kw: write(t.slice(1), *a, **kw))
    source = leaf.split("source=", 1)[1].split("/", 1)[0]
    with pytest.raises(RuntimeError, match="rows"):
        compact_source(out, source)
    assert _leaf_state(leaf) == before
    assert not [n for n in os.listdir(os.path.dirname(leaf)) if n.startswith(".")]


def _plant_old_without_leaf(leaf):
    parent, base = os.path.split(leaf)
    os.rename(leaf, os.path.join(parent, ".old__" + base))


def _plant_old_beside_leaf(leaf):
    parent, base = os.path.split(leaf)
    shutil.copytree(leaf, os.path.join(parent, ".old__" + base))


def _plant_stale_compacting(leaf):
    parent, base = os.path.split(leaf)
    shutil.copytree(leaf, os.path.join(parent, ".compacting__" + base))


def _plant_old_source_tree(leaf):
    src = leaf.split("/tier=", 1)[0]
    parent, base = os.path.split(src)
    os.rename(src, os.path.join(parent, ".old__" + base))


@pytest.mark.parametrize("plant", [
    _plant_old_without_leaf,  # crash between the two renames
    _plant_old_beside_leaf,  # crash before the replaced leaf was removed
    _plant_stale_compacting,  # crash before the swap
    _plant_old_source_tree,  # a whole-source-tree swap, at the table root
], ids=lambda f: f.__name__[len("_plant_"):])
def test_maintain_repairs_interrupted_swap(spark, salted_out, tmp_path, plant):
    """A crash mid-swap leaves dot-prefixed dirs that readers skip; the
    next maintain() restores the table exactly and leaves no scratch dir."""
    out = _copy(salted_out, tmp_path)
    want = _table(spark, out)
    plant(_multi_leaf(out)[0])
    job = LadderJob(spark, str(tmp_path / "unused"), out, CFG)
    job.maintain(policy=RetentionPolicy(max_age_days={}))
    pd.testing.assert_frame_equal(_table(spark, out), want)
    for dirpath, dirs, _ in os.walk(out):
        assert not [d for d in dirs if d.startswith((".old__", ".compacting__"))]
    assert all(len(n) == 1 for n in _leaves(out).values())


def test_parquet_files_skips_hidden_dirs(salted_out, tmp_path):
    """Scratch (`.`-prefixed) and `_temporary` dirs are not table data:
    neither `_parquet_files` nor compaction's file counts include them."""
    out = _copy(salted_out, tmp_path)
    n = len(_parquet_files(out))
    leaf, _ = _multi_leaf(out)
    parent, base = os.path.split(leaf)
    shutil.copytree(leaf, os.path.join(parent, ".compacting__x" + base))
    shutil.copytree(leaf, os.path.join(leaf, "_temporary", "0"))
    assert len(_parquet_files(out)) == n
    res = compact_all(out)
    assert sum(r["files_before"] for r in res.values()) == n


def test_read_tier_range_prunes_partitions(spark, tmp_path):
    """read_tier_range must equal a full-scan filter AND carry the
    window_day bound as a partition filter (pruned at planning time)."""
    inp = str(tmp_path / "seq")
    out = str(tmp_path / "out")
    _write_input(spark, inp, 200)
    job = LadderJob(spark, inp, out, CFG)
    job.run()

    import pyspark.sql.functions as SF2

    full = job.read_output()
    lo = full.where(SF2.col("tier") == "1m").agg(
        SF2.min(SF2.unix_millis("window_start"))
    ).first()[0]
    t0 = int(lo) + 60_000  # one minute past the earliest window
    t1 = t0 + 7_200_000
    got = job.read_tier_range("1m", t0, t1).select(
        "source", "doc_id", "window_start", "count"
    ).toPandas().sort_values(["source", "doc_id", "window_start"])
    import pyspark.sql.functions as SF

    want = full.where(
        (SF.col("tier") == "1m")
        & (SF.unix_millis("window_start") >= t0)
        & (SF.unix_millis("window_start") < t1)
    ).select("source", "doc_id", "window_start", "count").toPandas(
    ).sort_values(["source", "doc_id", "window_start"])
    assert len(got) == len(want) and len(got) > 0
    assert (got.reset_index(drop=True) == want.reset_index(drop=True)).all().all()
    plan = job.read_tier_range("1m", t0, t1)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "PartitionFilters" in plan and "window_day" in plan.split(
        "PartitionFilters"
    )[1][:300]
