"""Retention-policy enforcement (north_rule: rollup + downsample +
RETENTION): tier partitions expire by age via pure directory/partition
drops — finer tiers die young, coarser tiers live long."""

from __future__ import annotations

import glob
import time

import pytest

from pyspark.sql import functions as F

from time2feat_spark.generator import gen_pandas
from time2feat_spark.operators.rollup import RollupConfig, T0_MS
from time2feat_spark.plans.checkpoint import Manifest
from time2feat_spark.plans.ladder_job import LadderJob
from time2feat_spark.plans.retention import (
    MS_PER_DAY,
    RetentionPolicy,
    enforce_retention,
)

# 10-minute ticks spread each ~1056-token doc across ~7.3 days
CFG = RollupConfig(tiers=[("1h", 3600), ("1d", 86400)], include_raw=False,
                   tick_ms=600_000, features=["variance", "median"])
#: the test units are below AQE's default 1 MB partition floor; under a
#: 16 KB floor the larger ones split into several tasks, hence files
MULTI_FILE = {"spark.sql.adaptive.coalescePartitions.minPartitionSize": "16k"}


@pytest.fixture(scope="module")
def laddered(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("ret")
    inp = str(tmp / "seq")
    spark.createDataFrame(gen_pandas(0, 60)).write.parquet(inp)
    out = str(tmp / "out")
    LadderJob(spark, inp, out, CFG).run()
    return out


def test_retention_drops_only_expired_tier_partitions(spark, laddered):
    out = laddered
    days = sorted(
        int(d.rsplit("=", 1)[1])
        for d in glob.glob(f"{out}/source=*/tier=1h/window_day=*")
    )
    assert days[-1] - days[0] >= 6  # data really spans about a week
    now_ms = (days[-1] + 1) * MS_PER_DAY
    # keep 1h for 3 days, 1d forever
    policy = RetentionPolicy({"1h": 3, "1d": None})
    before_1d = len(glob.glob(f"{out}/source=*/tier=1d/window_day=*"))
    res = enforce_retention(out, policy, now_ms)
    assert res["dropped"]  # old 1h partitions gone
    left = sorted(
        {
            int(d.rsplit("=", 1)[1])
            for d in glob.glob(f"{out}/source=*/tier=1h/window_day=*")
        }
    )
    cutoff = now_ms // MS_PER_DAY - 3
    assert left and all(d >= cutoff for d in left)
    # the 1d tier is untouched (None = forever)
    assert len(glob.glob(f"{out}/source=*/tier=1d/window_day=*")) == before_1d

    # the surviving table is readable and only holds recent 1h windows
    df = spark.read.option("basePath", out).parquet(out)
    mx = df.where("tier = '1h'").agg(
        F.min("window_day").alias("lo")
    ).first()
    assert mx.lo >= cutoff

    # idempotent: a second pass drops nothing
    res2 = enforce_retention(out, policy, now_ms)
    assert not res2["dropped"]

    # lineage: the manifest records the retention action
    recs = Manifest(out).records()
    assert any(r.status == "retention" for r in recs)
    # and resume bookkeeping ignores retention records
    assert "retention" not in Manifest(out).dangling_units()


def test_default_policy_tiers():
    p = RetentionPolicy()
    now = 1_000 * MS_PER_DAY
    assert p.cutoff_day("raw", now) == 993
    assert p.cutoff_day("1m", now) == 910
    assert p.cutoff_day("1d", now) is None
    assert p.cutoff_day("unknown_tier", now) is None  # default: keep


def test_maintain_orchestrates_retention_and_compaction(spark, spark_conf,
                                                       tmp_path):
    """LadderJob.maintain = retention drops then compaction, idempotent,
    both recorded in the manifest — the cron-able maintenance entry."""
    inp = str(tmp_path / "seq")
    spark.createDataFrame(gen_pandas(0, 40)).write.parquet(inp)
    out = str(tmp_path / "out")
    job = LadderJob(spark, inp, out, CFG)
    with spark_conf(MULTI_FILE):
        job.run()

    days = sorted(
        int(p.rsplit("window_day=", 1)[1])
        for p in glob.glob(f"{out}/source=*/tier=1h/window_day=*")
    )
    # age the clock so the oldest 1h day is past a 1-day 1h retention
    now_ms = (days[0] + 2) * MS_PER_DAY
    policy = RetentionPolicy(max_age_days={"1h": 1, "1d": None})
    res = job.maintain(policy=policy, now_ms=now_ms)
    assert res["retention"]["dropped"], res["retention"]
    assert not glob.glob(f"{out}/source=*/tier=1h/window_day={days[0]}")
    # every surviving leaf compacted to one file
    for leaf in glob.glob(f"{out}/source=*/tier=*/window_day=*"):
        files = [f for f in glob.glob(f"{leaf}/*.parquet")]
        assert len(files) <= 1, leaf
    # manifest carries both actions
    statuses = {r.status for r in Manifest(out).records()}
    assert "retention" in statuses or any(
        r.unit.startswith("retention") for r in Manifest(out).records()
    )
    # idempotent second pass: nothing else dropped, no rewrites
    res2 = job.maintain(policy=policy, now_ms=now_ms)
    assert not res2["retention"]["dropped"]
    assert all(v["rows"] is None for v in res2["compaction"].values())


def test_run_ladder_compact_alone_keeps_everything(spark, spark_conf, tmp_path,
                                                   monkeypatch, capsys):
    """scripts/run_ladder.py --compact maintains through
    LadderJob.maintain() with a keep-everything policy: raw and 1m
    windows old enough for the default policy to drop stay, and every
    leaf ends at one file."""
    import importlib.util
    import json
    import os
    import sys

    inp, out = str(tmp_path / "seq"), str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(0, 80)).write.parquet(inp)
    script = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                          "scripts", "run_ladder.py")
    spec = importlib.util.spec_from_file_location("run_ladder", script)
    run_ladder = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_ladder)
    monkeypatch.setattr(sys, "argv", ["run_ladder.py", "--input", inp,
                                      "--output", out, "--compact"])
    with spark_conf(MULTI_FILE):  # the script reuses this session
        run_ladder.main()
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["retention"]["dropped"] == []
    assert any(c["rows"] is not None for c in res["compaction"].values())
    newest = max(int(p.rsplit("=", 1)[1])
                 for p in glob.glob(f"{out}/source=*/tier=*/window_day=*"))
    # the default policy keeps 1m for 90 days: these windows are older
    assert RetentionPolicy().cutoff_day("1m", int(time.time() * 1000)) > newest
    for tier in ("raw", "1m"):
        assert glob.glob(f"{out}/source=*/tier={tier}/window_day=*")
    for leaf in glob.glob(f"{out}/source=*/tier=*/window_day=*"):
        assert len(glob.glob(f"{leaf}/*.parquet")) == 1, leaf


def test_route_range_tiered_falls_back_after_retention(spark, tmp_path):
    """Data tiering: after retention drops old 1h days (1d survives), a
    1h-resolution range read stitches 1h windows for recent days and 1d
    windows for the expired days — old data degrades, never disappears."""
    from time2feat_spark.plans.router import route_range_tiered

    inp = str(tmp_path / "seq")
    spark.createDataFrame(gen_pandas(0, 50)).write.parquet(inp)
    out = str(tmp_path / "out")
    job = LadderJob(spark, inp, out, CFG)
    job.run()

    days = sorted(
        {
            int(p.rsplit("window_day=", 1)[1])
            for p in glob.glob(f"{out}/source=*/tier=1h/window_day=*")
        }
    )
    assert len(days) >= 4
    cut = days[1]  # expire 1h for the two oldest days
    now_ms = (cut + 2) * MS_PER_DAY
    enforce_retention(
        out, RetentionPolicy(max_age_days={"1h": 1, "1d": None}), now_ms
    )

    start = days[0] * MS_PER_DAY
    end = (days[-1] + 1) * MS_PER_DAY
    plan, df = route_range_tiered(job, start, end, resolution_sec=3600)
    got = df.toPandas()
    # expired days served from 1d, surviving days from 1h
    for d in days:
        want_tier = "1d" if d <= cut else "1h"
        assert plan[d] == want_tier, (d, plan)
        rows = got[got.window_day == d]
        assert len(rows) > 0 and (rows.tier == want_tier).all(), d
    # per-day rows equal a direct filtered read of the same tier
    full = job.read_output().toPandas()
    for d, t in plan.items():
        want = full[
            (full.tier == t)
            & (full.window_day == d)
            & (full.window_start.astype("int64") // 10**6 >= start)
            & (full.window_start.astype("int64") // 10**6 < end)
        ]
        assert len(got[got.window_day == d]) == len(want), (d, t)
