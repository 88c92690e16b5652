"""Tier-aware query routing (plans/router.py): the read-side dispatch
over the materialized ladder — coarsest sufficient tier for a
resolution, day-pruned reads, and raw-fidelity point decode from the
finest tier's Gorilla blocks (truth: independently decoded `raw`-tier
whole-series blocks)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from time2feat_spark.generator import gen_pandas
import pytest

from time2feat_spark.operators.rollup import (
    T0_MS,
    RollupConfig,
    assemble,
    rollup_points,
    tier_points,
    tier_table_schema,
)
from time2feat_spark.plans.ladder_job import LadderJob
from time2feat_spark.plans.retention import RetentionPolicy, enforce_retention
from time2feat_spark.plans.router import (
    aggregate_range,
    available_days,
    choose_tier,
    quantile_range,
    route_points,
    route_range,
    route_range_tiered,
)

CFG = RollupConfig()  # raw + 1m/1h/1d, compressed


def test_choose_tier_rule():
    assert choose_tier(CFG, 86400) == "1d"
    assert choose_tier(CFG, 7 * 86400) == "1d"
    assert choose_tier(CFG, 7200) == "1h"
    assert choose_tier(CFG, 3600) == "1h"
    assert choose_tier(CFG, 90) == "1m"
    assert choose_tier(CFG, 30) is None  # finer than every windowed tier


def _ladder(spark, tmp_path, n=80):
    inp = str(tmp_path / "seq")
    spark.createDataFrame(gen_pandas(0, n)).write.mode("overwrite").parquet(inp)
    job = LadderJob(spark, inp, str(tmp_path / "out"), CFG)
    job.run()
    return job


def test_route_range_picks_tier_and_prunes(spark, tmp_path):
    job = _ladder(spark, tmp_path)
    full = job.read_output()
    t_lo = full.where("tier = '1h'").agg(
        F.min(F.unix_millis("window_start"))
    ).first()[0]
    start, end = t_lo, t_lo + 6 * 3600 * 1000

    tier, df = route_range(job, start, end, resolution_sec=7200)
    assert tier == "1h"
    got = df.select("source", "doc_id", "window_start", "count").toPandas()
    want = (
        full.where(
            (F.col("tier") == "1h")
            & (F.unix_millis("window_start") >= start)
            & (F.unix_millis("window_start") < end)
        )
        .select("source", "doc_id", "window_start", "count")
        .toPandas()
    )
    key = ["source", "doc_id", "window_start"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
    )
    # day-resolution request routes to 1d, week-long range
    tier2, df2 = route_range(job, start, start + 7 * 86_400_000, 86_400)
    assert tier2 == "1d" and df2.count() > 0
    # pruning evidence on the routed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "window_day" in plan.split("PartitionFilters")[1][:300]


def test_route_points_matches_raw_tier_decode(spark, tmp_path):
    """Points routed from 1m Gorilla windows == the same range decoded
    from the INDEPENDENT raw-tier whole-series blocks."""
    job = _ladder(spark, tmp_path)
    full = job.read_output()
    t_lo = full.where("tier = '1m'").agg(
        F.min(F.unix_millis("window_start"))
    ).first()[0]
    # deliberately unaligned range (30 s into a minute, 150 s long)
    start, end = t_lo + 30_000, t_lo + 180_000

    tier, got_df = route_range(job, start, end, resolution_sec=1)
    assert tier == "points"
    got = got_df.toPandas()
    raw = tier_points(
        full.where("tier = 'raw'"), key_cols=["source", "doc_id"]
    ).where(
        (F.col("ts_ms") >= start) & (F.col("ts_ms") < end)
    ).drop("tier").toPandas()
    key = ["source", "doc_id", "ts_ms"]
    g = got.sort_values(key).reset_index(drop=True)
    w = raw.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) > 0
    pd.testing.assert_frame_equal(g, w)
    # exact range bounds honored
    assert g.ts_ms.min() >= start and g.ts_ms.max() < end


def test_tier_points_mixed_tiers_match_reference_decoders(spark, tmp_path):
    """tier_points over every tier of a LadderJob table in one read,
    coalesced so raw, 1m, 1h and 1d blocks share Arrow batches: row for
    row, in order, the per-block reference decoders' points."""
    from time2feat_spark.functions.gorilla import decode_ts_block, decode_val_block

    full = _ladder(spark, tmp_path, n=20).read_output().coalesce(1)
    keys = ["source", "tier", "doc_id", "window_start"]
    rows = full.select(*keys, "count", "ts_gorilla", "val_gorilla").toPandas()
    assert set(rows.tier) == {"raw", "1m", "1h", "1d"}
    got = tier_points(full, key_cols=keys).toPandas()

    counts = rows["count"].to_numpy()
    want = pd.DataFrame({c: np.repeat(rows[c].to_numpy(), counts) for c in keys})
    want["ts_ms"] = np.concatenate([
        decode_ts_block(bytes(b), int(c)) for b, c in zip(rows.ts_gorilla, counts)])
    want["value"] = np.concatenate([
        decode_val_block(bytes(b), int(c)) for b, c in zip(rows.val_gorilla, counts)])
    pd.testing.assert_frame_equal(got, want)


def test_route_points_empty_range(spark, tmp_path):
    job = _ladder(spark, tmp_path, n=30)
    assert route_points(job, 0, 1000).count() == 0


def test_aggregate_range_reagg_exact_vs_direct_rollup(spark, tmp_path):
    """6h buckets answered from the 1h tier must equal a DIRECT rollup
    of the same input at a 6h tier: count/sum/min/max exactly (token
    values are small ints — double sums are exact), mean to 1 ulp."""
    import pytest

    from time2feat_spark.operators.rollup import assemble, rollup_sequences
    from time2feat_spark.plans.router import aggregate_range

    job = _ladder(spark, tmp_path, n=60)
    full = job.read_output()
    t_lo = full.where("tier = '1d'").agg(
        F.min(F.unix_millis("window_start"))
    ).first()[0]
    res = 6 * 3600
    start = (t_lo // (res * 1000)) * (res * 1000)
    end = start + 2 * 86_400_000

    tier, got_df = aggregate_range(job, start, end, res)
    assert tier == "1h"  # coarsest divisor of 6h among 1m/1h/1d
    got = got_df.toPandas()

    seq = spark.read.parquet(str(tmp_path / "seq"))
    direct_cfg = RollupConfig(
        tiers=[("6h", res)], include_raw=False, compress=False, features=[]
    )
    want = (
        assemble(rollup_sequences(seq, direct_cfg), direct_cfg)
        .where(
            (F.unix_millis("window_start") >= start)
            & (F.unix_millis("window_start") < end)
        )
        .select(
            "source", "doc_id",
            F.unix_millis("window_start").alias("bucket_start_ms"),
            "count", "sum", "min", "max", "mean",
        )
        .toPandas()
    )
    key = ["source", "doc_id", "bucket_start_ms"]
    g = got[want.columns].sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w) > 0
    for c in ("count", "sum", "min", "max"):
        assert (g[c].to_numpy() == w[c].to_numpy()).all(), c
    assert np.allclose(g["mean"], w["mean"], rtol=1e-12, atol=0)

    # misaligned bounds are loud
    with pytest.raises(ValueError, match="multiples of resolution"):
        aggregate_range(job, start + 1, end, res)

    # a resolution no tier divides falls back to bucketed points
    tier2, df2 = aggregate_range(job, start, start + 180_000, 90)
    assert tier2 == "points" and df2.count() > 0


def test_quantile_range_exact_vs_numpy(spark, tmp_path):
    """quantile_range decodes the 1h tier's Gorilla blocks and must
    reproduce numpy's linear-interpolation percentiles of the raw input
    samples per 6h bucket, exactly."""
    import numpy as np

    from time2feat_spark.operators.rollup import tier_points
    from time2feat_spark.plans.router import quantile_range

    job = _ladder(spark, tmp_path, n=40)
    full = job.read_output()
    t_lo = full.where("tier = '1d'").agg(
        F.min(F.unix_millis("window_start"))
    ).first()[0]
    res = 6 * 3600
    start = (t_lo // (res * 1000)) * (res * 1000)
    end = start + 86_400_000

    got = quantile_range(job, start, end, res, qs=(0.5, 0.9)).toPandas()
    assert len(got) > 0

    # independent truth: decode the RAW whole-series tier, bucket with
    # pandas, numpy percentiles
    raw = tier_points(
        full.where("tier = 'raw'"), key_cols=["source", "doc_id"]
    ).where(
        (F.col("ts_ms") >= start) & (F.col("ts_ms") < end)
    ).toPandas()
    raw["bucket_start_ms"] = (raw.ts_ms // (res * 1000)) * (res * 1000)
    want = (
        raw.groupby(["source", "doc_id", "bucket_start_ms"])["value"]
        .agg(
            count="count",
            q_0_5=lambda v: np.percentile(v, 50),
            q_0_9=lambda v: np.percentile(v, 90),
        )
        .reset_index()
    )
    key = ["source", "doc_id", "bucket_start_ms"]
    g = got.sort_values(key).reset_index(drop=True)[want.columns]
    w = want.sort_values(key).reset_index(drop=True)
    assert len(g) == len(w)
    assert (g["count"].to_numpy() == w["count"].to_numpy()).all()
    # Spark computes (1-f)*lo + f*hi, numpy lo + f*(hi-lo): same linear
    # interpolation, last-ulp float difference
    for c in ("q_0_5", "q_0_9"):
        assert np.allclose(g[c], w[c], rtol=1e-12, atol=1e-12), c


# ---------------------------------------------- declared read schema

DAY_MS = 86_400_000
SHORT = RollupConfig(features=["variance", "median", "q10"])


def _points_table(spark, out, cfg):
    """The points layout: ``rollup_points`` + ``assemble`` written with
    ``partitionBy("source", "tier", "window_day")``."""
    rng = np.random.default_rng(0)
    frames = []
    for k in range(4):
        ts = np.sort(rng.choice(2 * 86_400, 400, replace=False)) * 1000 + T0_MS
        frames.append(pd.DataFrame({
            "source": f"s{k % 2}", "doc_id": f"d{k}",
            "ts": pd.to_datetime(ts, unit="ms"),
            "value": rng.normal(size=len(ts)),
        }))
    pts = spark.createDataFrame(pd.concat(frames, ignore_index=True))
    assemble(rollup_points(pts, ["source", "doc_id"], "ts", "value", cfg),
             cfg).withColumn(
        "window_day",
        F.floor(F.unix_millis("window_start") / F.lit(DAY_MS)).cast("long"),
    ).write.partitionBy("source", "tier", "window_day").parquet(out)


@pytest.mark.parametrize("cfg", [CFG, SHORT], ids=["default", "short"])
@pytest.mark.parametrize("layout", ["ladder", "points"])
def test_declared_schema_equals_inferred(spark, tmp_path, layout, cfg):
    out = str(tmp_path / "out")
    if layout == "ladder":
        inp = str(tmp_path / "seq")
        spark.createDataFrame(gen_pandas(0, 12)).write.parquet(inp)
        LadderJob(spark, inp, out, cfg).run()
    else:
        _points_table(spark, out, cfg)
    inferred = spark.read.option("basePath", out).parquet(out).schema
    assert tier_table_schema(cfg) == inferred
    assert LadderJob(spark, "", out, cfg).read_output().schema == inferred


def test_read_follows_cfg_features(spark, tmp_path):
    """``feat`` is read as ``cfg.features`` declares it, not as stored,
    so a table must be read with the config it was written with: read
    with a longer list, the features its files lack come back null."""
    inp, out = str(tmp_path / "seq"), str(tmp_path / "out")
    spark.createDataFrame(gen_pandas(0, 12)).write.parquet(inp)
    LadderJob(spark, inp, out, SHORT).run()
    stored = LadderJob(spark, "", out, SHORT).read_output()
    wide = LadderJob(spark, "", out, CFG).read_output()
    assert wide.schema["feat"].dataType.names == CFG.features
    key = ["source", "doc_id", "tier", "window_start"]
    got = wide.select(*key, "feat.*").toPandas()
    assert len(got) == stored.count() > 0
    missing = [nm for nm in CFG.features if nm not in SHORT.features]
    assert got[missing].isna().all().all()
    want = stored.select(*key, "feat.*").toPandas()
    both = want.merge(got, on=key, suffixes=("", "_wide"))
    assert len(both) == len(want)
    for nm in SHORT.features:
        assert np.allclose(both[nm], both[f"{nm}_wide"], equal_nan=True), nm


def test_route_range_tiered_is_one_pruned_scan(spark, tmp_path):
    """A plan that mixes tiers is still one scan of the table, pruned to
    the planned (tier, window_day) partitions."""
    inp = str(tmp_path / "seq")
    spark.createDataFrame(gen_pandas(0, 20)).write.parquet(inp)
    cfg = RollupConfig(tiers=[("1h", 3600), ("1d", 86400)], include_raw=False,
                       tick_ms=600_000, features=["variance"])  # 10-min ticks
    job = LadderJob(spark, inp, str(tmp_path / "out"), cfg)
    job.run()
    days = sorted(available_days(job, "1h"))
    enforce_retention(job.out_root, RetentionPolicy({"1h": 1, "1d": None}),
                      (days[1] + 1) * DAY_MS)
    start, end = days[0] * DAY_MS, (days[-1] + 1) * DAY_MS
    plan, df = route_range_tiered(job, start, end, 3600)
    assert set(plan.values()) == {"1h", "1d"}, plan
    scans = [ln for ln in df._jdf.queryExecution().executedPlan().toString()
             .splitlines() if "FileScan" in ln]
    assert len(scans) == 1 and "PartitionFilters" in scans[0], scans
    pruned = scans[0].split("PartitionFilters")[1].split("PushedFilters")[0]
    assert "tier" in pruned and "window_day" in pruned and " OR " in pruned
    got = df.toPandas()
    for t in ("1h", "1d"):
        tdays = [d for d, pt in plan.items() if pt == t]
        want = job.read_tier_range(t, start, end).where(
            F.col("window_day").isin(tdays)).toPandas()
        assert len(got[got.tier == t]) == len(want) > 0, t


def test_planning_router_reads_launches_no_job(spark, tmp_path):
    job = _ladder(spark, tmp_path, n=20)
    sc = spark.sparkContext
    group = f"plan-{tmp_path.name}"
    sc.setJobGroup(group, "planning router reads")
    try:
        end = T0_MS + DAY_MS
        frames = [
            job.read_tier_range("1h", T0_MS, end),
            aggregate_range(job, T0_MS, end, 6 * 3600)[1],
            route_range_tiered(job, T0_MS, end, 60)[1],
            quantile_range(job, T0_MS, end, 3600),
            route_points(job, T0_MS, T0_MS + 600_000),
        ]
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert all(len(df.collect()) > 0 for df in frames)
        assert sc.statusTracker().getJobIdsForGroup(group)  # counter works
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_digit_source_names_stay_strings(spark, tmp_path):
    inp = str(tmp_path / "seq")
    pdf = gen_pandas(0, 30)
    pdf["source"] = np.where(np.arange(len(pdf)) % 2, "010", "007")
    spark.createDataFrame(pdf).write.parquet(inp)
    job = LadderJob(spark, inp, str(tmp_path / "out"), CFG)
    job.run()
    got = {r[0] for r in job.read_output().select("source").distinct().collect()}
    assert got == {"007", "010"}
    _, agg = aggregate_range(job, T0_MS, T0_MS + DAY_MS, 6 * 3600, ["007"])
    rows = agg.select("source").collect()
    assert rows and {r[0] for r in rows} == {"007"}


def test_table_without_data_files_reads_empty(spark, tmp_path):
    """Before the first run, and after retention dropped every
    partition, the table has no data file to infer a schema from."""
    inp = str(tmp_path / "seq")
    spark.createDataFrame(gen_pandas(0, 10)).write.parquet(inp)
    fresh = LadderJob(spark, inp, str(tmp_path / "fresh"), CFG)
    drained = LadderJob(spark, inp, str(tmp_path / "drained"), CFG)
    drained.run()
    drained.maintain(
        RetentionPolicy({t: 0 for t in ("raw", "1m", "1h", "1d")}),
        now_ms=T0_MS + 400 * DAY_MS,
    )
    schema = tier_table_schema(CFG)
    for job in (fresh, drained):
        assert job.read_output().schema == schema
        assert job.read_output().count() == 0
        _, agg = aggregate_range(job, T0_MS, T0_MS + DAY_MS, 6 * 3600)
        assert agg.count() == 0
        plan, df = route_range_tiered(job, T0_MS, T0_MS + DAY_MS, 3600)
        assert plan == {} and df.schema == schema and df.count() == 0
