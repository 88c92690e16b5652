"""Tier-aware query routing: answer from the coarsest sufficient tier.

The classic continuous-aggregate read mechanic (TimescaleDB continuous
aggregates / Druid query granularity): a dashboard asks for a time
range at a target resolution, and the engine picks the COARSEST
materialized tier whose window width still satisfies that resolution —
at 100 TB the difference between scanning raw points and reading 1d
rollup windows is 4-5 orders of magnitude of IO, and the choice must be
automatic so zooming never needs query rewrites. Reference scope: the
tier ladder (north_rule) exists exactly so reads can be answered from
rollups; this module is the read-side dispatch over
`LadderJob.read_tier_range` (window_day partition pruning on every
path). Every route plans from `job.cfg`, the config the table was
written with; no other config reads it correctly.

Raw fidelity comes from the compressed store itself: when the request
is finer than the finest windowed tier, the finest tier's Gorilla
blocks are decoded back to points (`operators/rollup.tier_points`) and
filtered exactly — still partition-pruned to the requested days, never
a raw-table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..operators.rollup import RollupConfig, tier_points

MS_PER_DAY = 86_400_000


def windowed_tiers(cfg: RollupConfig) -> list[tuple[str, int]]:
    """(name, seconds) of the time-windowed tiers, finest first. The
    `raw` tier is whole-series blocks (windows all start at the series
    epoch), so it is not a routing candidate — point-resolution requests
    decode the finest windowed tier instead, which holds the identical
    samples and prunes by day."""
    return sorted(cfg.tiers, key=lambda t: t[1])


def choose_tier(cfg: RollupConfig, resolution_sec: float) -> str | None:
    """Coarsest tier whose window width <= the requested resolution;
    None when the request is finer than every windowed tier (caller
    routes to points)."""
    best = None
    for name, sec in windowed_tiers(cfg):
        if sec <= resolution_sec:
            best = name
    return best


def route_range(
    job,
    start_ms: int,
    end_ms: int,
    resolution_sec: float,
    sources: list[str] | None = None,
) -> tuple[str, DataFrame]:
    """Windows of the coarsest sufficient tier for [start_ms, end_ms),
    day-partition-pruned. Returns (tier_name, DataFrame); tier_name is
    "points" when the request is finer than the finest windowed tier
    (the DataFrame is then decoded points: key cols + ts_ms + value)."""
    tier = choose_tier(job.cfg, resolution_sec)
    if tier is None:
        return "points", route_points(job, start_ms, end_ms, sources)
    return tier, job.read_tier_range(tier, start_ms, end_ms, sources)


def available_days(job, tier: str, sources: list[str] | None = None) -> set:
    """window_day partitions that still exist for a tier (directory
    listing — the same metadata a catalog would serve)."""
    import glob
    import os

    days = set()
    for src_dir in glob.glob(f"{job.out_root}/source=*"):
        if sources is not None:
            if src_dir.rsplit("source=", 1)[1] not in sources:
                continue
        for d in glob.glob(f"{src_dir}/tier={tier}/window_day=*"):
            days.add(int(os.path.basename(d).split("=", 1)[1]))
    return days


def route_range_tiered(
    job,
    start_ms: int,
    end_ms: int,
    resolution_sec: float,
    sources: list[str] | None = None,
) -> tuple[dict, DataFrame]:
    """Retention-aware range read (data tiering): per window_day, read
    the PREFERRED tier (coarsest sufficient for the resolution) where it
    still exists, and fall back to the next COARSER tier for days where
    retention already dropped it — fine tiers die young (north_rule), so
    old days degrade to coarser windows instead of disappearing, exactly
    the zoomed-out view a dashboard shows for old data. Returns
    ({day: tier} plan, windows DataFrame with its `tier` column); days
    with no surviving tier are simply absent. The windows are ONE read
    of the table, pruned to the planned (tier, window_day) partitions
    and filtered exactly on window_start, as `read_tier_range` does for
    one tier; an empty plan prunes every partition and returns 0 rows
    of the table's declared schema."""
    preferred = choose_tier(job.cfg, resolution_sec)
    if preferred is None:
        raise ValueError(
            "resolution finer than every windowed tier — use route_points"
        )
    ladder = [name for name, _ in windowed_tiers(job.cfg)]
    candidates = ladder[ladder.index(preferred):]  # preferred, then coarser
    have = {t: available_days(job, t, sources) for t in candidates}
    lo_day = start_ms // MS_PER_DAY
    hi_day = (end_ms - 1) // MS_PER_DAY
    plan: dict[int, str] = {}
    for day in range(lo_day, hi_day + 1):
        for t in candidates:
            if day in have[t]:
                plan[day] = t
                break
    picked = F.lit(False)
    for t in sorted(set(plan.values())):
        days = [d for d, pt in plan.items() if pt == t]
        picked = picked | ((F.col("tier") == t) & F.col("window_day").isin(days))
    df = job.read_output().where(
        picked
        & (F.unix_millis("window_start") >= start_ms)
        & (F.unix_millis("window_start") < end_ms)
    )
    if sources is not None:
        df = df.where(F.col("source").isin(sources))
    return plan, df


def choose_divisor_tier(cfg: RollupConfig, resolution_sec: int) -> str | None:
    """Coarsest tier whose window width DIVIDES the requested resolution
    — the re-aggregation candidate: window starts are multiples of the
    tier width, so every tier window falls entirely inside one
    resolution bucket and algebraic stats re-aggregate exactly."""
    best = None
    for name, sec in windowed_tiers(cfg):
        if sec <= resolution_sec and resolution_sec % sec == 0:
            best = name
    return best


def aggregate_range(
    job,
    start_ms: int,
    end_ms: int,
    resolution_sec: int,
    sources: list[str] | None = None,
):
    """Algebraic rollup of [start_ms, end_ms) onto a `resolution_sec`
    bucket grid, answered from the coarsest EVENLY-DIVIDING tier — the
    continuous-aggregate query surface: count/sum/min/max re-aggregate
    exactly from tier windows (mean = sum/count), so e.g. a 6h dashboard
    panel reads the 1h tier (6 rows per bucket), never raw points.
    Requests no tier divides fall back to bucketing decoded points (still
    day-pruned). start/end must sit on the bucket grid. Returns
    (source_tier_name, DataFrame) with one row per
    (source, doc_id, bucket_start) carrying count/sum/min/max/mean."""
    res_ms = resolution_sec * 1000
    if start_ms % res_ms or end_ms % res_ms:
        raise ValueError(
            f"start/end must be multiples of resolution ({res_ms} ms) so "
            f"buckets are whole; got start={start_ms}, end={end_ms}"
        )
    tier = choose_divisor_tier(job.cfg, resolution_sec)
    if tier is None:
        pts = route_points(job, start_ms, end_ms, sources)
        bucket = (F.floor(F.col("ts_ms") / F.lit(res_ms)) * res_ms).cast(
            "long"
        )
        grouped = pts.groupBy(
            "source", "doc_id", bucket.alias("bucket_start_ms")
        ).agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("value").alias("sum"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
        )
    else:
        w = job.read_tier_range(tier, start_ms, end_ms, sources)
        bucket = (
            F.floor(F.unix_millis("window_start") / F.lit(res_ms)) * res_ms
        ).cast("long")
        grouped = w.groupBy(
            "source", "doc_id", bucket.alias("bucket_start_ms")
        ).agg(
            F.sum("count").alias("count"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
    return tier or "points", grouped.withColumn(
        "mean", F.col("sum") / F.col("count")
    )


def quantile_range(
    job,
    start_ms: int,
    end_ms: int,
    resolution_sec: int,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    sources: list[str] | None = None,
) -> DataFrame:
    """EXACT quantiles of [start_ms, end_ms) on a `resolution_sec`
    bucket grid. Quantiles are holistic — they cannot be re-aggregated
    from tier statistics — so this decodes the raw samples back out of
    the COARSEST evenly-dividing tier's Gorilla blocks (every tier
    stores its windows' own points; the coarsest divisor minimizes block
    count per bucket) and runs Spark's exact percentile per bucket. The
    read is still window_day partition-pruned and touches only the
    compressed tier table, never a raw-table scan; decode cost is
    O(points in range), the floor for any exact holistic answer.
    Output: one row per (source, doc_id, bucket_start_ms) with q_<pct>
    columns."""
    res_ms = resolution_sec * 1000
    if start_ms % res_ms or end_ms % res_ms:
        raise ValueError(
            f"start/end must be multiples of resolution ({res_ms} ms); "
            f"got start={start_ms}, end={end_ms}"
        )
    tier = choose_divisor_tier(job.cfg, resolution_sec)
    if tier is None:
        pts = route_points(job, start_ms, end_ms, sources)
    else:
        w = job.read_tier_range(tier, start_ms, end_ms, sources)
        pts = tier_points(w, key_cols=["source", "doc_id"])
    bucket = (F.floor(F.col("ts_ms") / F.lit(res_ms)) * res_ms).cast("long")
    aggs = [
        F.percentile("value", F.lit(q)).alias(
            f"q_{str(q).replace('.', '_')}"
        )
        for q in qs
    ]
    return pts.groupBy(
        "source", "doc_id", bucket.alias("bucket_start_ms")
    ).agg(F.count(F.lit(1)).alias("count"), *aggs)


def route_points(
    job,
    start_ms: int,
    end_ms: int,
    sources: list[str] | None = None,
) -> DataFrame:
    """Exact raw points in [start_ms, end_ms) decoded from the FINEST
    windowed tier's Gorilla blocks. The day bound prunes partitions; the
    window bound is widened to whole windows of that tier (a point lives
    in exactly one window, so decoding the covering windows and
    filtering ts exactly loses nothing and reads no raw table)."""
    name, sec = windowed_tiers(job.cfg)[0]
    w_ms = sec * 1000
    lo = (start_ms // w_ms) * w_ms
    hi = -(-end_ms // w_ms) * w_ms
    windows = job.read_tier_range(name, lo, hi, sources)
    pts = tier_points(windows, key_cols=["source", "doc_id"])
    return pts.where(
        (F.col("ts_ms") >= start_ms) & (F.col("ts_ms") < end_ms)
    )
