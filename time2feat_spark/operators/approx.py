"""Approximate distinct counting: a deterministic, mergeable
HyperLogLog built from cross-engine-replayable primitives.

Why in-repo instead of `F.approx_count_distinct`: Spark's builtin HLL++
state is opaque (no stable cross-engine definition, no partial you can
persist next to tier tables), while a training-data pipeline wants
distinct-user / distinct-token cardinalities alongside the rollup
ladder — i.e. a register table that merges with `max` per bucket, so
each coarser tier is built from the finer one (`hll_tier_rollup`,
SURVEY.md §2.4).

Construction (Flajolet et al., "HyperLogLog: the analysis of a
near-optimal cardinality estimation algorithm", AofA 2007):

- hash each value with the md5_64 family (`functions/hashing.py` — the
  only hash DuckDB replays bit-identically, CLAUDE.md invariant) into
  60 positive bits;
- bucket = low 6 bits (m = 64 registers), w = the remaining 54 bits;
- rho(w) = position of the highest set bit from the top of the 54-bit
  window = 55 - bitlength(w) (so rho in [1, 55], rho = 55 for w = 0) —
  bitlength is `length(bin(w))` in BOTH Spark and DuckDB, no
  float log2 (whose ulp errors would flip floor() across engines);
- register M_j = max rho over the bucket, estimate
  alpha_64 * m^2 / sum_j 2^(-M_j) with the standard small-range
  linear-counting correction E <= 2.5m -> m * ln(m / V).

Every step is integer/exact-dyadic arithmetic except the final ln/
divide, which gets the repo's round_bin double-rounding — so the DuckDB
oracle reproduces the ESTIMATE value-exactly, not just approximately.

Scale shape: one map-side-combinable groupBy to (keys, bucket) — 64
rows per key regardless of input size — then a 64-row-per-key final
agg. The partial (`hll_partial`) is the register table both
`hll_estimate` and `hll_tier_rollup` consume.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hashing import md5_64, sql_md5_64
from ..functions.rounding import round2

M = 64          # registers (b = 6 bucket bits)
ALPHA = 0.709   # alpha_m for m = 64 (HLL paper, Fig. 3)
RHO_MAX = 55    # 54 payload bits -> rho in [1, 55]


def _rho(w: Column) -> Column:
    """Leading-zero rank of the 54-bit payload via bitlength — exact
    integer arithmetic on both engines (F.bin / DuckDB bin)."""
    return F.when(w == 0, F.lit(RHO_MAX)).otherwise(
        F.lit(RHO_MAX) - F.length(F.bin(w))
    )


def hll_hash(value_col: str, seed: int = 0) -> Column:
    """The HLL value hash of `hll_partial`: md5_64 of the value salted
    with `seed`, the family `sql_hll_distinct` replays in DuckDB."""
    return md5_64(F.concat(F.col(value_col).cast("string"), F.lit(f"|{seed}")))


def hll_bucket(h: Column) -> Column:
    return h.bitwiseAND(F.lit(M - 1))


def hll_rho(h: Column) -> Column:
    return _rho(F.shiftright(h, 6))


def hll_partial(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    seed: int = 0,
) -> DataFrame:
    """Register table: (keys..., bucket, m) with m = max rho per bucket.
    <= 64 rows per key group."""
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*key_cols, hll_hash(value_col, seed).alias("_h"))
        .groupBy(*key_cols, hll_bucket(F.col("_h")).alias("bucket"))
        .agg(F.max(hll_rho(F.col("_h"))).alias("m"))
    )


def hll_estimate(registers: DataFrame, key_cols: list[str]) -> DataFrame:
    """Cardinality estimate per key group from a register table.

    sum_j 2^(-M_j) over ALL m=64 registers: absent buckets contribute
    2^0 = 1 each (V of them), which is also the linear-counting V.

    Exactness bound (r5 ADVICE): the float sum of 2^(-m) terms is
    rounding-free (hence order-independent across engines) only while
    max(m) - min(m) <= ~52 within a key group — a register pair like
    m=1 and m=55 would make the sum order-dependent. Reaching that
    spread needs ~2^49 values in one 64-register group, so it is a
    theoretical edge, not a live path; if such scales ever matter, sum
    registers as exact integers scaled by 2^RHO_MAX and divide once."""
    agg = registers.groupBy(*key_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("_s_used"),
        F.count(F.lit(1)).alias("_nb"),
    )
    v = F.lit(M) - F.col("_nb")                      # empty registers
    s = F.col("_s_used") + v.cast("double")          # exact dyadic sum
    raw = F.lit(ALPHA * M * M) / s
    est = F.when(
        (raw <= F.lit(2.5 * M)) & (v > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *key_cols, round2(est, 7, 4).alias("hll_estimate")
    )


def hll_distinct(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    seed: int = 0,
) -> DataFrame:
    """One-shot approx distinct per key group: partial -> estimate."""
    return hll_estimate(hll_partial(df, key_cols, value_col, seed), key_cols)


def sql_hll_distinct(
    table: str, key_cols: list[str], value_col: str, seed: int = 0
) -> str:
    """The DuckDB replay of `hll_distinct` — register-for-register."""
    keys = ", ".join(key_cols)
    h = sql_md5_64(f"CAST({value_col} AS VARCHAR) || '|{seed}'")
    return f"""
WITH hv AS (SELECT {keys}, {h} AS h FROM {table}
            WHERE {value_col} IS NOT NULL),
reg AS (SELECT {keys}, h & {M - 1} AS bucket,
               max(CASE WHEN (h >> 6) = 0 THEN {RHO_MAX}
                        ELSE {RHO_MAX} - length(bin(h >> 6)) END) AS m
        FROM hv GROUP BY ALL),
agg AS (SELECT {keys}, sum(power(2.0, -m)) AS s_used,
               count(*) AS nb FROM reg GROUP BY ALL)
SELECT {keys},
       round(round(CASE WHEN {ALPHA * M * M} / (s_used + ({M} - nb))
                             <= {2.5 * M} AND nb < {M}
                        THEN {float(M)} * ln({float(M)} / ({M} - nb))
                        ELSE {ALPHA * M * M} / (s_used + ({M} - nb))
                   END, 7), 4) AS hll_estimate
FROM agg
""".strip()


# --------------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
# stream summary: the count-min sketch and its applications")
# --------------------------------------------------------------------------


def _cms_col(c: Column, r: int, w: int, seed: int) -> Column:
    """Row-r column index: md5_64 of the value salted with the row id —
    the same cross-engine family as the HLL above, so DuckDB replays
    every cell index exactly."""
    return md5_64(
        F.concat(c.cast("string"), F.lit(f"|cms{seed}|{r}"))
    ) % w


def cms_cells_expr(value_col: str, d: int, w: int, seed: int) -> Column:
    """The single definition of a value's d (row, col) cells — build
    and lookup both use it, so every probe hits the cells its value
    was counted in."""
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                _cms_col(F.col(value_col), r, w, seed).alias("col"),
            )
            for r in range(d)
        ]
    )


def cms_build(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Count-Min sketch of a value column: a (row, col, cnt) table of
    d*w cells, built in ONE exchange (explode the d per-value cells
    scan-side, map-side-combined groupBy). Point estimates are
    min over rows of the probed cells — always >= the true count, and
    <= true + 2N/w with probability 1 - (1/2)^d (paper Thm 1).

    Distinct role vs `text.heavy_hitters`: Misra-Gries answers
    "which values are frequent" exactly; the CM sketch answers "how
    frequent is value X" for ANY later probe from O(d*w) state."""
    return (
        df.where(F.col(value_col).isNotNull())
        .select(F.explode(cms_cells_expr(value_col, d, w, seed)).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_lookup(
    sketch: DataFrame,
    probes: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    seed: int = 0,
) -> DataFrame:
    """Point-estimate each probe value against a built sketch: min over
    the d probed cells. The sketch is BROADCAST — its size is bounded at
    d*w cells by construction regardless of input size, so the probe
    side (which may itself be a large stream of lookups) never
    shuffles. Absent cells count 0 — a value never inserted estimates
    ~0 (exactly 0 unless all d cells collide)."""
    pc = probes.select(
        F.col(value_col),
        F.explode(cms_cells_expr(value_col, d, w, seed)).alias("c"),
    ).select(value_col, F.col("c.row").alias("row"), F.col("c.col").alias("col"))
    joined = pc.join(F.broadcast(sketch), ["row", "col"], "left")
    return joined.groupBy(value_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
    )


def hll_tier_rollup(
    df: DataFrame,
    key_cols: list[str],
    window_ms_col: str,
    tiers_sec: list[tuple[str, int]],
    bucket_col: str = "bucket",
) -> DataFrame:
    """Distinct-count continuous aggregate: per-window HLL registers at
    every tier, where each coarser tier is built by MERGING the
    registers of the tier before it (groupBy + max). Raw data is
    touched exactly once (the caller produces the finest-tier registers
    with `hll_partial` over `floor(ts / finest)` windows); every coarser
    tier costs O(finer windows x 64), never a raw rescan — the
    TimescaleDB "approximate count distinct continuous aggregate"
    feature, Spark-shaped.

    Contract: `tiers_sec` runs fine to coarse and each tier must be a
    whole multiple of the tier BEFORE it, not just of the finest
    (1m -> 2m -> 3m is rejected: 3m is not a multiple of 2m); otherwise
    the function raises `ValueError`.

    Correctness is EXACT, not approximate, at the register level:
    register max is associative and the tier grid is nested (each
    coarser window is a whole number of the previous tier's windows),
    so cascaded registers equal direct-from-raw registers bit-for-bit —
    pytest asserts it and the driver oracle replays the 1h estimates
    from raw.

    Input: a register table (key_cols..., window_ms_col, bucket, m)
    at tiers_sec[0] resolution. Output: (tier, keys..., window_start_ms,
    bucket, m) for ALL tiers. Feed slices to `hll_estimate`."""
    name0, sec0 = tiers_sec[0]
    out = df.select(
        F.lit(name0).alias("tier"),
        *key_cols,
        F.col(window_ms_col).alias("window_start_ms"),
        bucket_col,
        "m",
    )
    finest = out
    prev_name, prev_sec = name0, sec0
    for name, sec in tiers_sec[1:]:
        # each tier must nest in the PREVIOUS one (not just the finest):
        # the cascade below merges tier-to-tier, so [1m, 2m, 3m] (3m not
        # a multiple of 2m) must be rejected, not silently mis-merged
        if (sec * 1000) % (prev_sec * 1000):
            raise ValueError(f"tier {name} is not a multiple of {prev_name}")
        # F.floor, NOT cast('long'): the cast truncates toward zero, so
        # pre-1970 (negative) windows would merge into the wrong coarser
        # window — same floor-division rule as plans/router.aggregate_range
        w = (
            F.floor(F.col("window_start_ms") / (sec * 1000)).cast("long")
            * (sec * 1000)
        )
        coarser = (
            finest.groupBy(*key_cols, w.alias("window_start_ms"),
                           bucket_col)
            .agg(F.max("m").alias("m"))
            .select(F.lit(name).alias("tier"), *key_cols,
                    "window_start_ms", bucket_col, "m")
        )
        out = out.unionByName(coarser)
        # advance the cascade: the NEXT tier merges from THIS one, so a
        # 1m->1h->1d ladder aggregates 1h registers into 1d (60 rows per
        # output row) instead of re-aggregating all 1m rows (1440) —
        # register max over the nested grid is associative, so the
        # result is bit-identical (pytest asserts cascade == direct)
        finest = coarser
        prev_name, prev_sec = name, sec
    return out
