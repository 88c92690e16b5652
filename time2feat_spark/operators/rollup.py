"""Tier-ladder rollup operator (raw -> 1m -> 1h -> 1d).

The engine's workhorse (SURVEY.md §2.10, §7). One core, ``_roll_tiers``,
rolls every tier from flat arrays sorted by (group, ts): a tier's window
boundary falls wherever the group or ``ts_ms // tier_ms`` changes, so each
window is a contiguous slice that starts on a multiple of the tier width.
Per tier it runs ``stats_ragged``, encodes the Gorilla blocks and builds
the frame. The two input shapes only produce those arrays:

* ``rollup_sequences`` — the canonical token table
  (doc_id, tokens:array<int32>, n_tok, source); token k of a doc becomes
  the point ``(doc, t0 + k*tick, token)``, and the ``raw`` tier is one
  whole-doc window with NaN statistics. Because every row is a whole
  series, this path is **shuffle-free**: a single ``mapInPandas`` emits
  all tiers in one pass over the raw data.

* ``rollup_points`` — long/event shape (key, ts, value), e.g. the events
  table. Points of one series must be co-located per day-chunk, so this
  path shuffles once on ``(key, 1d-chunk)``, then sorts and optionally
  gap-fills each group before the core. Chunking by the coarsest tier
  bounds group size (skew relief) without splitting any window across
  groups.

Determinism (SURVEY.md §7.5): all statistics come from
``kernels.window_stats`` on matrices padded to *power-of-two width buckets*
— a window of n points is always computed in a matrix of width
next_pow2(n), regardless of which batch/partition it lands in, so float
reduction trees are fixed and results are bit-identical under any
parallelism. The single-threaded test oracle calls the same functions.

No per-row Python anywhere: batches are processed with vectorized numpy,
Gorilla blocks are bit-packed globally per batch (functions/gorilla.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.kernels import ROLLUP_FEATURES, window_stats
from ..functions.gorilla import (
    decode_ts_points,
    decode_val_points,
    encode_ts_blocks,
    encode_val_blocks,
)

DEFAULT_TIERS = [("1m", 60), ("1h", 3600), ("1d", 86400)]
T0_MS = 1704067200000  # 2024-01-01T00:00:00Z


@dataclass
class RollupConfig:
    tiers: list[tuple[str, int]] = field(default_factory=lambda: list(DEFAULT_TIERS))
    t0_ms: int = T0_MS
    tick_ms: int = 1000
    features: list[str] = field(default_factory=lambda: list(ROLLUP_FEATURES))
    compress: bool = True
    include_raw: bool = True  # emit a `raw` tier: per-series Gorilla blocks
    # points path only: ("linear"|"locf", grid step ms) resample before windowing
    gapfill: tuple[str, int] | None = None


def _next_pow2(x: np.ndarray) -> np.ndarray:
    return np.power(2, np.ceil(np.log2(np.maximum(x, 1))).astype(np.int64))


#: row-block budget for one padded matrix inside apply_ragged (bytes).
#: The multi-feature pass re-reads the matrix (and feature temporaries)
#: ~dozens of times; blocking windows so each matrix is ~2 MB keeps that
#: traffic cache-resident instead of streaming a 10-100 MB matrix from
#: DRAM per feature — measured on one core at 1.25 s blocked vs 1.47 s
#: unblocked.
#: Values are UNCHANGED by construction: every window's statistics
#: depend only on its own (pow2-padded) row, so splitting the rows of a
#: bucket into blocks leaves each per-window reduction tree identical
#: (asserted bit-for-bit in test_kernels.py::test_stats_ragged_blocking).
_STATS_BLOCK_BYTES = 2 << 20


def apply_ragged(
    flat: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    fn,
) -> dict[str, np.ndarray]:
    """``fn(mat, counts)`` over the ragged windows ``[starts, ends)`` of
    ``flat``, assembled back into window order. Each window is padded
    with NaN to the width of its pow2 bucket, so its matrix width
    depends only on its own length, and an ``fn`` whose rows do not
    depend on each other gives a window the same result in any batch.
    ``fn`` returns ``{name: (rows,) array}``."""
    counts = (ends - starts).astype(np.int64)
    k = len(counts)
    out: dict[str, np.ndarray] | None = None
    buckets = _next_pow2(counts)
    for b in np.unique(buckets):
        sel_all = np.nonzero(buckets == b)[0]
        w = int(b)
        col = np.arange(w)
        rows = max(256, _STATS_BLOCK_BYTES // (8 * w))
        for off in range(0, len(sel_all), rows):
            sel = sel_all[off:off + rows]
            idx = starts[sel][:, None] + col[None, :]
            mask = col[None, :] < counts[sel][:, None]
            mat = flat[np.where(mask, idx, 0)].astype(np.float64, copy=False)
            mat = np.where(mask, mat, np.nan)
            st = fn(mat, counts[sel])
            if out is None:
                out = {nm: np.empty(k, dtype=v.dtype) for nm, v in st.items()}
            for nm, v in st.items():
                out[nm][sel] = v
    assert out is not None
    return out


def stats_ragged(
    flat: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    features: list[str],
) -> dict[str, np.ndarray]:
    """window_stats over ragged windows, batch-invariant via pow2 buckets."""
    if len(starts) == 0:
        names = ["count", "sum", "min", "max", "mean"] + list(features)
        return {nm: np.empty(0) for nm in names}
    return apply_ragged(
        flat, starts, ends, lambda mat, counts: window_stats(mat, counts, features)
    )


# --------------------------------------------------------------------- core

_STAT_COLS = ["sum", "min", "max", "mean"]
_COL_TYPES = {
    "tier": StringType(),
    "window_start_ms": LongType(),
    "count": LongType(),
    "ts_gorilla": BinaryType(),
    "val_gorilla": BinaryType(),
    "fill_method": StringType(),
}  # every other tier column is a double


def _tier_cols(cfg: RollupConfig) -> list[str]:
    return (
        ["tier", "window_start_ms", "count"] + _STAT_COLS
        + [f"feat_{nm}" for nm in cfg.features]
        + ["ts_gorilla", "val_gorilla", "fill_method"]
    )


def flat_schema(
    cfg: RollupConfig, key_fields: list[StructField] | None = None
) -> StructType:
    """Schema of the flat tier frame: the key columns (by default the
    sequences table's ``source, doc_id``) followed by the tier columns."""
    if key_fields is None:
        key_fields = [StructField(c, StringType()) for c in ("source", "doc_id")]
    return StructType(
        list(key_fields)
        + [StructField(c, _COL_TYPES.get(c, DoubleType())) for c in _tier_cols(cfg)]
    )


def _empty_frame(cfg: RollupConfig, key_cols: list[str]) -> pd.DataFrame:
    return pd.DataFrame({c: [] for c in key_cols + _tier_cols(cfg)})


def _roll_tiers(
    pdf: pd.DataFrame,
    key_cols: list[str],
    grp: np.ndarray,
    ts_ms: np.ndarray,
    vals: np.ndarray,
    key_row: np.ndarray,
    tiers: list[tuple[str, int | None]],
    cfg: RollupConfig,
    fill_method: str = "none",
) -> pd.DataFrame:
    """Roll flat points, sorted by (group, ts), into every tier.

    A window boundary falls wherever the group id or ``ts_ms // tier_ms``
    changes, so every window is a contiguous slice of the flat arrays and
    starts at a multiple of the tier width. A tier width of ``None`` is the
    raw tier: one window per group with NaN statistics. Point i's key
    columns are read from row ``key_row[i]`` of ``pdf``."""
    n = len(vals)
    if n == 0:
        return _empty_frame(cfg, key_cols)
    keys = {c: pdf[c].to_numpy() for c in key_cols}
    new_group = np.diff(grp) != 0
    frames = []
    for tier_name, tier_sec in tiers:
        if tier_sec is None:
            change = new_group
        else:
            ms = tier_sec * 1000
            change = new_group | (np.diff(ts_ms // ms) != 0)
        starts = np.concatenate(([0], np.nonzero(change)[0] + 1))
        ends = np.append(starts[1:], n)
        k = len(starts)
        if tier_sec is None:
            st = {nm: np.full(k, np.nan) for nm in _STAT_COLS + cfg.features}
            st["count"] = ends - starts
            window_start = ts_ms[starts]
        else:
            st = stats_ragged(vals, starts, ends, cfg.features)
            window_start = ts_ms[starts] // ms * ms
        res = {c: v[key_row[starts]] for c, v in keys.items()}
        res["tier"] = np.full(k, tier_name, dtype=object)
        res["window_start_ms"] = window_start
        res["count"] = st["count"].astype(np.int64)
        for nm in _STAT_COLS:
            res[nm] = st[nm]
        for nm in cfg.features:
            res[f"feat_{nm}"] = st[nm]
        if cfg.compress:
            boffs = np.append(starts, n)
            res["ts_gorilla"] = encode_ts_blocks(ts_ms, boffs)
            res["val_gorilla"] = encode_val_blocks(vals, boffs)
        else:
            res["ts_gorilla"] = None
            res["val_gorilla"] = None
        res["fill_method"] = np.full(k, fill_method, dtype=object)
        frames.append(pd.DataFrame(res))
    return pd.concat(frames, ignore_index=True)


# ---------------------------------------------------------------- sequences

def rollup_sequences_pdf(pdf: pd.DataFrame, cfg: RollupConfig) -> pd.DataFrame:
    """Roll one pandas batch of sequence rows into all tiers (flat columns).

    Token k of a doc becomes the point ``(doc, t0 + k*tick, token)``; the
    ``raw`` tier is one whole-doc window. Shared verbatim by the Spark path
    (inside mapInPandas) and the single-threaded oracle — that sharing is
    what makes tier outputs exactly partition-invariant.
    """
    key_cols = ["source", "doc_id"]
    if len(pdf) == 0:
        return _empty_frame(cfg, key_cols)
    n_tok = pdf["n_tok"].to_numpy().astype(np.int64)
    doc = np.repeat(np.arange(len(pdf)), n_tok)
    vals = np.concatenate([np.asarray(t) for t in pdf["tokens"]]).astype(
        np.float64, copy=False
    )
    first = np.cumsum(n_tok) - n_tok  # flat index of each doc's token 0
    pos_in_doc = np.arange(len(vals), dtype=np.int64) - first[doc]
    ts_ms = cfg.t0_ms + pos_in_doc * cfg.tick_ms
    tiers = ([("raw", None)] if cfg.include_raw else []) + list(cfg.tiers)
    return _roll_tiers(pdf, key_cols, doc, ts_ms, vals, doc, tiers, cfg)


def rollup_sequences(df: DataFrame, cfg: RollupConfig | None = None) -> DataFrame:
    """Shuffle-free tier-ladder rollup of the sequences table.

    Returns the flat (un-nested) tier frame; use ``assemble`` to get the
    FIXTURES.md F4 schema with the `feat` struct and timestamp column.
    """
    cfg = cfg or RollupConfig()
    schema = flat_schema(cfg)

    def run(batches):
        for pdf in batches:
            if len(pdf):
                yield rollup_sequences_pdf(pdf, cfg)

    return df.mapInPandas(run, schema)


def _assembled_fields(cfg: RollupConfig) -> list[StructField]:
    """``assemble``'s columns, in order, with the types they are stored
    with: the one place the tier table's column layout is decided."""
    feat = StructType([StructField(nm, DoubleType()) for nm in cfg.features])
    return (
        [
            StructField("source", StringType()),
            StructField("doc_id", StringType()),
            StructField("tier", StringType()),
            StructField("window_start", TimestampType()),
            StructField("count", LongType()),
        ]
        + [StructField(c, DoubleType()) for c in _STAT_COLS]
        + [StructField("feat", feat)]
        + [
            StructField(c, _COL_TYPES[c])
            for c in ("ts_gorilla", "val_gorilla", "fill_method")
        ]
    )


#: partition columns of the stored ``source=*/tier=*/window_day=*`` layout
_PARTITION_FIELDS = [
    StructField("source", StringType()),
    StructField("tier", StringType()),
    StructField("window_day", IntegerType()),
]


def assemble(flat_df: DataFrame, cfg: RollupConfig | None = None) -> DataFrame:
    """Flat tier frame -> FIXTURES.md F4 schema (feat struct + timestamp)."""
    cfg = cfg or RollupConfig()
    derived = {
        "window_start": F.timestamp_millis(F.col("window_start_ms")),
        "feat": F.struct(*[F.col(f"feat_{nm}").alias(nm) for nm in cfg.features]),
    }
    return flat_df.select(
        *[
            derived[f.name].alias(f.name) if f.name in derived else f.name
            for f in _assembled_fields(cfg)
        ]
    )


def tier_table_schema(cfg: RollupConfig | None = None) -> StructType:
    """Read schema of a stored tier table: ``assemble``'s columns with
    ``source`` and ``tier`` moved to the partition columns
    ``source, tier, window_day`` (the ``source=*/tier=*/window_day=*``
    layout). Built from ``cfg`` alone, with no Spark call, so a reader
    that passes it plans without opening a footer; it equals what Spark
    infers for that layout, except that ``source`` stays a string when
    every source name is made of digits. The ``feat`` struct follows
    ``cfg.features``, so the table must be read with the config it was
    written with: a feature the files lack reads as null, and a stored
    one that ``cfg.features`` omits is not read."""
    cfg = cfg or RollupConfig()
    keys = {f.name for f in _PARTITION_FIELDS}
    return StructType(
        [f for f in _assembled_fields(cfg) if f.name not in keys]
        + _PARTITION_FIELDS
    )


def tier_points(
    tier_df: DataFrame,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Decode a (flat) tier frame's Gorilla blocks back into points —
    the read path of the compressed tier tables. The cross-block
    decoders (functions/gorilla.py) advance every block of the Arrow
    batch that still has a point with one vectorized step per point
    index and write the points flat, so decode cost and memory are
    O(points) for any mix of block lengths, not per-bit Python.
    Output: key cols + (ts_ms, value) per point, in row order."""
    key_cols = key_cols if key_cols is not None else ["doc_id"]
    sel = tier_df.where(
        F.col("ts_gorilla").isNotNull() & F.col("val_gorilla").isNotNull()
    ).select(*key_cols, "count", "ts_gorilla", "val_gorilla")
    schema = StructType(
        [tier_df.schema[c] for c in key_cols]
        + [StructField("ts_ms", LongType()), StructField("value", DoubleType())]
    )

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            counts = pdf["count"].to_numpy().astype(np.int64)
            res = {c: np.repeat(pdf[c].to_numpy(), counts) for c in key_cols}
            res["ts_ms"] = decode_ts_points(pdf["ts_gorilla"], counts)
            res["value"] = decode_val_points(pdf["val_gorilla"], counts)
            yield pd.DataFrame(res)

    return sel.mapInPandas(run, schema)


# ------------------------------------------------------------------- points

def rollup_points_pdf(
    pdf: pd.DataFrame,
    cfg: RollupConfig,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
) -> pd.DataFrame:
    """Roll MANY (key, chunk) groups at once — one vectorized pass over a
    whole partition (no per-group Python dispatch). Points are sorted by
    (group, ts, value), gap-filled if configured, and handed to the same
    tier core as the sequences path. ``cfg.include_raw`` does not apply:
    a (key, chunk) group is not a whole series.

    Requires a `_chunk` column (coarsest-tier id) so groups co-located by
    the repartition are whole; rows of one (key, _chunk) must all be
    present (guaranteed by rollup_points's repartition)."""
    if len(pdf) == 0:
        return _empty_frame(cfg, key_cols)

    ts_raw = pdf[ts_col].to_numpy()
    if np.issubdtype(ts_raw.dtype, np.datetime64):
        ts_ms = ts_raw.astype("datetime64[ms]").astype(np.int64)
    else:
        ts_ms = ts_raw.astype(np.int64)
    vals = pdf[val_col].to_numpy().astype(np.float64, copy=False)
    grp = pdf.groupby(key_cols, sort=False).ngroup().to_numpy()

    # deterministic order even under duplicate timestamps: (grp, ts, value)
    order = np.lexsort((vals, ts_ms, grp))
    grp, ts_ms, vals = grp[order], ts_ms[order], vals[order]
    key_row = order  # row index carrying the key columns of each point

    fill_method = "none"
    if cfg.gapfill is not None:
        from ..functions.gapfill import gapfill_grid

        fill_method, step_ms = cfg.gapfill
        gb = np.nonzero(np.diff(grp))[0] + 1
        g_starts = np.concatenate(([0], gb))
        g_ends = np.concatenate((gb, [len(grp)]))
        parts_t, parts_v, parts_g, parts_r = [], [], [], []
        for s, e in zip(g_starts, g_ends):
            gt, gv = gapfill_grid(ts_ms[s:e], vals[s:e], step_ms, fill_method)
            if len(gt):
                parts_t.append(gt)
                parts_v.append(gv)
                parts_g.append(np.full(len(gt), grp[s]))
                parts_r.append(np.full(len(gt), key_row[s]))
        if not parts_t:
            return _empty_frame(cfg, key_cols)
        ts_ms = np.concatenate(parts_t)
        vals = np.concatenate(parts_v)
        grp = np.concatenate(parts_g)
        key_row = np.concatenate(parts_r)

    return _roll_tiers(
        pdf, key_cols, grp, ts_ms, vals, key_row, cfg.tiers, cfg, fill_method
    )


#: rows rollup_points buffers before it looks for completed groups
_FLUSH_ROWS = 65_536


def rollup_points(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    val_col: str,
    cfg: RollupConfig | None = None,
) -> DataFrame:
    """Tier-ladder rollup over long-format points.

    One shuffle on (key, coarsest-tier chunk): chunking bounds the data
    any task must hold for a hot key (skew relief) while windows of every
    tier nest inside the chunk, so holistic stats stay exact.

    Scale posture (100 TB): the shuffle states only the hash key that
    keeps each (key, chunk) group whole and passes no partition count;
    AQE coalesces its partitions from the bytes they actually carry, up
    to `spark.sql.shuffle.partitions`, which a cluster run raises as for
    every other keyed shuffle. The kernel stage streams — rows are
    sorted within partitions by group key, so completed (key, chunk)
    groups flush as soon as a later group appears in the Arrow stream.
    Peak task memory is O(one chunk group + flush buffer), NOT O(whole
    partition). Tier values stay bit-identical regardless of which task
    or flush a group lands in (pow2-bucket kernels, SURVEY.md §7.5).
    """
    cfg = cfg or RollupConfig(include_raw=False)
    coarsest_ms = max(sec for _, sec in cfg.tiers) * 1000
    key_fields = [df.schema[c] for c in key_cols]
    schema = flat_schema(cfg, key_fields)

    # project FIRST: only the grouping keys, timestamp, and value reach
    # the scan/shuffle (without this the exchange would carry every
    # column of the source — e.g. events.props — through the shuffle)
    df = df.select(*key_cols, ts_col, val_col)
    # null/NaN points carry no information for any statistic — drop them
    # scan-side (predicate pushdown) so kernels see only real samples
    df = df.where(
        F.col(ts_col).isNotNull()
        & F.col(val_col).isNotNull()
        & ~F.isnan(F.col(val_col).cast("double"))
    )
    # cast handles TIMESTAMP_NTZ inputs; session TZ is UTC so the instant
    # is the naive wall time, matching DuckDB's naive timestamps.
    # F.floor (not a truncating cast): floors toward -inf like the
    # kernel-side `ts_ms // ms` window ids, so pre-1970 timestamps can't
    # straddle two chunk groups and split a window.
    chunked = df.withColumn(
        "_chunk",
        F.floor(
            F.unix_millis(F.col(ts_col).cast("timestamp")) / F.lit(coarsest_ms)
        ).cast("long"),
    )
    group_cols = key_cols + ["_chunk"]
    flush_rows = _FLUSH_ROWS  # read here, so the closure carries the value
    parted = chunked.repartition(*group_cols)
    parted = parted.sortWithinPartitions(*group_cols)

    def run(batches):
        # batches are buffered RAW and the group-boundary detection runs
        # ONCE per flush over the whole ~flush_rows buffer (one
        # vectorized pass), so a partition's work does not grow with the
        # number of Arrow batches it arrives in.
        buf: list[pd.DataFrame] = []
        buf_rows = 0
        # key tuple of the group known to fill the tail of the buffer.
        # While the newest batch still ends on this key, the sorted order
        # guarantees the WHOLE batch belongs to it, so a flush attempt
        # would find cut == 0 — skip the concat + key scan entirely.
        # Without this, one group of size G >> flush_rows costs
        # O(G^2 / batch) re-concatenation; with it, O(G).
        open_key = None

        def concat(frames):
            return frames[0] if len(frames) == 1 else pd.concat(
                frames, ignore_index=True
            )

        def roll(pdf):
            return rollup_points_pdf(
                pdf, cfg, group_cols, ts_col, val_col
            ).drop(columns=["_chunk"])

        for pdf in batches:
            if not len(pdf):
                continue
            last = tuple(pdf[c].iloc[-1] for c in group_cols)
            buf.append(pdf)
            buf_rows += len(pdf)
            if buf_rows >= flush_rows:
                if open_key is not None and last == open_key:
                    continue
                whole = concat(buf)
                # rows are sorted by group key, so the (possibly still
                # open) trailing group is the run equal to the last
                # row's key; everything before it is complete
                eq = np.ones(len(whole), dtype=bool)
                for c in group_cols:
                    v = whole[c].to_numpy()
                    eq &= v == v[-1]
                not_eq = np.nonzero(~eq)[0]
                cut = int(not_eq[-1]) + 1 if len(not_eq) else 0
                tail = whole.iloc[cut:]
                buf, buf_rows = [tail], len(tail)
                open_key = last
                if cut > 0:
                    yield roll(whole.iloc[:cut])
        if buf_rows:
            yield roll(concat(buf))

    return parted.mapInPandas(run, schema)
