"""Seeded input generators for the rollup-engine benchmark.

Every value is a pure function of (seed, row index, position), built on
splitmix64 like ``time2feat_spark.generator``, so a seed gives the same
bytes however the rows are split into batches or files. The engine only
ever sees the tables these functions write.

* ``long_series`` — the engine's ``sequences`` schema
  (doc_id, tokens, n_tok, source) with day-plus series at 1 Hz: a daily
  sine plus small integer noise, so Gorilla sees realistic repeats and
  the 1h and 1d windows are distinct point ranges.
* ``event_points`` — long-format (source, doc_id, ts, value) points with
  per-key cadence, jitter, minute-long gaps and a few hot keys. Each
  (key, day) chunk is generated on its own, so appending a later day is
  generating that day alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GOLDEN = np.uint64(0x9E3779B97F4A7C15)
MS_PER_DAY = 86_400_000
T0_MS = 1704067200000  # 2024-01-01T00:00:00Z, the engine's default series epoch


def splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (np.asarray(x, dtype=np.uint64) + GOLDEN).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _row_hash(seed: int, i: np.ndarray, salt: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        return splitmix64(
            np.uint64(seed) * GOLDEN + np.uint64(salt) * np.uint64(0x632BE59BD9B4E019)
            + i.astype(np.uint64)
        )


# ------------------------------------------------------------ long series

def long_series_values(seed: int, i: np.ndarray, n_tok: np.ndarray) -> np.ndarray:
    """Flat int32 values of docs `i` (lengths `n_tok`), concatenated."""
    h = _row_hash(seed, i, 2)
    base = 1000 + (h % np.uint64(9000)).astype(np.int64)
    amp = 50 + ((h >> np.uint64(20)) % np.uint64(450)).astype(np.int64)
    phase = ((h >> np.uint64(40)) % np.uint64(86400)).astype(np.int64)
    offs = np.zeros(len(i) + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs[1:])
    k = np.arange(offs[-1], dtype=np.int64) - np.repeat(offs[:-1], n_tok)
    h_flat = np.repeat(h, n_tok)
    with np.errstate(over="ignore"):
        noise = (
            splitmix64(h_flat ^ (k.astype(np.uint64) * GOLDEN)) % np.uint64(5)
        ).astype(np.int64) - 2
    wave = np.round(
        np.repeat(amp, n_tok)
        * np.sin(2 * np.pi * (k + np.repeat(phase, n_tok)) / 86400.0)
    ).astype(np.int64)
    return (np.repeat(base, n_tok) + wave + noise).astype(np.int32)


def long_series_lengths(seed: int, i: np.ndarray, min_ticks: int,
                        max_ticks: int) -> np.ndarray:
    h = _row_hash(seed, i, 1)
    span = np.uint64(max_ticks - min_ticks + 1)
    return (min_ticks + (h % span).astype(np.int64)).astype(np.int64)


def long_series(seed: int, i0: int, i1: int, n_sources: int,
                min_ticks: int, max_ticks: int) -> pa.Table:
    """Docs [i0, i1) as a ``sequences`` table; doc i belongs to source
    ``src_{i % n_sources}`` and doc ids grow with i, so a later range is
    an append past every source's watermark."""
    i = np.arange(i0, i1, dtype=np.int64)
    n_tok = long_series_lengths(seed, i, min_ticks, max_ticks)
    offs = np.zeros(len(i) + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs[1:])
    vals = long_series_values(seed, i, n_tok)
    return pa.table({
        "doc_id": pa.array([f"doc_{j:08d}" for j in i], type=pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offs.astype(np.int32), type=pa.int32()),
            pa.array(vals, type=pa.int32()),
        ),
        "n_tok": pa.array(n_tok.astype(np.int32), type=pa.int32()),
        "source": pa.array([f"src_{j % n_sources}" for j in i], type=pa.string()),
    })


# ----------------------------------------------------------- event points

def key_names(n_keys: int, n_sources: int) -> list[tuple[str, str]]:
    return [(f"src_{k % n_sources}", f"key_{k:05d}") for k in range(n_keys)]


def event_chunk(seed: int, key: int, day: int, hot: bool,
                gap_prob: float = 0.0005) -> tuple[np.ndarray, np.ndarray]:
    """Sorted (ts_ms, value) of one key on one day. Hot keys sample every
    1 s, the others every 4-16 s by key index, so the point count barely
    depends on the seed. Each step gets up to half a step of millisecond
    jitter and, with `gap_prob`, a 1-10 minute gap."""
    hk = int(_row_hash(seed, np.array([key]), 3)[0])
    step_ms = 1000 if hot else 4000 + (key % 13) * 1000
    n_max = MS_PER_DAY // step_ms
    idx = np.arange(n_max, dtype=np.int64) + (day * 4_000_000 + key) * 97_000_003
    h = _row_hash(seed, idx, 4)
    jitter = (h % np.uint64(step_ms // 2)).astype(np.int64)
    u = (h >> np.uint64(11)).astype(np.float64) / 2.0**53
    gap = np.where(
        u < gap_prob,
        60_000 + ((h >> np.uint64(32)) % np.uint64(9 * 60_000)).astype(np.int64),
        0,
    )
    t = np.cumsum(step_ms + gap) - step_ms + jitter
    t = t[t < MS_PER_DAY - step_ms]  # jitter keeps order: steps > jitter
    ts = T0_MS + day * MS_PER_DAY + t
    level = 100.0 + (hk % 900)
    amp = 5.0 + (hk >> 10) % 45
    hv = h[: len(t)]
    noise = ((hv >> np.uint64(24)) % np.uint64(1000)).astype(np.float64) / 100.0
    vals = level + amp * np.sin(2 * np.pi * ts / MS_PER_DAY) + noise
    return ts.astype(np.int64), vals


def event_points(seed: int, n_keys: int, n_sources: int, n_hot: int,
                 days: range) -> pa.Table:
    """All keys' points on `days` (relative to the series epoch)."""
    names = key_names(n_keys, n_sources)
    src, doc, ts_parts, val_parts = [], [], [], []
    for day in days:
        for k in range(n_keys):
            ts, v = event_chunk(seed, k, day, hot=k < n_hot)
            ts_parts.append(ts)
            val_parts.append(v)
            src.append(np.full(len(ts), names[k][0], dtype=object))
            doc.append(np.full(len(ts), names[k][1], dtype=object))
    return pa.table({
        "source": pa.array(np.concatenate(src), type=pa.string()),
        "doc_id": pa.array(np.concatenate(doc), type=pa.string()),
        "ts": pa.array(np.concatenate(ts_parts), type=pa.timestamp("ms", tz="UTC")),
        "value": pa.array(np.concatenate(val_parts), type=pa.float64()),
    })


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write `table` as `n_files` parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{f:05d}.parquet")
