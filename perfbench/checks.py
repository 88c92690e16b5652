"""Output checks on a store. Each returns None when the check passes,
else a one-line reason."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

KEY = ["doc_id", "tier", "window_start_ms"]


def check_tiers(store) -> str | None:
    """Rows and summed `count` per (tier, window_day) equal the values
    derived from the generated input."""
    got, want = store.stored_tiers(), store.expected_tiers()
    if got != want:
        return f"tier counts {_diff(got, want)}"
    return None


def check_retention(store) -> str | None:
    """After maintain(): exactly the expected partitions and rows remain,
    and compaction left one file per (source, tier, window_day) leaf."""
    got, want = store.stored_tiers(), store.expected_after_retention()
    if got != want:
        return f"after maintain {_diff(got, want)}"
    leaves: dict[str, int] = {}
    for f in store.parquet_files():
        d = f.rsplit("/", 1)[0]
        leaves[d] = leaves.get(d, 0) + 1
    many = [d for d, n in leaves.items() if n != 1]
    if many:
        return f"{len(many)} leaves hold more than one file after compaction"
    return None


def _diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    bad = [(k, got.get(k), want.get(k)) for k in keys if got.get(k) != want.get(k)]
    return f"differ at {len(bad)} (tier, day) keys, first {bad[:2]}"


def check_oracle(store, docs: list[str], stored: pd.DataFrame) -> str | None:
    """Stored rows of `docs` (statistics and Gorilla bytes) equal the
    engine's single-threaded path run in this process."""
    want = store.oracle_rows(docs).sort_values(KEY).reset_index(drop=True)
    got = stored.sort_values(KEY).reset_index(drop=True)
    if len(got) != len(want):
        return f"oracle: {len(got)} stored rows vs {len(want)}"
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if c in ("ts_gorilla", "val_gorilla"):
            same = all(bytes(x) == bytes(y) for x, y in zip(a, b))
        elif a.dtype.kind == "f" or b.dtype.kind == "f":
            same = np.array_equal(a.astype(np.float64), b.astype(np.float64),
                                  equal_nan=True)
        else:
            same = [str(x) for x in a] == [str(y) for y in b]
        if not same:
            return f"oracle: column {c} differs"
    return None


def check_roundtrip(store, stored: pd.DataFrame) -> str | None:
    """Decoded 1m and 1h blocks give back exactly the stored points."""
    from time2feat_spark.functions.gorilla import decode_ts_blocks, decode_val_blocks

    for tier, width in (("1m", 60_000), ("1h", 3_600_000)):
        rows = stored[stored["tier"] == tier].reset_index(drop=True)
        counts = rows["count"].to_numpy().astype(np.int64)
        mt = decode_ts_blocks([bytes(b) for b in rows["ts_gorilla"]], counts)
        mv = decode_val_blocks([bytes(b) for b in rows["val_gorilla"]], counts)
        for r in range(len(rows)):
            ts, v = store.truth_points(rows.at[r, "doc_id"])
            ws = int(rows.at[r, "window_start_ms"])
            m = (ts >= ws) & (ts < ws + width)
            n = counts[r]
            if (n != m.sum() or not np.array_equal(mt[r, :n], ts[m])
                    or not np.array_equal(mv[r, :n], v[m])):
                return (f"roundtrip: {rows.at[r, 'doc_id']} {tier} window "
                        f"{ws} does not decode to its points")
    return None


def corrupt_one_block(store, doc: str) -> str:
    """Flip one byte of a stored 1m `val_gorilla` block of `doc`, in
    place. Used by the benchmark's own tests."""
    for path in sorted(store.parquet_files()):
        if "/tier=1m/" not in path:
            continue
        t = pq.read_table(path)
        ids = t.column("doc_id").to_pylist()
        if doc not in ids:
            continue
        i = ids.index(doc)
        blocks = t.column("val_gorilla").to_pylist()
        b = bytearray(blocks[i])
        b[len(b) // 2] ^= 0x5A
        blocks[i] = bytes(b)
        col = t.schema.get_field_index("val_gorilla")
        t = t.set_column(col, t.schema.field(col), pa.array(blocks, pa.binary()))
        pq.write_table(t, path)
        return path
    raise ValueError(f"no stored 1m block for {doc}")
