"""Per-layer measurements for the traced run.

Single-process numpy timings of the engine's kernels, Gorilla codec and
gap-fill on the workload's own windows, plus noop-sink timings of the
rollup operators, all called through their public functions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from .workloads import TIERS


def _median_time(fn, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def kernels_and_codec(store, docs: list[str], stored) -> dict:
    """{metric: (value, unit)} for the numpy layers on `docs`."""
    from time2feat_spark.functions.gapfill import gapfill_grid
    from time2feat_spark.functions.gorilla import (
        decode_ts_blocks, decode_val_blocks, encode_ts_blocks, encode_val_blocks)
    from time2feat_spark.operators.rollup import stats_ragged

    cfg = store.cfg()
    flat, wins = store.windows(docs)
    ts_flat = np.concatenate([store.truth_points(d)[0] for d in docs])
    out = {}
    for tier, _ in TIERS:
        s, e = wins[tier]
        t = _median_time(lambda: stats_ragged(flat, s, e, cfg.features))
        out[f"kernels.{tier}.ns_per_pt"] = (t * 1e9 / len(flat), "ns/pt")

    enc_s, n_pts, n_bytes = 0.0, 0, 0
    for tier, (s, e) in wins.items():
        boffs = np.append(s, e[-1])
        enc_s += _median_time(lambda: (encode_ts_blocks(ts_flat, boffs),
                                       encode_val_blocks(flat, boffs)))
        blocks = encode_ts_blocks(ts_flat, boffs) + encode_val_blocks(flat, boffs)
        n_bytes += sum(len(b) for b in blocks)
        n_pts += len(flat)
    out["gorilla.encode_ns_per_pt"] = (enc_s * 1e9 / n_pts, "ns/pt")
    out["gorilla.bytes_per_pt"] = (n_bytes / n_pts, "B/pt")

    dec, n_dec = 0.0, 0
    for tier in ("1m", "1h"):  # decoders step every block once per point
        rows = stored[stored["tier"] == tier]
        counts = rows["count"].to_numpy().astype(np.int64)
        tsb = [bytes(b) for b in rows["ts_gorilla"]]
        vb = [bytes(b) for b in rows["val_gorilla"]]
        dec += _median_time(lambda: (decode_ts_blocks(tsb, counts),
                                     decode_val_blocks(vb, counts)))
        n_dec += int(counts.sum())
    out["gorilla.decode_ns_per_pt"] = (dec * 1e9 / n_dec, "ns/pt")

    step, groups = store.fill_step_ms(), store.raw_groups(docs)
    t = _median_time(lambda: [gapfill_grid(g_ts, g_v, step, "linear")
                              for g_ts, g_v in groups])
    out["gapfill.ns_per_pt"] = (t * 1e9 / sum(len(g[0]) for g in groups),
                                "ns/pt")
    return out


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _identity(batches):
    yield from batches


def operator_sinks(store) -> dict:
    from pyspark.sql import functions as F
    from time2feat_spark.operators.rollup import (
        assemble, rollup_points, rollup_sequences, tier_points)

    spark, cfg = store.spark, store.cfg()
    src = spark.read.parquet(store.in_path)
    if store.has_raw:
        op = assemble(rollup_sequences(src, cfg), cfg)
    else:
        op = rollup_points(src, ["source", "doc_id"], "ts", "value", cfg)
    stored = store.ladder().read_output().where(F.col("tier") == "1m")
    return {
        "rollup.noop_s": (_noop(op), "s"),
        "rollup.transfer_floor_s": (
            _noop(src.mapInPandas(_identity, src.schema)), "s"),
        "rollup.tier_points_s": (
            _noop(tier_points(stored, key_cols=["source", "doc_id"])), "s"),
    }


def snapshot_id_s(store) -> float:
    from time2feat_spark.plans.checkpoint import snapshot_id

    return _median_time(lambda: snapshot_id(store.in_path), reps=5)
