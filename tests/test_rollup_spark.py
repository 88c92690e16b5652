"""Tier-exactness and partition-invariance of the Spark rollup
(SURVEY.md §5 T-tier, T-invariant, T-e2e).

The single-threaded oracle is ``rollup_sequences_pdf`` run on the whole
table in one pandas call — the distributed result must match it exactly
(bitwise on doubles) under 1, 4, and 13 partitions, proving the output is
independent of partitioning/parallelism.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from time2feat_spark.generator import gen_pandas
from time2feat_spark.operators import rollup as R
from time2feat_spark.operators.rollup import (
    RollupConfig,
    assemble,
    rollup_points,
    rollup_sequences,
    rollup_sequences_pdf,
)
from time2feat_spark.functions.gorilla import decode_ts_block, decode_val_block

N_DOCS = 120


@pytest.fixture(scope="module")
def seq_pdf():
    return gen_pandas(0, N_DOCS)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values(["tier", "doc_id", "window_start_ms"]).reset_index(
        drop=True
    )
    return pdf


def _run_spark(spark, seq_pdf, cfg, parts):
    sdf = spark.createDataFrame(seq_pdf).repartition(parts)
    out = rollup_sequences(sdf, cfg).toPandas()
    return _normalize(out)


@pytest.mark.parametrize("parts", [1, 4, 13])
def test_partition_invariance_and_oracle_equality(spark, seq_pdf, parts):
    cfg = RollupConfig()
    got = _run_spark(spark, seq_pdf, cfg, parts)
    want = _normalize(rollup_sequences_pdf(seq_pdf, cfg))
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    for col in want.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if w.dtype == object:
            assert (g == w).all(), col
        else:
            g64 = g.astype(np.float64)
            w64 = w.astype(np.float64)
            both_nan = np.isnan(g64) & np.isnan(w64)
            assert np.all(both_nan | (g64 == w64)), (
                f"{col}: max diff {np.nanmax(np.abs(g64 - w64))}"
            )


def test_gorilla_blocks_roundtrip_through_spark(spark, seq_pdf):
    cfg = RollupConfig(tiers=[("1m", 60)])
    sdf = spark.createDataFrame(seq_pdf).repartition(3)
    out = rollup_sequences(sdf, cfg).where("tier = '1m'").toPandas()
    out = _normalize(out)
    # decode every block of one doc and compare against the raw tokens
    doc = seq_pdf.iloc[5]
    rows = out[out.doc_id == doc.doc_id]
    toks = np.asarray(doc.tokens, dtype=np.float64)
    got_vals = np.concatenate(
        [
            decode_val_block(bytes(b), int(c))
            for b, c in zip(rows.val_gorilla, rows["count"])
        ]
    )
    np.testing.assert_array_equal(got_vals, toks)
    got_ts = np.concatenate(
        [
            decode_ts_block(bytes(b), int(c))
            for b, c in zip(rows.ts_gorilla, rows["count"])
        ]
    )
    want_ts = cfg.t0_ms + np.arange(len(toks)) * cfg.tick_ms
    np.testing.assert_array_equal(got_ts, want_ts)


def test_token_immutability(spark, seq_pdf):
    """Engine never rewrites the input: re-read rows hash-equal (T-invariant)."""
    sdf = spark.createDataFrame(seq_pdf)
    _ = rollup_sequences(sdf, RollupConfig(tiers=[("1h", 3600)])).count()
    back = sdf.orderBy("doc_id").toPandas()
    src = seq_pdf.sort_values("doc_id").reset_index(drop=True)
    assert (back.doc_id == src.doc_id).all()
    for a, b in zip(back.tokens, src.tokens):
        np.testing.assert_array_equal(np.asarray(a), np.asarray(b))


def test_window_counts_sum_to_input(seq_pdf):
    cfg = RollupConfig(compress=False)
    out = rollup_sequences_pdf(seq_pdf, cfg)
    total = int(seq_pdf.n_tok.sum())
    for tier in ("raw", "1m", "1h", "1d"):
        assert int(out[out.tier == tier]["count"].sum()) == total, tier


def test_algebraic_cross_tier_consistency(seq_pdf):
    """count/sum/min/max must re-aggregate exactly across the ladder
    (SURVEY.md §7.4 algebraic cross-check)."""
    cfg = RollupConfig(compress=False)
    out = rollup_sequences_pdf(seq_pdf, cfg)
    m1 = out[out.tier == "1m"]
    h1 = out[out.tier == "1h"]
    agg = m1.groupby("doc_id").agg(
        count=("count", "sum"), mn=("min", "min"), mx=("max", "max")
    )
    hh = h1.groupby("doc_id").agg(
        count=("count", "sum"), mn=("min", "min"), mx=("max", "max")
    )
    pd.testing.assert_frame_equal(agg, hh)


def test_rollup_points_streaming_flush_invariance(spark, spark_conf,
                                                 monkeypatch):
    """The streaming group-flush kernel stage (scale path: bounded task
    memory) must be value-identical to any other partitioning/flush size,
    on a SKEWED key distribution (one hot key with ~80% of rows)."""
    rng = np.random.default_rng(7)
    n = 30_000
    keys = np.where(rng.uniform(size=n) < 0.8, "hot", "cold")
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 3 * 86_400_000, n)), unit="ms"
    )
    pdf = pd.DataFrame(
        {"key": keys, "ts": ts, "value": np.round(rng.uniform(0, 50, n), 2)}
    )
    cfg = RollupConfig(tiers=[("1h", 3600), ("1d", 86400)], include_raw=False,
                       compress=False, features=["variance", "median",
                                                 "autocorr_lag1", "skewness"])
    sdf = spark.createDataFrame(pdf)

    def run(num_partitions, flush_rows):
        # no AQE coalescing: the shuffle width is exactly
        # spark.sql.shuffle.partitions
        monkeypatch.setattr(R, "_FLUSH_ROWS", flush_rows)
        with spark_conf({
            "spark.sql.shuffle.partitions": str(num_partitions),
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }):
            out = rollup_points(sdf, ["key"], "ts", "value", cfg).toPandas()
        return out.sort_values(
            ["key", "tier", "window_start_ms"]
        ).reset_index(drop=True)

    # tiny flush (forces many incremental flushes + carries) vs one big
    # partition (single flush) vs many partitions
    a = run(2, 512)
    b = run(1, 10**9)
    c = run(13, 4096)
    for other in (b, c):
        assert len(a) == len(other)
        for col in a.columns:
            g, w = a[col].to_numpy(), other[col].to_numpy()
            if np.issubdtype(np.asarray(w).dtype, np.floating):
                ok = (np.isnan(g) & np.isnan(w)) | (g == w)
                assert ok.all(), col
            else:
                assert (g == w).all(), col


def test_rollup_points_matches_sequences_semantics(spark):
    """Events-shaped input through rollup_points == same data through the
    sequences path: one tier core, so every tier's windows, statistics
    and Gorilla bytes agree."""
    pdf = gen_pandas(0, 10)
    cfg = RollupConfig(include_raw=False)
    want = rollup_sequences_pdf(pdf, cfg).drop(columns=["source"])

    # explode to points
    rows = []
    for r in pdf.itertuples(index=False):
        toks = np.asarray(r.tokens)
        rows.append(
            pd.DataFrame(
                {
                    "doc_id": r.doc_id,
                    "ts": pd.to_datetime(
                        cfg.t0_ms + np.arange(len(toks)) * cfg.tick_ms,
                        unit="ms",
                    ),
                    "value": toks.astype(np.float64),
                }
            )
        )
    points = pd.concat(rows, ignore_index=True)
    sdf = spark.createDataFrame(points).repartition(7)
    got = rollup_points(sdf, ["doc_id"], "ts", "value", cfg).toPandas()
    order = ["tier", "doc_id", "window_start_ms"]
    got = got.sort_values(order).reset_index(drop=True)
    want = want.sort_values(order).reset_index(drop=True)
    assert sorted(set(got.tier)) == ["1d", "1h", "1m"]
    assert list(got.columns) == list(want.columns) and len(got) == len(want)
    for col in want.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if w.dtype == object:
            assert all(bytes(x) == bytes(y) if isinstance(y, bytes) else x == y
                       for x, y in zip(g, w)), col
        else:
            g64, w64 = g.astype(np.float64), w.astype(np.float64)
            assert np.all((np.isnan(g64) & np.isnan(w64)) | (g64 == w64)), col


@pytest.mark.parametrize("tick_ms", [600_000, 7000])
def test_sequences_windows_on_tier_grid(tick_ms):
    """Every tier holds every point once, in windows that start on a
    multiple of the tier width (as the router assumes) and contain only
    their own points — also for a tick wider than a tier (each point is
    its own 1m window) or one that does not divide the tier width."""
    pdf = gen_pandas(0, 3)
    cfg = RollupConfig(tick_ms=tick_ms)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = rollup_sequences_pdf(pdf, cfg)
    total = int(pdf.n_tok.sum())
    for name, sec in cfg.tiers:
        rows = out[out.tier == name]
        ms = sec * 1000
        assert int(rows["count"].sum()) == total, name
        assert (rows.window_start_ms % ms == 0).all(), name
        for ws, c, blk in zip(rows.window_start_ms, rows["count"], rows.ts_gorilla):
            ts = decode_ts_block(bytes(blk), int(c))
            assert ((ts >= ws) & (ts < ws + ms)).all(), (name, ws)


@pytest.mark.parametrize("compress", [True, False])
def test_sequences_zero_token_doc(compress):
    """A 0-token doc yields no rows in any tier; the other docs' rows are
    exactly those of a batch without it."""
    pdf = gen_pandas(0, 4)
    cfg = RollupConfig(compress=compress)
    empty = pdf.iloc[[1]].assign(
        doc_id="doc_empty", tokens=[np.array([], dtype=np.int32)], n_tok=0
    )
    mixed = pd.concat([pdf.iloc[:2], empty, pdf.iloc[2:]], ignore_index=True)
    got = rollup_sequences_pdf(mixed, cfg)
    assert not (got.doc_id == "doc_empty").any()
    pd.testing.assert_frame_equal(got, rollup_sequences_pdf(pdf, cfg))
    assert len(rollup_sequences_pdf(mixed.iloc[[2]], cfg)) == 0


def test_rollup_points_edge_inputs(spark):
    """Edge shapes through the streaming flush: empty input, all-null/
    NaN values (filtered scan-side), and a single surviving point."""
    from time2feat_spark.operators.rollup import RollupConfig, rollup_points

    cfg = RollupConfig(
        tiers=[("1h", 3600), ("1d", 86400)], include_raw=False,
        compress=False, features=["variance", "median"],
    )
    schema = "key string, ts timestamp, value double"
    empty = spark.createDataFrame([], schema)
    assert rollup_points(empty, ["key"], "ts", "value", cfg).count() == 0

    t0 = pd.Timestamp("2024-03-01 10:00:00")
    junk = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": ["a", "a", "b"],
                "ts": [t0, t0 + pd.Timedelta("1h"), t0],
                "value": [None, float("nan"), None],
            }
        ),
        schema,
    )
    assert rollup_points(junk, ["key"], "ts", "value", cfg).count() == 0

    one = spark.createDataFrame(
        pd.DataFrame({"key": ["a"], "ts": [t0], "value": [2.5]}), schema
    )
    out = rollup_points(one, ["key"], "ts", "value", cfg).toPandas()
    assert len(out) == 2  # one 1h window + one 1d window
    assert (out["count"] == 1).all() and (out["mean"] == 2.5).all()
    assert out.loc[out.tier == "1h", "window_start_ms"].iloc[0] == int(
        t0.value // 10**6
    )
