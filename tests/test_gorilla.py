"""Gorilla codec roundtrip properties (SURVEY.md §5 T-roundtrip).

Edge cases: constant series, NaN, ±0, denormals, monotone and irregular
timestamps, single-point blocks, extreme dod values beyond 32 bits.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from time2feat_spark.functions.gorilla import (
    decode_ts_block,
    decode_val_block,
    encode_ts_blocks,
    encode_val_blocks,
)


def _roundtrip_ts(ts: np.ndarray):
    blocks = encode_ts_blocks(ts, np.array([0, len(ts)]))
    out = decode_ts_block(blocks[0], len(ts))
    np.testing.assert_array_equal(out, ts)


def _roundtrip_vals(vals: np.ndarray):
    blocks = encode_val_blocks(vals, np.array([0, len(vals)]))
    out = decode_val_block(blocks[0], len(vals))
    # bit-exact comparison (NaN-safe, -0.0 vs 0.0 distinguished)
    np.testing.assert_array_equal(
        out.view(np.uint64), vals.astype(np.float64).view(np.uint64)
    )


CASES_TS = [
    np.array([0], dtype=np.int64),
    np.array([1704067200000], dtype=np.int64),
    np.arange(0, 60_000, 1000, dtype=np.int64),  # regular ticks, dod=0
    np.array([0, 1, 3, 6, 10, 15], dtype=np.int64),  # growing deltas
    np.array([-(2**62), 0, 2**62], dtype=np.int64),  # giant dod (64-bit path)
    np.cumsum(np.random.default_rng(1).integers(1, 10**9, 200)).astype(np.int64),
]

CASES_VALS = [
    np.array([0.0]),
    np.array([1.5, 1.5, 1.5, 1.5]),  # constant -> xor 0
    np.array([0.0, -0.0, 0.0]),  # signed zeros differ in bits
    np.array([np.nan, 1.0, np.nan, np.inf, -np.inf]),
    np.array([5e-324, 1e-308, 2.2250738585072014e-308]),  # denormals
    np.random.default_rng(2).standard_normal(500),
    np.floor(np.random.default_rng(3).uniform(0, 50257, 300)),  # token-like
]


@pytest.mark.parametrize("i", range(len(CASES_TS)))
def test_ts_roundtrip(i):
    _roundtrip_ts(CASES_TS[i])


@pytest.mark.parametrize("i", range(len(CASES_VALS)))
def test_val_roundtrip(i):
    _roundtrip_vals(CASES_VALS[i])


def test_multi_block_roundtrip():
    rng = np.random.default_rng(7)
    n = 1000
    ts = np.cumsum(rng.integers(0, 5000, n)).astype(np.int64)
    vals = np.where(rng.random(n) < 0.4, 7.0, rng.standard_normal(n))
    offs = np.array([0, 1, 2, 500, 999, 1000])
    tb = encode_ts_blocks(ts, offs)
    vb = encode_val_blocks(vals, offs)
    for i in range(len(offs) - 1):
        c = offs[i + 1] - offs[i]
        np.testing.assert_array_equal(decode_ts_block(tb[i], c), ts[offs[i]: offs[i + 1]])
        np.testing.assert_array_equal(
            decode_val_block(vb[i], c).view(np.uint64),
            vals[offs[i]: offs[i + 1]].view(np.uint64),
        )


def test_compression_wins_on_regular_data():
    """Regular ticks + repeating values must compress far below raw size."""
    n = 10_000
    ts = np.arange(0, n * 1000, 1000, dtype=np.int64)
    vals = np.full(n, 42.5)
    tb = encode_ts_blocks(ts, np.array([0, n]))[0]
    vb = encode_val_blocks(vals, np.array([0, n]))[0]
    assert len(tb) < n // 4  # ~1 bit/point + header
    assert len(vb) < n // 4
    raw = n * 16
    assert len(tb) + len(vb) < raw / 50


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=100)
)
def test_ts_roundtrip_property(deltas):
    ts = np.cumsum(np.array(deltas, dtype=np.int64))
    _roundtrip_ts(ts)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=1,
        max_size=100,
    )
)
def test_val_roundtrip_property(vals):
    _roundtrip_vals(np.array(vals, dtype=np.float64))


def test_batched_decoders_match_sequential_and_truth():
    """decode_{ts,val}_blocks and decode_{ts,val}_points (cross-block)
    == the per-bit reference decoders == the original data, over ragged
    blocks with constants, NaNs, and every dod bucket incl. the 64-bit
    escape; once as generated and once with zero-count blocks
    interleaved."""
    from time2feat_spark.functions.gorilla import (
        decode_ts_block,
        decode_ts_blocks,
        decode_ts_points,
        decode_val_block,
        decode_val_blocks,
        decode_val_points,
        encode_ts_blocks,
        encode_val_blocks,
    )

    rng = np.random.default_rng(11)
    blocks_v, blocks_t, counts, truth_v, truth_t = [], [], [], [], []
    for i in range(120):
        n = int(rng.integers(1, 300))
        if i % 6 == 0:
            v = np.full(n, -7.5)
        elif i % 6 == 1:
            v = rng.standard_normal(n)
            v[::4] = np.nan
        else:
            v = np.cumsum(rng.standard_normal(n)) * 100
        t0 = int(rng.integers(-(10**12), 10**12))
        steps = rng.choice(
            [0, 1, 64, 65, -63, -64, 256, 257, 2048, 2049, 10**7, -(10**10)],
            size=max(n - 1, 0),
        )
        t = np.concatenate(([t0], t0 + np.cumsum(steps))).astype(np.int64)[:n]
        offs = np.array([0, n])
        blocks_v.append(encode_val_blocks(v, offs)[0])
        blocks_t.append(encode_ts_blocks(t, offs)[0])
        counts.append(n)
        truth_v.append(v)
        truth_t.append(t)
    rows = list(zip(blocks_v, blocks_t, counts, truth_v, truth_t))
    # the same blocks with a zero-count block (of any bytes) after every 7th
    empty = (blocks_v[0], b"", 0, truth_v[0][:0], truth_t[0][:0])
    with_empty = [r for i, row in enumerate(rows)
                  for r in ([row, empty] if i % 7 == 0 else [row])]
    for batch in (rows, with_empty):
        blocks_v, blocks_t, counts, truth_v, truth_t = zip(*batch)
        counts = np.array(counts)
        mv = decode_val_blocks(blocks_v, counts)
        mt = decode_ts_blocks(blocks_t, counts)
        for i, n in enumerate(counts):
            g, w = mv[i, :n], truth_v[i]
            assert ((np.isnan(g) & np.isnan(w)) | (g == w)).all(), f"val {i}"
            assert (mt[i, :n] == truth_t[i]).all(), f"ts {i}"
            if i % 17 == 0 and n:
                sv = decode_val_block(blocks_v[i], int(n))
                assert ((np.isnan(sv) & np.isnan(w)) | (sv == w)).all()
                assert (decode_ts_block(blocks_t[i], int(n)) == truth_t[i]).all()
        fv = decode_val_points(blocks_v, counts)
        assert fv.view(np.uint64).tolist() == (
            np.concatenate(truth_v).view(np.uint64).tolist())
        assert (decode_ts_points(blocks_t, counts) == np.concatenate(truth_t)).all()


def test_batched_decoders_honor_zero_count_padding():
    """A row with counts[i]==0 must surface the documented padding
    (NaN for values, 0 for timestamps) in EVERY column — including
    column 0, which the batched decoders fill from the header word for
    non-empty rows (ADVICE r2: previously leaked header bytes)."""
    from time2feat_spark.functions.gorilla import (
        decode_ts_blocks,
        decode_val_blocks,
        encode_ts_blocks,
        encode_val_blocks,
    )

    v = np.array([1.5, 2.5, 3.5])
    t = np.array([1000, 2000, 3000], dtype=np.int64)
    offs = np.array([0, 3])
    bv = encode_val_blocks(v, offs)[0]
    bt = encode_ts_blocks(t, offs)[0]
    counts = np.array([3, 0, 3])
    mv = decode_val_blocks([bv, bv, bv], counts)
    mt = decode_ts_blocks([bt, bt, bt], counts)
    assert np.isnan(mv[1]).all()
    assert (mt[1] == 0).all()
    assert (mv[0] == v).all() and (mv[2] == v).all()
    assert (mt[0] == t).all() and (mt[2] == t).all()


@pytest.mark.parametrize("stream", ["ts", "val"])
@pytest.mark.parametrize("short", [0, 2, 5])
def test_truncated_block_raises(stream, short):
    """A block whose codes need more bits than it holds is named in a
    ValueError, whether it is first, in the middle, or last in the
    joined buffer (where its cursor would read the next block's bits or
    run past the end)."""
    from time2feat_spark.functions.gorilla import decode_ts_points, decode_val_points

    rng = np.random.default_rng(4)
    offs = np.array([0, 50, 100, 300, 400, 500])
    if stream == "ts":
        data = np.cumsum(rng.integers(1, 10**6, 500)).astype(np.int64)
        blocks, decode = encode_ts_blocks(data, offs), decode_ts_points
    else:
        data = rng.standard_normal(500)
        blocks, decode = encode_val_blocks(data, offs), decode_val_points
    counts = np.diff(offs)
    assert (decode(blocks, counts) == data).all()
    for b in (0, 2, 4):
        cut = list(blocks)
        cut[b] = cut[b][: len(cut[b]) // 2 if short == 0 else -short]
        with pytest.raises(ValueError, match=f"Gorilla block {b} "):
            decode(cut, counts)


def test_flat_decode_of_mixed_lengths_is_bounded():
    """One 5,000-point block among 10^4 blocks of 60 points: the flat
    decoders equal the per-block reference decoders, and their traced
    peak memory stays linear in points + bytes. A (blocks x longest
    block) layout needs a 400 MB matrix per stream here."""
    import tracemalloc

    from time2feat_spark.functions.gorilla import decode_ts_points, decode_val_points

    rng = np.random.default_rng(9)
    counts = np.full(10_001, 60)
    counts[4_321] = 5_000
    offs = np.concatenate(([0], np.cumsum(counts)))
    n = int(offs[-1])
    ts = np.cumsum(rng.choice([1000, 1000, 1000, 999, 1003, 70_000], n))
    vals = np.round(np.cumsum(rng.standard_normal(n)), 2)
    tb, vb = encode_ts_blocks(ts, offs), encode_val_blocks(vals, offs)
    nbytes = sum(map(len, tb)) + sum(map(len, vb))

    tracemalloc.start()
    try:
        got_t = decode_ts_points(tb, counts)
        got_v = decode_val_points(vb, counts)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 64 * n + 4 * nbytes, (peak, n, nbytes)

    assert (got_t == ts).all()
    assert (got_v.view(np.uint64) == vals.view(np.uint64)).all()
    for b in [4_321, *range(0, 10_001, 997)]:
        lo, hi = offs[b], offs[b + 1]
        assert (got_t[lo:hi] == decode_ts_block(tb[b], int(counts[b]))).all()
        assert (got_v[lo:hi].view(np.uint64)
                == decode_val_block(vb[b], int(counts[b])).view(np.uint64)).all()
