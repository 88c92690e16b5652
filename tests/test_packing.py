"""Sequence packing (sample packing into fixed-length contexts):
best-fit-decreasing kernel invariants, the Spark operator's global bin
consistency, and fill-rate quality on the generator's natural length
distribution."""

from __future__ import annotations

import numpy as np
import pytest

from time2feat_spark.generator import gen_pandas
from time2feat_spark.operators.packing import pack_lengths, pack_sequences


def test_pack_lengths_invariants():
    rng = np.random.default_rng(0)
    lengths = rng.integers(50, 1500, 5000)
    bins = pack_lengths(lengths, 2048)
    # every bin under capacity
    fill = np.zeros(bins.max() + 1, dtype=np.int64)
    np.add.at(fill, bins, lengths)
    assert fill.max() <= 2048
    # fill quality: BFD on a rich distribution packs nearly perfectly
    n_bins = bins.max() + 1
    assert lengths.sum() / (n_bins * 2048) > 0.95
    # hand-checkable case: [1000, 900, 600, 500, 100] into 1600
    b = pack_lengths(np.array([1000, 900, 600, 500, 100]), 1600)
    f = {}
    for i, bi in enumerate(b):
        f.setdefault(bi, 0)
        f[bi] += [1000, 900, 600, 500, 100][i]
    assert all(v <= 1600 for v in f.values())
    assert len(f) == 2  # 1000+600, 900+500+100 - two perfect-fit bins
    assert sorted(f.values()) == [1500, 1600]


def test_pack_lengths_oversize_is_loud():
    with pytest.raises(ValueError, match="exceeds max_len"):
        pack_lengths(np.array([10, 5000]), 2048)
    assert len(pack_lengths(np.zeros(0, dtype=np.int64), 128)) == 0


def test_pack_sequences_spark(spark):
    pdf = gen_pandas(0, 400)[["doc_id", "n_tok"]]
    df = spark.createDataFrame(pdf)
    packed = pack_sequences(df, max_len=4096).toPandas()
    assert len(packed) == 400
    assert set(packed.doc_id) == set(pdf.doc_id)
    # per-bin totals equal the advertised bin_fill and respect max_len
    g = packed.groupby("bin_id").agg(
        total=("n_tok", "sum"), fill=("bin_fill", "first"),
        n=("doc_id", "count"), nd=("bin_n_docs", "first"),
    )
    assert (g.total == g.fill).all()
    assert (g.n == g.nd).all()
    assert g.fill.max() <= 4096
    assert g.n.sum() == 400
    assert g.fill.sum() == pdf.n_tok.sum()
    # natural ~1056-token docs into 4096: ~3-4 per bin, high fill
    assert g.fill.sum() / (len(g) * 4096) > 0.85


def test_pack_lengths_property():
    """Property: for arbitrary valid lengths, every bin respects
    capacity, assignment is deterministic, and the bin count is within
    the BFD guarantee envelope of the volume lower bound."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=500), max_size=400),
        st.integers(min_value=500, max_value=2000),
    )
    def check(lengths, max_len):
        arr = np.asarray(lengths, dtype=np.int64)
        bins = pack_lengths(arr, max_len)
        assert len(bins) == len(arr)
        if len(arr) == 0:
            return
        fill = np.zeros(bins.max() + 1, dtype=np.int64)
        np.add.at(fill, bins, arr)
        assert fill.max() <= max_len
        assert (fill > 0).all()  # no empty bins
        n_bins = int(bins.max()) + 1
        # sound any-fit bound: at most ONE bin is <= half full (a second
        # one's first item would have fit the earlier), so
        # n_bins <= 2 * ceil(sum / max_len) + 1. (The 11/9*OPT BFD bound
        # is relative to OPT, not the volume bound — e.g. [251]*7 at 500
        # needs 7 bins while the volume bound is 4.)
        lower = -(-int(arr.sum()) // max_len)
        assert n_bins <= 2 * lower + 1
        half_or_less = int((fill * 2 <= max_len).sum())
        assert half_or_less <= 1
        again = pack_lengths(arr, max_len)
        assert (bins == again).all()

    check()

