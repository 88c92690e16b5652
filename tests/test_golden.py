"""T-parity golden fixtures (SURVEY.md §5, FIXTURES.md F3): the seeded
quickstart tensor (the reference's main.py:8 shape, pinned to rng(42))
through the whole-series feature kernels, frozen to a JSON golden file.
Any future kernel change that alters a value fails here — exact equality,
no tolerance (golden values were produced by these same deterministic
kernels; regenerate deliberately with REGEN_GOLDEN=1 when semantics
change on purpose)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from time2feat_spark.functions.kernels import ROLLUP_FEATURES
from time2feat_spark.operators.rollup import stats_ragged

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "quickstart_features.json")


def _quickstart_rows() -> dict[str, np.ndarray]:
    """FIXTURES.md F3: rng(42) (10,100,3) tensor, cases 5-9 scaled x100,
    flattened to one series per (case, signal)."""
    rng = np.random.default_rng(42)
    arr = rng.standard_normal((10, 100, 3))
    arr[5:] *= 100
    out = {}
    for case in range(10):
        for sig in range(3):
            out[f"qs_{case}_s{sig}"] = arr[case, :, sig]
    return out


def _compute() -> dict[str, dict[str, float]]:
    rows = _quickstart_rows()
    res = {}
    for doc_id, vals in rows.items():
        st = stats_ragged(
            vals.astype(np.float64), np.array([0]), np.array([len(vals)]),
            ROLLUP_FEATURES,
        )
        res[doc_id] = {k: float(v[0]) for k, v in sorted(st.items())}
    return res


def test_quickstart_golden():
    got = _compute()
    if os.environ.get("REGEN_GOLDEN") or not os.path.exists(GOLDEN):
        os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
        with open(GOLDEN, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
        pytest.skip("golden file (re)generated")
    with open(GOLDEN) as f:
        want = json.load(f)
    assert set(got) == set(want)
    for doc_id in want:
        for feat, wv in want[doc_id].items():
            gv = got[doc_id].get(feat)
            assert gv is not None, f"{doc_id}.{feat} missing"
            if wv is None or (isinstance(wv, float) and np.isnan(wv)):
                assert gv is None or np.isnan(gv), f"{doc_id}.{feat}"
            else:
                assert gv == wv, f"{doc_id}.{feat}: {gv} != {wv}"


MP_GOLDEN = os.path.join(
    os.path.dirname(__file__), "golden", "quickstart_matrix_profile.json"
)
_MP_COLS = [
    "matrix_profile_min", "matrix_profile_max", "matrix_profile_mean",
    "matrix_profile_median", "matrix_profile_p25", "matrix_profile_p75",
    "change_q_0_10_0_std", "change_q_0_10_1_std",
    "change_q_0_10_0_median", "change_q_0_10_1_median",
]


def test_quickstart_matrix_profile_golden():
    """Pins the STOMP matrix-profile stats (round-3: real values replace
    the documented-NaN columns) and the change_quantiles bridge cells on
    the quickstart tensor."""
    from time2feat_spark.functions.parity import parity_stats

    rows = _quickstart_rows()
    keys = sorted(rows)
    mat = np.vstack([rows[k] for k in keys])
    counts = np.full(len(keys), mat.shape[1])
    st = parity_stats(mat.astype(np.float64), counts)
    got = {
        k: {c: float(st[c][i]) for c in _MP_COLS}
        for i, k in enumerate(keys)
    }
    if os.environ.get("REGEN_GOLDEN") or not os.path.exists(MP_GOLDEN):
        with open(MP_GOLDEN, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
        pytest.skip("matrix-profile golden (re)generated")
    with open(MP_GOLDEN) as f:
        want = json.load(f)
    assert got == want


def test_batched_permutation_entropy_matches_per_row_reference():
    """The r3 batched permutation-entropy block must be bit-identical to
    the retained per-row reference implementation (same argsort, same
    code arithmetic, same -(p log p).sum() order)."""
    from time2feat_spark.functions.parity import (
        _permutation_entropy,
        parity_stats,
    )

    rng = np.random.default_rng(77)
    counts = np.array([100, 100, 64, 64, 30, 7, 3])
    mat = np.full((len(counts), 128), np.nan)
    for i, c in enumerate(counts):
        mat[i, :c] = rng.standard_normal(c)
    out = parity_stats(mat, counts)
    for d in (3, 4, 5, 6, 7):
        for i, c in enumerate(counts):
            ref = _permutation_entropy(mat[i, :c], d)
            got = out[f"permutation_entropy_d{d}"][i]
            if np.isnan(ref):
                assert np.isnan(got), (d, i)
            else:
                assert got == ref, (d, i, got, ref)
