"""End-to-end pipeline() parity with the reference's demo.py entry:
read .ts -> extract -> select -> cluster -> AMI, in all three
model_type modes and both supervision modes. The BasicMotions tests need
the reference's fixture; a synthetic class-separable `.ts` file keeps
`pipeline()` covered without it."""

from __future__ import annotations

import os

import numpy as np
import pytest

from time2feat_spark.generator import _splitmix64
from time2feat_spark.pipeline import pipeline

BM_TRAIN = "/root/reference/data/BasicMotions/BasicMotions_TRAIN.txt"
#: the reference checkout's fixture; the tests that read it skip without it
needs_bm = pytest.mark.skipif(
    not os.path.exists(BM_TRAIN), reason=f"missing {BM_TRAIN}"
)

CLASSES = ("slow", "mid", "fast")
N_PER_CLASS, N_SIGNALS, LENGTH = 8, 2, 64


@pytest.fixture
def synthetic_ts(tmp_path):
    """A multivariate `.ts` file whose classes are separable by design:
    class c's signals are sines at frequency (2c + 1)(s + 1), amplitude
    c + 1 and level 3c. Each case jitters its amplitude by up to 10% and
    its level by up to 0.2, drawn from the sequence generator's
    splitmix64 hash, so the file is the same on every machine."""
    n_cases = len(CLASSES) * N_PER_CLASS
    with np.errstate(over="ignore"):
        h = _splitmix64(np.arange(n_cases * N_SIGNALS * 2, dtype=np.uint64))
    u = (h >> np.uint64(11)).astype(np.float64) / 2.0**53 - 0.5
    u = u.reshape(n_cases, N_SIGNALS, 2)  # [-0.5, 0.5): scale, level
    t = np.arange(LENGTH) / LENGTH
    lines = [
        "@problemName synthetic",
        "@timeStamps false",
        "@univariate false",
        "@classLabel true " + " ".join(CLASSES),
        "@data",
    ]
    for i in range(n_cases):
        c = i % len(CLASSES)
        dims = [
            (1 + 0.2 * u[i, s, 0]) * (c + 1)
            * np.sin(2 * np.pi * (2 * c + 1) * (s + 1) * t)
            + 3 * c + 0.4 * u[i, s, 1]
            for s in range(N_SIGNALS)
        ]
        lines.append(
            ":".join(",".join(f"{v:.6f}" for v in d) for d in dims)
            + ":" + CLASSES[c]
        )
    path = tmp_path / "synthetic_TRAIN.ts"
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_pipeline_unsupervised_kmeans_synthetic(spark, synthetic_ts):
    res = pipeline(spark, [synthetic_ts], transform_type="std",
                   model_type="KMeans")
    assert len(res["y_pred"]) == len(CLASSES) * N_PER_CLASS
    assert res["n_features_extracted"] > 100
    assert 1 <= len(res["selected"]) <= res["n_features_extracted"]
    assert res["ami"] >= 0.9, res["ami"]


def test_pipeline_semi_supervised_spectral_synthetic(spark, synthetic_ts):
    res = pipeline(spark, [synthetic_ts], transform_type="minmax",
                   model_type="Spectral", train_size=0.3)
    assert len(res["y_pred"]) == len(CLASSES) * N_PER_CLASS
    assert 1 <= len(res["selected"]) <= res["n_features_extracted"]
    assert res["ami"] >= 0.9, res["ami"]


@needs_bm
def test_pipeline_unsupervised_kmeans(spark):
    res = pipeline(spark, [BM_TRAIN], transform_type="std",
                   model_type="KMeans")
    assert len(res["y_pred"]) == 40
    assert res["n_features_extracted"] > 400
    assert 1 <= len(res["selected"]) <= res["n_features_extracted"]
    assert res["ami"] >= 0.7, res["ami"]


@needs_bm
def test_pipeline_semi_supervised_spectral(spark):
    res = pipeline(spark, [BM_TRAIN], transform_type="minmax",
                   model_type="Spectral", train_size=0.3)
    assert res["ami"] >= 0.7, res["ami"]


def test_pipeline_validates_inputs(spark):
    with pytest.raises(ValueError, match="doesn't exist"):
        pipeline(spark, ["/nosuch.ts"])
    with pytest.raises(ValueError, match="between 0 and 1"):
        pipeline(spark, [BM_TRAIN], train_size=2.0)


def test_reference_feature_name_grammar():
    """reference_names=True emits the reference's exact intra grammar
    (extractor.py:28,65: single__{signal}__{tsfresh column}) with
    tsfresh-canonical inner names from the checked-in grid."""
    from time2feat_spark.pipeline import reference_feature_name as r

    assert r("feat_autocorr_lag1") == "autocorrelation__lag_1"
    assert r("feat_count") == "length"
    assert r("feat_sum") == "sum_values"
    assert r("feat_std") == "standard_deviation"
    assert r("feat_q10") == "quantile__q_0.1"
    assert (
        r("feat_change_q_0_2_1_mean")
        == 'change_quantiles__f_agg_"mean"__isabs_True__qh_0.2__ql_0.0'
    )
    assert r("feat_cid_ce_norm") == "cid_ce__normalize_True"
    assert r("feat_fft_centroid") == 'fft_aggregated__aggtype_"centroid"'
    assert r("feat_binned_entropy_10") == "binned_entropy__max_bins_10"
    assert r("feat_fourier_entropy_10") == "fourier_entropy__bins_10"


@needs_bm
def test_pipeline_reference_names(spark):
    res = pipeline(
        spark, [BM_TRAIN], transform_type="std", model_type="KMeans",
        reference_names=True,
    )
    sel = res["selected"]
    assert sel and all(
        c.startswith("single__") or c.startswith("pair__") for c in sel
    )
    singles = [c for c in sel if c.startswith("single__")]
    if singles:
        # single__{signal}__{calculator...}
        assert all(len(c.split("__", 2)) == 3 for c in singles)
    assert res["ami"] >= 0.7
