"""Supervised grid-search selection (search.py / importance_old.py
parity): partial labels on BasicMotions drive top-k selection; the
selected features must cluster the full set well (reference's supervised
mode reports AMI ~1.0 on BM, report.pdf Table 2)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from time2feat_spark.operators.clustering import ClusterWrapper, ami
from time2feat_spark.operators.features import extract_series_features
from time2feat_spark.operators.search import rank_features, simple_grid_search
from time2feat_spark.sources.ts_reader import bm_series_rows

BM_TRAIN = "/root/reference/data/BasicMotions/BasicMotions_TRAIN.txt"
#: the reference checkout's fixture; the tests that read it skip without it
needs_bm = pytest.mark.skipif(
    not os.path.exists(BM_TRAIN), reason=f"missing {BM_TRAIN}"
)


@pytest.fixture(scope="module")
def bm_features(spark):
    rows = bm_series_rows(BM_TRAIN, "train")
    bm = spark.createDataFrame(pd.DataFrame(rows))
    feats = extract_series_features(bm, value_col="values").toPandas()
    feats["case_id"] = feats.doc_id.str.slice(0, 12)
    feats["signal"] = feats.doc_id.str.slice(13)
    fc = [c for c in feats.columns if c.startswith("feat_")]
    wide = feats.pivot(index="case_id", columns="signal", values=fc)
    wide.columns = [f"{f}__{s}" for f, s in wide.columns]
    wide = wide.dropna(axis=1)
    labels = (
        feats.drop_duplicates("case_id").set_index("case_id").source
    )
    return wide, labels


@needs_bm
def test_grid_search_selects_discriminative_features(spark, bm_features):
    wide, labels = bm_features
    sdf = spark.createDataFrame(wide.reset_index().rename(columns={"case_id": "doc_id"}))
    cols = [c for c in wide.columns if not wide[c].isna().any()][:200]
    # partial supervision: 4 labeled cases per class (demo.py:34-38 style)
    train_labels = {}
    for cls in labels.unique():
        for cid in labels[labels == cls].index[:4]:
            train_labels[cid] = cls
    k, selected, score = simple_grid_search(
        sdf, cols, train_labels, grid=[4, 16, 50]
    )
    assert k in (4, 16, 50) and len(selected) == k
    assert score > 0.5  # NMI on the labeled subset

    pred = ClusterWrapper(4).fit_predict(wide[selected].to_numpy())
    full_ami = ami(labels.to_numpy(), pred)
    assert full_ami >= 0.7, f"AMI {full_ami}"


@needs_bm
def test_domain_mode_spreads_families(spark, bm_features):
    wide, labels = bm_features
    sdf = spark.createDataFrame(
        wide.reset_index().rename(columns={"case_id": "doc_id"})
    )
    lab_df = sdf.join(
        spark.createDataFrame(
            [(i, l) for i, l in labels.items()], "doc_id string, _label string"
        ),
        "doc_id",
    )
    cols = [c for c in wide.columns if not wide[c].isna().any()][:120]
    top = rank_features(lab_df, cols, "_label", 12, mode="domain")
    fams = {c.split("_")[1] for c in top}
    assert len(top) == 12
    assert len(fams) >= 3  # spread across feature families


@needs_bm
def test_pvalue_mode_matches_f_ordering(spark, bm_features):
    """T2 sk_pvalue: p-asc ordering == F-desc ordering (monotone sf),
    and the p-values are genuine probabilities from the F distribution."""
    from time2feat_spark.operators.selection import anova_p_values

    wide, labels = bm_features
    sdf = spark.createDataFrame(
        wide.reset_index().rename(columns={"case_id": "doc_id"})
    )
    lab_df = sdf.join(
        spark.createDataFrame(
            [(i, l) for i, l in labels.items()], "doc_id string, _label string"
        ),
        "doc_id",
    )
    cols = [c for c in wide.columns if not wide[c].isna().any()][:60]
    by_p = rank_features(lab_df, cols, "_label", 10, mode="pvalue")
    by_f = rank_features(lab_df, cols, "_label", 10, mode="anova")
    fp = anova_p_values(lab_df, cols, "_label")
    ps = np.array([fp[c][1] for c in cols])
    assert ((ps >= 0) & (ps <= 1)).all()
    # where p has not saturated to 0, the two orders agree
    unsat = [c for c in by_p if fp[c][1] > 1e-300]
    assert [c for c in by_f if c in unsat] == unsat or by_p == by_f


def test_f_sf_golden_values():
    """Pin the F survival function against published critical values:
    P(F(3,36) > 2.8663) = 0.05, P(F(1,10) > 4.9646) = 0.05,
    P(F(2,20) > 5.8489) = 0.01 (standard F tables)."""
    from time2feat_spark.functions.special import f_sf

    assert f_sf(2.8663, 3, 36) == pytest.approx(0.05, abs=2e-4)
    assert f_sf(4.9646, 1, 10) == pytest.approx(0.05, abs=2e-4)
    assert f_sf(5.8489, 2, 20) == pytest.approx(0.01, abs=2e-4)


@needs_bm
def test_spectral_clustering_on_bm(bm_features):
    """ClusterWrapper 'Spectral' parity (t2f/model/clustering.py:62):
    comparable quality to KMeans on the same feature block."""
    wide, labels = bm_features
    cols = [c for c in wide.columns if not wide[c].isna().any()]
    X = wide[cols].to_numpy()
    pred_s = ClusterWrapper(4, model_type="Spectral").fit_predict(X)
    pred_k = ClusterWrapper(4, model_type="KMeans").fit_predict(X)
    ami_s = ami(labels.to_numpy(), pred_s)
    ami_k = ami(labels.to_numpy(), pred_k)
    assert ami_s >= min(0.7, ami_k - 0.1), f"spectral {ami_s} vs kmeans {ami_k}"


@needs_bm
def test_mwu_relevance_modes(spark, bm_features):
    """'tsfresh'/'multi' strategies (Mann-Whitney relevance p-values):
    deterministic, probability-valued, and discriminative on BM."""
    from time2feat_spark.operators.selection import mann_whitney_p

    # hand-computed MWU golden: x=[1..4] vs [5..8], U=0, sigma^2=12,
    # z=(8-0.5)/sqrt(12)=2.16506..., p=erfc(z/sqrt(2))=0.030383...
    x = np.array([1, 2, 3, 4, 5, 6, 7, 8], dtype=float)
    mask = np.array([1, 1, 1, 1, 0, 0, 0, 0], dtype=bool)
    assert mann_whitney_p(x, mask) == pytest.approx(0.0303831, abs=1e-6)

    wide, labels = bm_features
    sdf = spark.createDataFrame(
        wide.reset_index().rename(columns={"case_id": "doc_id"})
    )
    lab_df = sdf.join(
        spark.createDataFrame(
            [(i, l) for i, l in labels.items()], "doc_id string, _label string"
        ),
        "doc_id",
    )
    cols = [c for c in wide.columns if not wide[c].isna().any()][:80]
    top_multi = rank_features(lab_df, cols, "_label", 10, mode="multi")
    top_ts = rank_features(lab_df, cols, "_label", 10, mode="tsfresh")
    top_none = rank_features(lab_df, cols, "_label", 10, mode="none")
    assert len(top_multi) == 10 and len(top_ts) == 10
    assert len(top_none) == 10  # variance-threshold survivors
    # the multi-selected block must cluster the cases well
    pred = ClusterWrapper(4).fit_predict(wide[top_multi].to_numpy())
    assert ami(labels.to_numpy(), pred) >= 0.5
