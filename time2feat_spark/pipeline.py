"""The reference's top-level entry point, Spark-native.

Mirrors /root/reference/demo.py::pipeline — the single call a time2feat
user makes: read UCR `.ts` files -> extract intra + pair features ->
select (PFA unsupervised; NMI grid-search with partial labels) ->
cluster (KMeans | Hierarchical | Spectral; std | minmax | robust
transform) -> AMI. Extraction runs distributed (shuffle-free
mapInPandas + one case-grouped pass for pairs); the post-aggregation
feature matrix is one row per case, so selection/clustering stay
driver-side by design (SURVEY.md §4 O8).

API differences from the reference, by design: returns a result dict
instead of printing; the train split is seeded/stratified instead of
sklearn's global RNG; `full_grid=True` switches extraction to the
complete 787-feature parity kernel (the reference always pays that
cost — the curated default is ~20x cheaper at equal clustering quality
on the bundled fixture).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession

from .functions.parity import _KERNEL_RENAME
from .operators.clustering import ClusterWrapper, ami
from .operators.features import (
    extract_pair_features,
    extract_parity_features,
    extract_series_features,
)
from .operators.search import simple_grid_search
from .operators.selection import clean_features, pfa
from .sources.ts_reader import bm_series_rows


#: kernel-registry names that differ from the parity-registry name:
#: parity's _KERNEL_RENAME, inverted, plus the rollup-only fft aggregates
_KERNEL_TO_PARITY = {
    **{kern: par for par, kern in _KERNEL_RENAME.items()},
    "fft_centroid": "fft_agg_centroid", "fft_variance": "fft_agg_variance",
}


def reference_feature_name(feat_col: str) -> str:
    """The tsfresh-canonical inner name for an engine feature column
    (`feat_autocorr_lag1` -> `autocorrelation__lag_1`). Names outside
    the 787-cell grid pass through unchanged."""
    from .functions.tsfresh_grid import grid

    name = feat_col[5:] if feat_col.startswith("feat_") else feat_col
    name = _KERNEL_TO_PARITY.get(name, name)
    eng2ts = {e: t for t, e in grid()}
    return eng2ts.get(name, name)


def pipeline(
    spark: SparkSession,
    files: list[str],
    transform_type: str | None = "std",
    model_type: str = "KMeans",
    train_size: float = 0.0,
    seed: int = 42,
    full_grid: bool = False,
    max_driver_rows: int | None = None,
    reference_names: bool = False,
) -> dict:
    if train_size < 0 or train_size > 1:
        raise ValueError("train size must be between 0 and 1")
    if [x for x in files if not os.path.isfile(x)]:
        raise ValueError("at least one time-series path doesn't exist")

    rows = []
    for fi, path in enumerate(files):
        rows.extend(bm_series_rows(path, f"f{fi}"))
    sdf = spark.createDataFrame(pd.DataFrame(rows))

    # ---- distributed extraction: intra (per signal) + pair (per case)
    from .operators.selection import MAX_DRIVER_ROWS, ensure_driver_bound

    extract = extract_parity_features if full_grid else extract_series_features
    # the post-extraction matrix (one row per case x signal, same row
    # count as the input — extraction is row-preserving) is collected
    # driver-side below, the reference's O8 posture; bounded explicitly
    # on the cheap input count so extraction runs once
    ensure_driver_bound(
        sdf,
        MAX_DRIVER_ROWS if max_driver_rows is None else max_driver_rows,
        "pipeline",
    )
    feats = extract(sdf, value_col="values").toPandas()
    feats["case_id"] = [d.rsplit("_s", 1)[0] for d in feats.doc_id]
    feats["signal"] = [d.rsplit("_s", 1)[1] for d in feats.doc_id]
    feat_cols = [c for c in feats.columns if c.startswith("feat_")]
    wide = feats.pivot(index="case_id", columns="signal", values=feat_cols)
    if reference_names:
        # the reference's exact intra grammar: single__{signal}__{tsfresh}
        # (extractor.py:28,65 + tsfresh's own column convention)
        wide.columns = [
            f"single__{s}__{reference_feature_name(f)}"
            for f, s in wide.columns
        ]
    else:
        wide.columns = [f"{f}__{s}" for f, s in wide.columns]
    pairs = extract_pair_features(sdf).toPandas()
    pairs["col"] = (
        "pair__" + pairs.metric + "__" + pairs.sig_i + "__" + pairs.sig_j
    )
    wide = wide.join(pairs.pivot(index="case_id", columns="col", values="dist"))

    y_true = (
        feats.drop_duplicates("case_id").set_index("case_id").source
    ).loc[wide.index]
    n_clusters = int(y_true.nunique())

    # ---- selection: grid-search with partial labels, else PFA
    wide_clean = wide.dropna(axis=1)
    cols = list(wide_clean.columns)
    if train_size > 0:
        rng = np.random.default_rng(seed)
        labels: dict[str, str] = {}
        for cls in y_true.unique():
            ids = y_true.index[y_true == cls].to_numpy()
            take = max(1, int(round(train_size * len(ids))))
            for cid in rng.choice(ids, take, replace=False):
                labels[str(cid)] = str(cls)
        sel_df = spark.createDataFrame(
            wide_clean.reset_index().rename(columns={"case_id": "doc_id"})
        )
        _, selected, _ = simple_grid_search(
            sel_df, cols, labels, n_clusters=n_clusters, seed=seed
        )
    else:
        sel_sdf = spark.createDataFrame(wide_clean.reset_index(drop=True))
        keep = clean_features(sel_sdf, cols)
        selected = pfa(wide_clean[keep].to_numpy(), keep, seed=seed)

    # ---- cluster + score
    model = ClusterWrapper(
        n_clusters, model_type=model_type, transform_type=transform_type,
        seed=seed,
    )
    y_pred = model.fit_predict(wide_clean[selected].to_numpy())
    return {
        "y_pred": y_pred,
        "y_true": y_true.to_numpy(),
        "case_ids": list(wide.index),
        "selected": selected,
        "n_features_extracted": len(cols),
        "ami": float(ami(y_true.to_numpy(), y_pred)),
    }
