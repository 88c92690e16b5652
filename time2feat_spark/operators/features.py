"""Whole-series feature extraction — the reference's pipeline surface.

Intra-signal features are a degenerate rollup: one tumbling window
spanning the whole series, so the extraction reuses the exact same
kernels/operator as the tier ladder (reference: one full-series pass
produces all statistics, /root/reference/t2f/extraction/extractor.py:
108-126; tsfresh call at t2f/extraction/extractor_single.py:26-32).

Inter-signal (pair) features are the 8 scipy distances the reference
computes per unordered signal pair of one case
(t2f/extraction/extractor_pair.py:6-18, pairing loop extractor.py:95-104):
braycurtis, canberra, chebyshev, cityblock, correlation, cosine,
euclidean, minkowski(p=2). Each case's signals form one applyInPandas
group (signals of a case are few; the shuffle key is case_id).
"""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..functions.kernels import ROLLUP_FEATURES
from ..operators.rollup import RollupConfig, apply_ragged, rollup_sequences

# one window wide enough to cover any series => whole-series aggregation
_WHOLE = [("all", 1 << 40)]

PAIR_METRICS = [
    "braycurtis", "canberra", "chebyshev", "cityblock",
    "correlation", "cosine", "euclidean", "minkowski",
]


def extract_series_features(
    df: DataFrame,
    features: list[str] | None = None,
    value_col: str = "tokens",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """One row per series with `feat_<name>` columns (single__ features of
    the reference, SURVEY.md §2.4b). Shuffle-free mapInPandas."""
    features = features if features is not None else list(ROLLUP_FEATURES)
    cfg = RollupConfig(
        tiers=list(_WHOLE), include_raw=False, compress=False, features=features
    )
    sel = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(value_col).cast("array<double>").alias("_vals"),
        F.size(value_col).alias("n_tok"),
        F.col(source_col).alias("source"),
    ).withColumnRenamed("_vals", "tokens")
    out = rollup_sequences(sel, cfg)
    keep = ["doc_id", "source", "count", "sum", "min", "max", "mean"] + [
        f"feat_{nm}" for nm in features
    ]
    return out.select(*keep)


def extract_parity_features(
    df: DataFrame,
    value_col: str = "tokens",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """The FULL reference grid: 787 tsfresh-parity features per series
    (report Table 3 width oracle; tsfresh call at
    /root/reference/t2f/extraction/extractor_single.py:26-32). Fixture-
    parity path — the production ladder uses the curated subset
    (SURVEY.md §7.3). Shuffle-free mapInPandas; each series is padded to
    its pow2 bucket, as the ladder's windows are, so its row does not
    depend on which series share its batch."""
    from pyspark.sql.types import DoubleType, LongType

    from ..functions.parity import PARITY_FEATURES, parity_stats

    sel = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.col(value_col).cast("array<double>").alias("_vals"),
    )
    fields = [
        StructField("doc_id", StringType()),
        StructField("source", StringType()),
        StructField("n", LongType()),
    ] + [StructField(f"feat_{nm}", DoubleType()) for nm in PARITY_FEATURES]
    schema = StructType(fields)

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arrs = [np.asarray(a, dtype=np.float64) for a in pdf["_vals"]]
            lens = np.fromiter(map(len, arrs), dtype=np.int64, count=len(arrs))
            # the trailing NaN keeps every gather index in bounds when all
            # series of the batch are empty
            flat = np.concatenate(arrs + [np.full(1, np.nan)])
            ends = np.cumsum(lens)
            st = apply_ragged(flat, ends - lens, ends, parity_stats)
            res = {"doc_id": pdf["doc_id"], "source": pdf["source"], "n": lens}
            for nm in PARITY_FEATURES:
                res[f"feat_{nm}"] = st[nm]
            yield pd.DataFrame(res)

    return sel.mapInPandas(run, schema)


def _pair_distances(u: np.ndarray, v: np.ndarray) -> dict[str, float]:
    """The 8 scipy distance formulas (public definitions), one pass each."""
    du = u - v
    abs_du = np.abs(du)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = {
            "braycurtis": float(abs_du.sum() / np.abs(u + v).sum()),
            "canberra": float(
                np.sum(
                    np.where(
                        (np.abs(u) + np.abs(v)) > 0,
                        abs_du / (np.abs(u) + np.abs(v)),
                        0.0,
                    )
                )
            ),
            "chebyshev": float(abs_du.max()),
            "cityblock": float(abs_du.sum()),
            "euclidean": float(np.sqrt(np.dot(du, du))),
            "minkowski": float(np.sqrt(np.dot(du, du))),  # p=2 (scipy default)
        }
        uc = u - u.mean()
        vc = v - v.mean()
        out["correlation"] = float(
            1.0 - np.dot(uc, vc) / (np.linalg.norm(uc) * np.linalg.norm(vc))
        )
        out["cosine"] = float(
            1.0 - np.dot(u, v) / (np.linalg.norm(u) * np.linalg.norm(v))
        )
    return out


def extract_pair_features(
    df: DataFrame,
    case_col: str = "case_id",
    signal_col: str = "signal",
    value_col: str = "values",
) -> DataFrame:
    """One row per (case, metric, signal i, signal j), i<j — the pair__
    features (SURVEY.md §2.4c). One shuffle on case_id."""
    schema = StructType(
        [
            StructField("case_id", StringType()),
            StructField("metric", StringType()),
            StructField("sig_i", StringType()),
            StructField("sig_j", StringType()),
            StructField("dist", DoubleType()),
        ]
    )

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(signal_col)
        sigs = pdf[signal_col].tolist()
        arrs = [np.asarray(a, dtype=np.float64) for a in pdf[value_col]]
        rows = []
        for (i, j) in itertools.combinations(range(len(sigs)), 2):
            d = _pair_distances(arrs[i], arrs[j])
            for m in PAIR_METRICS:
                rows.append((key[0], m, str(sigs[i]), str(sigs[j]), d[m]))
        return pd.DataFrame(
            rows, columns=["case_id", "metric", "sig_i", "sig_j", "dist"]
        )

    return df.groupBy(case_col).applyInPandas(run, schema)
