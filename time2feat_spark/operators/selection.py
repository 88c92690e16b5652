"""Feature cleaning, ranking, and selection — reference parity.

Maps the reference's selection stack (SURVEY.md §2.2 P2-P5, §2.6 T1/T4):
- clean_profile / clean_features: drop any-NaN, any-inf, zero-variance
  columns (t2f/selection/selection.py:10-22) in ONE aggregation pass
  (column-wise predicates become one agg + a projection).
- anova_f_scores: sklearn-f_classif-equivalent one-way ANOVA F per
  feature (t2f/ranking/wrapper.py:21-31) computed from per-class
  count/sum/sumsq aggregates — a single groupBy(label) pass; the final
  k x f math runs driver-side on the tiny aggregate matrix.
- pfa: Principal Feature Analysis (t2f/selection/PFA.py:14-43):
  standardize -> PCA (components covering 90% variance) -> KMeans on the
  component loadings -> the feature nearest each centroid. The feature
  matrix after aggregation is small (SURVEY.md §4 O8: deliberately NOT
  distributed — collect and run numpy).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, functions as F

from .clustering import kmeans

#: Default ceiling for the deliberately-driver-side selection layer.
#: The post-aggregation feature matrix is one row per SERIES (not per
#: point/doc), so at 500k rows x ~800 float64 features it is ~3 GB —
#: the practical edge of "collect and run numpy".
MAX_DRIVER_ROWS = 500_000


def ensure_driver_bound(
    df: DataFrame, max_driver_rows: int, what: str
) -> int:
    """Fail fast before a toPandas/collect that would OOM the driver.

    The selection/clustering layer deliberately mirrors the reference's
    post-aggregation posture (SURVEY.md §4 O8: one row per series,
    collect the small matrix, run numpy exactly) — that is the right
    call for t2f-shaped workloads and the WRONG call for raw corpus
    scale. This guard makes the boundary explicit instead of an OOM."""
    n = df.count()
    if n > max_driver_rows:
        raise ValueError(
            f"{what}: post-aggregation matrix has {n:,} rows > "
            f"max_driver_rows={max_driver_rows:,}. This layer runs "
            "driver-side by design (one row per series); aggregate "
            "first (operators.rollup / operators.features) or raise "
            "max_driver_rows explicitly if the driver has the memory."
        )
    return n


def _qc(c: str) -> F.Column:
    """Column ref with the name taken LITERALLY (backtick-quoted):
    reference-grammar feature names contain dots (`quantile__q_0.1`)
    which a bare F.col would parse as struct access."""
    return F.col("`" + c + "`")


def clean_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One agg pass: per column (n_bad = NULL/NaN/inf count, var_pop)."""
    aggs = []
    for c in cols:
        bad = _qc(c).isNull() | F.isnan(_qc(c)) | _qc(c).isin(
            float("inf"), float("-inf")
        )
        aggs.append(F.count(F.when(bad, 1)).alias(f"bad__{c}"))
        aggs.append(F.var_pop(_qc(c)).alias(f"var__{c}"))
        aggs.append(F.count_distinct(_qc(c)).alias(f"nd__{c}"))
    return df.agg(*aggs)


def clean_features(df: DataFrame, cols: list[str]) -> list[str]:
    """Surviving columns after P2 (any-NaN), P3 (any-inf), P4 (zero
    variance, population ddof=0 like sklearn VarianceThreshold), P5
    (constant)."""
    row = clean_profile(df, cols).first()
    keep = []
    for c in cols:
        if row[f"bad__{c}"] == 0 and (row[f"var__{c}"] or 0) > 0 and row[f"nd__{c}"] > 1:
            keep.append(c)
    return keep


def anova_f_scores(
    df: DataFrame, cols: list[str], label_col: str
) -> dict[str, float]:
    """One-way ANOVA F statistic per feature (f_classif semantics)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(_qc(c)).alias(f"s__{c}"))
        aggs.append(F.sum(_qc(c) * _qc(c)).alias(f"ss__{c}"))
    per_class = df.groupBy(label_col).agg(*aggs).collect()
    k = len(per_class)
    n = sum(r["_n"] for r in per_class)
    out = {}
    for c in cols:
        tot_s = sum(r[f"s__{c}"] for r in per_class)
        tot_ss = sum(r[f"ss__{c}"] for r in per_class)
        sst = tot_ss - tot_s * tot_s / n
        ssb = sum(
            r[f"s__{c}"] ** 2 / r["_n"] for r in per_class
        ) - tot_s * tot_s / n
        ssw = sst - ssb
        if ssw <= 0 or k < 2 or n <= k:
            out[c] = float("inf") if ssb > 0 else 0.0
            continue
        out[c] = float((ssb / (k - 1)) / (ssw / (n - k)))
    return out


def anova_p_values(
    df: DataFrame, cols: list[str], label_col: str
) -> dict[str, tuple[float, float]]:
    """(F, p) per feature — f_classif semantics including the p-value
    (F survival function, dfn=k-1, dfd=n-k; pure-numpy incomplete beta,
    functions/special.py). Reference T2: sk_pvalue strategy sorts this
    p ascending (t2f/utils/importance_old.py:62-72)."""
    import numpy as np

    from ..functions.special import f_sf

    scores = anova_f_scores(df, cols, label_col)
    kn = df.groupBy(label_col).count().collect()
    k = len(kn)
    n = sum(r["count"] for r in kn)
    dfn, dfd = max(k - 1, 1), max(n - k, 1)
    fs = np.array([scores[c] for c in cols])
    ps = f_sf(fs, dfn, dfd)
    return {c: (float(fs[i]), float(ps[i])) for i, c in enumerate(cols)}


def _rank_avg(col):
    """Average ranks with tie handling (scipy.stats.rankdata 'average')."""
    import numpy as np

    order = np.argsort(col, kind="mergesort")
    ranks = np.empty(len(col), dtype=np.float64)
    sorted_vals = col[order]
    # tie groups -> average rank
    i = 0
    n = len(col)
    while i < n:
        j = i
        while j + 1 < n and sorted_vals[j + 1] == sorted_vals[i]:
            j += 1
        ranks[order[i : j + 1]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def mann_whitney_p(x, in_class) -> float:
    """Two-sided Mann-Whitney U p-value, normal approximation with tie
    and continuity corrections (the scipy.stats.mannwhitneyu formulas
    tsfresh's relevance table uses for real feature / binary target)."""
    import math

    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    in_class = np.asarray(in_class, dtype=bool)
    n1 = int(in_class.sum())
    n2 = len(x) - n1
    if n1 == 0 or n2 == 0:
        return float("nan")
    ranks = _rank_avg(x)
    r1 = ranks[in_class].sum()
    u1 = r1 - n1 * (n1 + 1) / 2.0
    mu = n1 * n2 / 2.0
    n = n1 + n2
    _, t = np.unique(x, return_counts=True)
    tie = (t**3 - t).sum() / (n * (n - 1)) if n > 1 else 0.0
    s2 = n1 * n2 / 12.0 * ((n + 1) - tie)
    if s2 <= 0:
        return 1.0
    z = (abs(u1 - mu) - 0.5) / math.sqrt(s2)
    return float(min(1.0, math.erfc(z / math.sqrt(2.0))))


def relevance_p_values(
    df: DataFrame,
    cols: list[str],
    label_col: str,
    multiclass: bool = False,
    max_driver_rows: int = MAX_DRIVER_ROWS,
) -> dict[str, float]:
    """tsfresh-relevance-table style p-values (reference 'tsfresh' /
    'multi' strategies, t2f/utils/importance_old.py:60-73): Mann-Whitney
    U per (feature, class-vs-rest); multiclass=True averages the per-
    class p-values (the reference's p_value-columns mean). The labeled
    slice is collected driver-side — partial supervision keeps it small
    by construction (SURVEY.md §4 O8)."""
    import numpy as np

    ensure_driver_bound(df, max_driver_rows, "relevance_p_values")
    pdf = df.select(F.col(label_col), *[_qc(c) for c in cols]).toPandas()
    y = pdf[label_col].to_numpy()
    classes = sorted(set(y))
    out: dict[str, float] = {}
    for c in cols:
        x = pdf[c].to_numpy(dtype=np.float64)
        if multiclass:
            ps = [mann_whitney_p(x, y == cls) for cls in classes]
            out[c] = float(np.nanmean(ps))
        else:
            out[c] = mann_whitney_p(x, y == classes[0])
    return out


def pfa(
    matrix: np.ndarray,
    feature_names: list[str],
    explained_var: float = 0.9,
    seed: int = 42,
) -> list[str]:
    """Principal Feature Analysis on a (rows x features) numpy matrix.
    Returns the selected feature names (driver-side; post-agg matrices
    are small by construction)."""
    X = np.asarray(matrix, dtype=np.float64)
    mu = X.mean(axis=0)
    sd = X.std(axis=0)
    sd[sd == 0] = 1.0
    Z = (X - mu) / sd
    # PCA via SVD of the standardized matrix
    _, s, vt = np.linalg.svd(Z, full_matrices=False)
    var = s**2
    ratio = np.cumsum(var) / var.sum()
    q = int(np.searchsorted(ratio, explained_var) + 1)
    A = vt[:q].T  # (features x q) loadings
    n_sel = max(1, q)
    centers, labels = kmeans(A, n_sel, seed=seed)
    selected = []
    for ci in range(n_sel):
        d = np.linalg.norm(A - centers[ci], axis=1)
        selected.append(int(np.argmin(d)))
    # unique, stable order
    seen, out = set(), []
    for i in selected:
        if i not in seen:
            seen.add(i)
            out.append(feature_names[i])
    return out
