"""Vectorized time2feat statistic kernels.

Every statistic from the reference's intra-signal feature family that the
rollup ladder carries (SURVEY.md §7.3) is implemented here as a *batched*
numpy computation: input is a 2-D float64 matrix ``mat`` of shape
``(k, w)`` — k windows, each NaN-padded on the right to the common width w —
plus the per-window valid-point counts. Output is a dict of feature name →
1-D array of length k.

Semantics follow tsfresh 0.20's public calculator formulas (reference call
site: /root/reference/t2f/extraction/extractor_single.py:26-32, which uses
``ComprehensiveFCParameters``), re-derived from the published formulas — no
reference code is copied. Where tsfresh defers to pandas (skewness/kurtosis)
we reproduce the pandas G1/G2 bias-corrected estimators.

Determinism: all reductions are plain numpy ufunc reductions over contiguous
rows of a fixed-width matrix. Both the distributed engine and the
single-threaded test oracle call *this same function*, so results are
bit-identical regardless of Spark partitioning/parallelism (SURVEY.md §7.5).
"""

from __future__ import annotations

import re

import numpy as np

__all__ = [
    "window_stats",
    "ROLLUP_FEATURES",
    "BASIC_FEATURES",
]

# Features always emitted (top-level tier-table columns).
BASIC_FEATURES = ["count", "sum", "min", "max", "mean"]

# Default rollup feature set carried in the `feat` struct (FIXTURES.md F4).
_QUANTILES = [0.1, 0.2, 0.3, 0.4, 0.6, 0.7, 0.8, 0.9]
_AUTOCORR_LAGS = [1, 2, 3, 4, 5]
_N_CHUNKS = 10
# change_quantiles subset: (ql, qh, isabs, f_agg) — representative corners of
# tsfresh's default grid (full grid available via `change_quantiles_grid`).
_CHANGE_Q = [
    (0.0, 0.2, False, "mean"),
    (0.0, 0.4, False, "mean"),
    (0.2, 0.8, False, "mean"),
    (0.0, 1.0, True, "mean"),
    (0.0, 1.0, True, "var"),
    (0.2, 1.0, True, "std"),
    (0.4, 0.8, True, "median"),
    (0.6, 1.0, False, "std"),
]

ROLLUP_FEATURES = (
    [
        "variance",
        "std",
        "median",
    ]
    + [f"q{int(q * 100):02d}" for q in _QUANTILES]
    + [f"autocorr_lag{l}" for l in _AUTOCORR_LAGS]
    + [
        "abs_energy",
        "root_mean_square",
        "mean_abs_change",
        "mean_change",
        "mean_second_derivative_central",
        "absolute_sum_of_changes",
        "cid_ce",
        "cid_ce_norm",
        "skewness",
        "kurtosis",
        "count_above_mean",
        "count_below_mean",
        "longest_strike_above_mean",
        "longest_strike_below_mean",
        "number_crossing_0",
        "number_peaks_3",
        "first_location_of_maximum",
        "last_location_of_maximum",
        "first_location_of_minimum",
        "last_location_of_minimum",
        "linear_trend_slope",
        "linear_trend_intercept",
        "linear_trend_rvalue",
        "linear_trend_stderr",
        "binned_entropy_10",
        "c3_lag1",
        "time_reversal_asymmetry_lag1",
        "ratio_beyond_1_sigma",
        "variation_coefficient",
        "absolute_maximum",
        "has_duplicate",
        "has_duplicate_max",
        "has_duplicate_min",
        "ratio_value_number_to_time_series_length",
        "sum_of_reoccurring_values",
        "sum_of_reoccurring_data_points",
        "percentage_of_reoccurring_values_to_all_values",
        "percentage_of_reoccurring_datapoints_to_all_datapoints",
        "value_count_0",
        "index_mass_quantile_50",
        "large_standard_deviation_r25",
        "symmetry_looking_r25",
        "fft_coeff_abs_1",
        "fft_coeff_abs_2",
        "fft_coeff_abs_3",
        "fft_centroid",
        "fft_variance",
    ]
    + [f"energy_ratio_chunk{i}" for i in range(_N_CHUNKS)]
    + [
        f"change_q_{int(ql*10)}_{int(qh*10)}_{int(isabs)}_{agg}"
        for (ql, qh, isabs, agg) in _CHANGE_Q
    ]
)


def _nansum(mat: np.ndarray) -> np.ndarray:
    return np.nansum(mat, axis=1)


def _longest_run(b: np.ndarray) -> np.ndarray:
    """Longest run of True per row of a boolean matrix (NaN cells False)."""
    k, w = b.shape
    if w == 0:
        return np.zeros(k, dtype=np.float64)
    idx = np.arange(w)
    # position of the most recent False (or -1) at each column
    last_false = np.maximum.accumulate(np.where(~b, idx[None, :], -1), axis=1)
    run = np.where(b, idx[None, :] - last_false, 0)
    return run.max(axis=1).astype(np.float64)


def _linspace_edges(lo: np.ndarray, hi: np.ndarray, nbins: int) -> np.ndarray:
    """Replicate np.linspace(lo, hi, nbins+1) per row (np.histogram edges)."""
    step = (hi - lo) / nbins
    j = np.arange(nbins + 1)
    edges = lo[:, None] + j[None, :] * step[:, None]
    edges[:, -1] = hi  # linspace pins the endpoint exactly
    return edges


def _q_from_sorted(
    sorted_mat: np.ndarray, counts: np.ndarray, q: float
) -> np.ndarray:
    """Linear-interpolation quantile from a row-sorted matrix with NaN
    padding at the end (np.sort sends NaN right). Replicates np.quantile's
    'linear' method including its _lerp branch — but fully vectorized.
    np.nanquantile is NOT usable here: with any NaN present it falls back
    to a per-row apply_along_axis Python loop."""
    n = counts.astype(np.float64)
    virtual = q * (n - 1)
    lo = np.floor(virtual).astype(np.int64)
    frac = virtual - lo
    hi = np.minimum(lo + 1, np.maximum(counts - 1, 0))
    rows = np.arange(sorted_mat.shape[0])
    a = sorted_mat[rows, np.clip(lo, 0, sorted_mat.shape[1] - 1)]
    b = sorted_mat[rows, np.clip(hi, 0, sorted_mat.shape[1] - 1)]
    diff = b - a
    r = a + frac * diff
    alt = b - (1 - frac) * diff
    out = np.where(frac >= 0.5, alt, r)
    return np.where(counts > 0, out, np.nan)


def _masked_quantile(mat: np.ndarray, q: float | list[float]) -> np.ndarray:
    """Quantiles of NaN-padded rows: one sort, vectorized interpolation.
    Rows that are entirely NaN (e.g. empty change_quantiles corridor)
    yield NaN (masked to 0 by the caller)."""
    sorted_mat = np.sort(mat, axis=1)
    counts = (~np.isnan(mat)).sum(axis=1)
    if isinstance(q, (list, tuple, np.ndarray)):
        return np.stack([_q_from_sorted(sorted_mat, counts, qq) for qq in q])
    return _q_from_sorted(sorted_mat, counts, q)


def window_stats(
    mat: np.ndarray,
    counts: np.ndarray,
    features: list[str] | None = None,
) -> dict[str, np.ndarray]:
    """Compute all rollup statistics for k NaN-padded windows at once.

    mat: (k, w) float64, each row a window's points in time order, right-
         padded with NaN. counts: (k,) valid point counts (>= 0; a
         0-count row gives a NaN min, max and mean, with no warning).
    Returns {feature_name: (k,) float64} for BASIC_FEATURES + requested
    `features` (default ROLLUP_FEATURES).
    """
    if features is None:
        features = ROLLUP_FEATURES
    fset = set(features)
    k, w = mat.shape
    n = counts.astype(np.float64)
    out: dict[str, np.ndarray] = {}

    with np.errstate(invalid="ignore", divide="ignore"):
        s = _nansum(mat) if w else np.zeros(k)
        mean = s / n
        out["count"] = n
        out["sum"] = s
        # fmin/fmax skip the NaN padding and leave a 0-count row NaN
        # (np.nanmin/nanmax are these reductions plus an all-NaN warning)
        out["min"] = mn = np.fmin.reduce(mat, axis=1) if w else np.full(k, np.nan)
        out["max"] = mx = np.fmax.reduce(mat, axis=1) if w else np.full(k, np.nan)
        out["mean"] = mean

        centered = mat - mean[:, None]
        m2 = _nansum(centered * centered) / n  # population variance (ddof=0)
        std = np.sqrt(m2)
        sq_sum = _nansum(mat**2)

        if "variance" in fset:
            out["variance"] = m2
        if "std" in fset:
            out["std"] = std
        if "abs_energy" in fset:
            out["abs_energy"] = sq_sum
        if "root_mean_square" in fset:
            out["root_mean_square"] = np.sqrt(sq_sum / n)
        if "absolute_maximum" in fset:
            out["absolute_maximum"] = np.fmax.reduce(np.abs(mat), axis=1)
        if "variation_coefficient" in fset:
            out["variation_coefficient"] = std / mean
        # feature names are parametric: any grid cell of the tsfresh
        # parameter space can be requested by name (selective
        # re-extraction, SURVEY.md §3.3)
        qs = sorted(
            int(m[1]) / 100
            for f in fset
            if (m := re.fullmatch(r"q(\d{2})", f))
        )
        cq_cfgs = []
        for f in fset:
            m = re.fullmatch(
                r"change_q_(\d+)_(\d+)_([01])_(mean|var|std|median)", f
            )
            if m:
                cq_cfgs.append(
                    (int(m[1]) / 10, int(m[2]) / 10, bool(int(m[3])), m[4])
                )
        _DUP_FEATS = {
            "has_duplicate", "has_duplicate_max", "has_duplicate_min",
            "ratio_value_number_to_time_series_length",
            "sum_of_reoccurring_values", "sum_of_reoccurring_data_points",
            "percentage_of_reoccurring_values_to_all_values",
            "percentage_of_reoccurring_datapoints_to_all_datapoints",
        }
        sorted_mat = None
        if "median" in fset or qs or cq_cfgs or (fset & _DUP_FEATS):
            sorted_mat = np.sort(mat, axis=1)  # NaN padding sorts right
        if "median" in fset:
            out["median"] = _q_from_sorted(sorted_mat, counts, 0.5)
        for q in qs:
            out[f"q{int(q*100):02d}"] = _q_from_sorted(sorted_mat, counts, q)

        # ---- moment shape stats (pandas G1/G2 estimators) ----
        c2 = centered * centered
        if "skewness" in fset:
            m3 = _nansum(c2 * centered) / n
            g1 = m3 / np.where(m2 > 0, m2, np.nan) ** 1.5
            G1 = g1 * np.sqrt(n * (n - 1)) / (n - 2)
            G1 = np.where(m2 == 0, 0.0, G1)
            out["skewness"] = np.where(counts >= 3, G1, np.nan)
        if "kurtosis" in fset:
            m4 = _nansum(c2 * c2) / n
            g2 = m4 / np.where(m2 > 0, m2, np.nan) ** 2 - 3.0
            G2 = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
            G2 = np.where(m2 == 0, 0.0, G2)
            out["kurtosis"] = np.where(counts >= 4, G2, np.nan)

        # ---- change statistics ----
        need_diff = fset & {
            "mean_abs_change",
            "absolute_sum_of_changes",
            "cid_ce",
            "cid_ce_norm",
        } or any(f.startswith("change_q_") for f in fset)
        d = mat[:, 1:] - mat[:, :-1] if (w > 1 and need_diff) else None
        if "mean_abs_change" in fset:
            asc = _nansum(np.abs(d)) if d is not None else np.zeros(k)
            out["mean_abs_change"] = np.where(counts > 1, asc / (n - 1), np.nan)
        if "absolute_sum_of_changes" in fset:
            out["absolute_sum_of_changes"] = (
                _nansum(np.abs(d)) if d is not None else np.zeros(k)
            )
        if "mean_change" in fset:
            last = _take_last_valid(mat, counts)
            out["mean_change"] = np.where(
                counts > 1, (last - mat[:, 0]) / (n - 1), np.nan
            )
        if "mean_second_derivative_central" in fset:
            # tsfresh: (x[-1] - x[-2] - x[1] + x[0]) / (2 * (n - 2))
            last = _take_last_valid(mat, counts)
            last2 = _take_at(mat, np.maximum(counts - 2, 0))
            x1 = mat[:, 1] if w > 1 else np.full(k, np.nan)
            out["mean_second_derivative_central"] = np.where(
                counts > 2, (last - last2 - x1 + mat[:, 0]) / (2 * (n - 2)), np.nan
            )
        if "cid_ce" in fset:
            out["cid_ce"] = np.sqrt(_nansum(d**2)) if d is not None else np.zeros(k)
        if "cid_ce_norm" in fset:
            z = (mat - mean[:, None]) / std[:, None]
            dz = z[:, 1:] - z[:, :-1] if w > 1 else None
            val = np.sqrt(_nansum(dz**2)) if dz is not None else np.zeros(k)
            out["cid_ce_norm"] = np.where(std == 0, 0.0, val)

        # ---- autocorrelation family ----
        ac_lags = sorted(
            int(m[1]) for f in fset
            if (m := re.fullmatch(r"autocorr_lag(\d+)", f))
        )
        for lag in ac_lags:
            name = f"autocorr_lag{lag}"
            if w > lag:
                prod = centered[:, :-lag] * centered[:, lag:]
                num = _nansum(prod)
            else:
                num = np.zeros(k)
            denom = (n - lag) * m2
            val = num / denom
            val = np.where((counts > lag) & (m2 > 0), val, np.nan)
            out[name] = val
        for f in fset:
            m = re.fullmatch(r"c3_lag(\d+)", f)
            if not m:
                continue
            lag = int(m[1])
            if w > 2 * lag:
                prod = mat[:, 2 * lag :] * mat[:, lag:-lag] * mat[:, : -2 * lag]
                val = _nansum(prod) / (n - 2 * lag)
            else:
                val = np.full(k, np.nan)
            out[f] = np.where(counts > 2 * lag, val, np.nan)
        for f in fset:
            m = re.fullmatch(r"time_reversal_asymmetry_lag(\d+)", f)
            if not m:
                continue
            lag = int(m[1])
            if w > 2 * lag:
                a = mat[:, 2 * lag :]
                b = mat[:, lag:-lag]
                c = mat[:, : -2 * lag]
                val = _nansum(a * a * b - b * c * c) / (n - 2 * lag)
            else:
                val = np.full(k, np.nan)
            out[f] = np.where(counts > 2 * lag, val, 0.0)

        # ---- counts / streaks / crossings ----
        above = mat > mean[:, None]
        below = mat < mean[:, None]
        if "count_above_mean" in fset:
            out["count_above_mean"] = above.sum(axis=1).astype(np.float64)
        if "count_below_mean" in fset:
            out["count_below_mean"] = below.sum(axis=1).astype(np.float64)
        if "longest_strike_above_mean" in fset:
            out["longest_strike_above_mean"] = _longest_run(above)
        if "longest_strike_below_mean" in fset:
            out["longest_strike_below_mean"] = _longest_run(below)
        for f in fset:
            # number_crossing_0 / number_crossing_m1 / number_crossing_p7
            m = re.fullmatch(r"number_crossing_(m|p)?(\d+)", f)
            if not m:
                continue
            level = float(m[2]) * (-1.0 if m[1] == "m" else 1.0)
            pos = mat > level
            if w > 1:
                change = pos[:, 1:] != pos[:, :-1]
                validpair = np.arange(1, w)[None, :] < counts[:, None]
                out[f] = (change & validpair).sum(axis=1).astype(np.float64)
            else:
                out[f] = np.zeros(k)
        for f in fset:
            m = re.fullmatch(r"number_peaks_(\d+)", f)
            if m:
                out[f] = _number_peaks(mat, int(m[1]))
        for f in fset:
            # ratio_beyond_1_sigma / ratio_beyond_r0_5_sigma (r = 0.5)
            m = re.fullmatch(r"ratio_beyond_(?:r)?(\d+)(?:_(\d+))?_sigma", f)
            if m:
                r_ = float(f"{m[1]}.{m[2]}") if m[2] else float(m[1])
                dev = np.abs(mat - mean[:, None]) > r_ * std[:, None]
                out[f] = dev.sum(axis=1) / n

        # ---- locations (relative, tsfresh semantics: argmax/len) ----
        if fset & {
            "first_location_of_maximum",
            "last_location_of_maximum",
            "first_location_of_minimum",
            "last_location_of_minimum",
        }:
            idxs = np.arange(w)[None, :]
            big = np.float64(w + 1)
            if "first_location_of_maximum" in fset:
                first_mx = np.where(mat == mx[:, None], idxs, big).min(axis=1)
                out["first_location_of_maximum"] = first_mx / n
            if "last_location_of_maximum" in fset:
                last_mx = np.where(mat == mx[:, None], idxs, -1).max(axis=1)
                out["last_location_of_maximum"] = (last_mx + 1) / n
            if "first_location_of_minimum" in fset:
                first_mn = np.where(mat == mn[:, None], idxs, big).min(axis=1)
                out["first_location_of_minimum"] = first_mn / n
            if "last_location_of_minimum" in fset:
                last_mn = np.where(mat == mn[:, None], idxs, -1).max(axis=1)
                out["last_location_of_minimum"] = (last_mn + 1) / n

        # ---- linear trend (least squares over t = 0..n-1; scipy
        # linregress closed forms: slope, intercept, r, stderr) ----
        lt_feats = fset & {"linear_trend_slope", "linear_trend_intercept",
                           "linear_trend_rvalue", "linear_trend_stderr"}
        if lt_feats:
            t = np.arange(w, dtype=np.float64)[None, :]
            tmask = np.where(np.isnan(mat), np.nan, t)
            st = _nansum(tmask)
            stt = _nansum(tmask**2)
            stx = _nansum(np.where(np.isnan(mat), np.nan, t * mat))
            sst_t = stt - st * st / n  # sum (t - tbar)^2
            cov_tx = stx - st * s / n  # sum (t - tbar)(x - xbar)
            slope = cov_tx / sst_t
            if "linear_trend_slope" in fset:
                out["linear_trend_slope"] = np.where(counts > 1, slope, np.nan)
            if "linear_trend_intercept" in fset:
                out["linear_trend_intercept"] = np.where(
                    counts > 1, mean - slope * (st / n), np.nan
                )
            sst_x = m2 * n  # sum (x - xbar)^2
            if "linear_trend_rvalue" in fset:
                denom_r = np.sqrt(sst_t * sst_x)
                r = np.where(denom_r > 0, cov_tx / denom_r, 0.0)
                out["linear_trend_rvalue"] = np.where(counts > 1, r, np.nan)
            if "linear_trend_stderr" in fset:
                # sqrt(residual variance / sst_t), df = n - 2
                ss_res = sst_x - slope * cov_tx
                se = np.sqrt(
                    np.maximum(ss_res, 0.0) / np.maximum(n - 2, 1) / sst_t
                )
                out["linear_trend_stderr"] = np.where(counts > 2, se, np.nan)

        # ---- energy ratio by chunks (tsfresh np.array_split semantics) ----
        er = [f for f in fset if f.startswith("energy_ratio_chunk")]
        if er:
            csum = np.nancumsum(mat**2, axis=1)  # (k, w) prefix energy
            total = np.where(sq_sum == 0, np.nan, sq_sum)
            q_, r_ = np.divmod(counts, _N_CHUNKS)
            for i in range(_N_CHUNKS):
                name = f"energy_ratio_chunk{i}"
                if name not in fset:
                    continue
                # np.array_split boundaries for length n into 10 parts
                start = i * q_ + np.minimum(i, r_)
                end = (i + 1) * q_ + np.minimum(i + 1, r_)
                e_end = _prefix_at(csum, end)
                e_start = _prefix_at(csum, start)
                out[name] = (e_end - e_start) / total

        # ---- binned entropy (np.histogram-exact edges) ----
        for f in fset:
            m = re.fullmatch(r"binned_entropy_(\d+)", f)
            if m:
                out[f] = _binned_entropy(mat, counts, int(m[1]))

        # ---- duplicates / recurrence (from the sorted matrix) ----
        if fset & _DUP_FEATS:
            _duplicates(out, fset, sorted_mat, counts, n)

        for f in fset:
            m = re.fullmatch(r"value_count_(-?\d+)", f)
            if m:
                out[f] = (mat == float(m[1])).sum(axis=1).astype(
                    np.float64
                )
        for f in fset:
            # range_count_m1_p1 = count of min <= x < max (tsfresh)
            m = re.fullmatch(r"range_count_(m|p)?(\d+)_(m|p)?(\d+)", f)
            if m:
                lo = float(m[2]) * (-1.0 if m[1] == "m" else 1.0)
                hi = float(m[4]) * (-1.0 if m[3] == "m" else 1.0)
                out[f] = ((mat >= lo) & (mat < hi)).sum(axis=1).astype(
                    np.float64
                )
        for f in fset:
            # count_above_t0 / count_below_tm2: FRACTION of values >=/<= t
            m = re.fullmatch(r"count_(above|below)_t(m|p)?(\d+)", f)
            if m:
                t_ = float(m[3]) * (-1.0 if m[2] == "m" else 1.0)
                hits = mat >= t_ if m[1] == "above" else mat <= t_
                out[f] = hits.sum(axis=1) / n
        for f in fset:
            m = re.fullmatch(r"mean_n_absolute_max_(\d+)", f)
            if m:
                nn_ = int(m[1])
                if w >= nn_:
                    absx = np.where(np.isnan(mat), -np.inf, np.abs(mat))
                    topk = np.sort(absx, axis=1)[:, -nn_:]
                    out[f] = np.where(counts >= nn_, topk.mean(axis=1), np.nan)
                else:
                    out[f] = np.full(k, np.nan)

        imq = [
            (f, int(m[1]) / 100)
            for f in fset
            if (m := re.fullmatch(r"index_mass_quantile_(\d{2})", f))
        ]
        if imq:
            # tsfresh index_mass_quantile: smallest i with
            # cumsum(|x|)/sum(|x|) >= q, returned as (i+1)/n
            absx = np.abs(mat)
            tot = _nansum(absx)
            mc = np.nancumsum(absx, axis=1) / tot[:, None]
            for f, qq in imq:
                idx = np.argmax(mc >= qq, axis=1)
                out[f] = (idx + 1) / n

        for f in fset:
            m = re.fullmatch(r"large_standard_deviation_r(\d{2})", f)
            if m:
                out[f] = (std > int(m[1]) / 100 * (mx - mn)).astype(np.float64)
        for f in fset:
            m = re.fullmatch(r"symmetry_looking_r(\d{2})", f)
            if m:
                med = (
                    out["median"]
                    if "median" in out
                    else _q_from_sorted(np.sort(mat, axis=1), counts, 0.5)
                )
                out[f] = (np.abs(mean - med) < int(m[1]) / 100 * (mx - mn)).astype(
                    np.float64
                )

        # ---- FFT / Welch family (per distinct window length: DFT size
        # must equal the unpadded series length for tsfresh parity) ----
        fft_feats = [
            f for f in fset
            if re.fullmatch(r"fft_coeff_(abs|real|imag|angle)_\d+", f)
            or f in ("fft_centroid", "fft_variance")
        ]
        if fft_feats:
            _fft_features(out, fft_feats, mat, counts)
        welch_feats = [
            f for f in fset
            if re.fullmatch(r"spkt_welch_coeff_\d+", f)
            or re.fullmatch(r"fourier_entropy_\d+", f)
        ]
        if welch_feats:
            _welch_features(out, welch_feats, mat, counts)

        # ---- autocorrelation aggregates / PACF (optional, not in the
        # default rollup set: O(maxlag * k * w)) ----
        agg_ac = [f for f in fset if f.startswith("agg_autocorr_")]
        pacf_feats = [f for f in fset if f.startswith("pacf_lag")]
        if agg_ac or pacf_feats:
            maxlag = 40 if agg_ac else max(
                int(f.removeprefix("pacf_lag")) for f in pacf_feats
            )
            maxlag = min(maxlag, w - 1) if w > 1 else 0
            acf = np.full((max(maxlag, 1), k), np.nan)
            for lag in range(1, maxlag + 1):
                prod = centered[:, :-lag] * centered[:, lag:]
                num = _nansum(prod)
                denom = (n - lag) * m2
                val = np.where((counts > lag) & (m2 > 0), num / denom, np.nan)
                acf[lag - 1] = val
            if agg_ac:
                _agg_autocorr(out, agg_ac, acf, counts)
            if pacf_feats:
                _pacf(out, pacf_feats, acf, m2, counts)

        # ---- change_quantiles ----
        cq = cq_cfgs
        if cq and d is not None:
            _change_quantiles(out, mat, sorted_mat, d, counts, cq)
        elif cq:
            for (ql, qh, isabs, agg) in cq:
                out[f"change_q_{int(ql*10)}_{int(qh*10)}_{int(isabs)}_{agg}"] = (
                    np.zeros(k)
                )

    return out


def _take_last_valid(mat: np.ndarray, counts: np.ndarray) -> np.ndarray:
    return _take_at(mat, counts - 1)


def _take_at(mat: np.ndarray, pos: np.ndarray) -> np.ndarray:
    k = mat.shape[0]
    return mat[np.arange(k), np.clip(pos, 0, max(mat.shape[1] - 1, 0))]


def _prefix_at(csum: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """Energy prefix sum up to (exclusive) position pos per row; pos==0 -> 0."""
    k = csum.shape[0]
    val = csum[np.arange(k), np.clip(pos - 1, 0, csum.shape[1] - 1)]
    return np.where(pos > 0, val, 0.0)


def _number_peaks(mat: np.ndarray, nsup: int) -> np.ndarray:
    """tsfresh number_peaks(x, n): count of j with x[j] > x[j±i] ∀ i=1..n.
    NaN padding auto-excludes peaks near the ragged end (NaN compares False).
    """
    k, w = mat.shape
    if w <= 2 * nsup:
        return np.zeros(k)
    core = mat[:, nsup:-nsup]
    ok = np.ones(core.shape, dtype=bool)
    for i in range(1, nsup + 1):
        left = mat[:, nsup - i : -nsup - i]
        right_hi = -nsup + i
        right = mat[:, nsup + i :] if right_hi == 0 else mat[:, nsup + i : right_hi]
        with np.errstate(invalid="ignore"):
            ok &= (core > left) & (core > right)
    return ok.sum(axis=1).astype(np.float64)


def _binned_entropy(mat: np.ndarray, counts: np.ndarray, nbins: int) -> np.ndarray:
    k, w = mat.shape
    lo = np.fmin.reduce(mat, axis=1)
    hi = np.fmax.reduce(mat, axis=1)
    same = hi == lo
    edges = _linspace_edges(lo, np.where(same, lo + 1, hi), nbins)
    # bin index per np.histogram: count of interior edges <= x (right-open
    # bins; the max lands in the last bin because edge[-1] comparisons use
    # <=). Accumulated edge-by-edge to avoid a (k, w, nbins) allocation.
    b = np.zeros(mat.shape, dtype=np.int64)
    for j in range(1, nbins):
        b += mat >= edges[:, j][:, None]
    b = np.where(np.isnan(mat), -1, b)
    hist = np.zeros((k, nbins), dtype=np.float64)
    rows = np.repeat(np.arange(k), w)
    flat = b.ravel()
    valid = flat >= 0
    np.add.at(hist, (rows[valid], flat[valid].astype(np.int64)), 1.0)
    probs = hist / counts[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        terms = np.where(probs > 0, probs * np.log(probs), 0.0)
    return -terms.sum(axis=1)


def _change_quantiles(
    out: dict[str, np.ndarray],
    mat: np.ndarray,
    sorted_mat: np.ndarray,
    d: np.ndarray,
    counts: np.ndarray,
    configs: list[tuple[float, float, bool, str]],
) -> None:
    """tsfresh change_quantiles: aggregate diffs whose endpoints both lie in
    the [quantile(ql), quantile(qh)] corridor; 0 when corridor degenerate or
    empty. Vectorized across windows via masked aggregation.
    """
    k = mat.shape[0]
    needed_q = sorted({q for c in configs for q in (c[0], c[1])})
    qmap = {q: _q_from_sorted(sorted_mat, counts, q) for q in needed_q}
    absd = np.abs(d)
    for (ql, qh, isabs, agg) in configs:
        name = f"change_q_{int(ql*10)}_{int(qh*10)}_{int(isabs)}_{agg}"
        if ql >= qh:
            out[name] = np.zeros(k)
            continue
        lo, hi = qmap[ql], qmap[qh]
        degenerate = lo == hi  # pd.qcut raises ValueError -> 0
        with np.errstate(invalid="ignore"):
            inb = (mat >= lo[:, None]) & (mat <= hi[:, None])
        pair = inb[:, 1:] & inb[:, :-1]  # both endpoints inside corridor
        sel = np.where(pair, absd if isabs else d, np.nan)
        cnt = pair.sum(axis=1).astype(np.float64)
        empty = cnt == 0
        with np.errstate(invalid="ignore", divide="ignore"):
            if agg == "mean":
                val = np.nansum(sel, axis=1) / cnt
            elif agg == "median":
                val = _masked_quantile(sel, 0.5) if sel.shape[1] else np.zeros(k)
            else:  # var / std, ddof=0 (np.var / np.std defaults)
                msum = np.nansum(sel, axis=1)
                mmean = msum / cnt
                dev = np.where(pair, (sel - mmean[:, None]) ** 2, np.nan)
                var = np.nansum(dev, axis=1) / cnt
                val = np.sqrt(var) if agg == "std" else var
        val = np.where(empty | degenerate, 0.0, val)
        out[name] = val


def _duplicates(
    out: dict[str, np.ndarray],
    fset: set[str],
    sorted_mat: np.ndarray,
    counts: np.ndarray,
    n: np.ndarray,
) -> None:
    """Duplicate/recurrence family, vectorized from the row-sorted matrix
    (NaN padding never equals anything, so masks are automatically valid).
    Formulas per tsfresh: unique counts via adjacent comparisons."""
    k, w = sorted_mat.shape
    if w < 2:
        eq = np.zeros((k, 0), dtype=bool)
    else:
        eq = sorted_mat[:, 1:] == sorted_mat[:, :-1]
    n_eq = eq.sum(axis=1).astype(np.float64)
    n_unique = n - n_eq
    if "has_duplicate" in fset:
        out["has_duplicate"] = (n_eq > 0).astype(np.float64)
    if "has_duplicate_max" in fset:
        last = _take_at(sorted_mat, counts - 1)
        last2 = _take_at(sorted_mat, np.maximum(counts - 2, 0))
        out["has_duplicate_max"] = ((counts >= 2) & (last == last2)).astype(
            np.float64
        )
    if "has_duplicate_min" in fset:
        second = sorted_mat[:, 1] if w > 1 else np.full(k, np.nan)
        out["has_duplicate_min"] = (
            (counts >= 2) & (sorted_mat[:, 0] == second)
        ).astype(np.float64)
    if "ratio_value_number_to_time_series_length" in fset:
        out["ratio_value_number_to_time_series_length"] = n_unique / n

    need_groups = fset & {
        "sum_of_reoccurring_values",
        "sum_of_reoccurring_data_points",
        "percentage_of_reoccurring_values_to_all_values",
        "percentage_of_reoccurring_datapoints_to_all_datapoints",
    }
    if not need_groups:
        return
    # group-start mask: col 0 (if valid) or value != left neighbor
    valid = np.arange(w)[None, :] < counts[:, None]
    start = np.ones((k, w), dtype=bool)
    if w > 1:
        start[:, 1:] = ~eq
    start &= valid
    # a position is in a duplicate group iff equal to either neighbor
    in_dup = np.zeros((k, w), dtype=bool)
    if w > 1:
        in_dup[:, 1:] |= eq
        in_dup[:, :-1] |= eq
    dup_start = start & in_dup  # first element of each duplicate group
    with np.errstate(invalid="ignore"):
        if "sum_of_reoccurring_values" in fset:
            out["sum_of_reoccurring_values"] = np.nansum(
                np.where(dup_start, sorted_mat, 0.0), axis=1
            )
        if "sum_of_reoccurring_data_points" in fset:
            out["sum_of_reoccurring_data_points"] = np.nansum(
                np.where(in_dup, sorted_mat, 0.0), axis=1
            )
        if "percentage_of_reoccurring_values_to_all_values" in fset:
            n_groups = start.sum(axis=1).astype(np.float64)
            out["percentage_of_reoccurring_values_to_all_values"] = (
                dup_start.sum(axis=1) / n_groups
            )
        if "percentage_of_reoccurring_datapoints_to_all_datapoints" in fset:
            out["percentage_of_reoccurring_datapoints_to_all_datapoints"] = (
                in_dup.sum(axis=1) / n
            )


def _fft_features(
    out: dict[str, np.ndarray],
    feats: list[str],
    mat: np.ndarray,
    counts: np.ndarray,
) -> None:
    """|rfft| coefficients and spectral centroid/variance (tsfresh
    fft_coefficient / fft_aggregated semantics). The DFT length must be the
    window's true point count, so windows are grouped by exact length —
    most windows in a tier share one length, stragglers batch per length."""
    k = mat.shape[0]
    for f in feats:
        out[f] = np.full(k, np.nan)
    want_angle = any(f.startswith("fft_coeff_angle_") for f in feats)
    for cnt in np.unique(counts):
        sel = np.nonzero(counts == cnt)[0]
        if int(cnt) < 1:
            continue
        sub = mat[sel, : int(cnt)]
        cplx = np.fft.rfft(sub, axis=1)
        spec = np.abs(cplx)
        # angle of the whole spectrum at once: on a strided column
        # numpy's arctan2 can take its scalar path, whose last bits differ
        angle = np.angle(cplx, deg=True) if want_angle else None
        nb = spec.shape[1]
        for f in feats:
            m = re.fullmatch(r"fft_coeff_(abs|real|imag|angle)_(\d+)", f)
            if m:
                c = int(m[2])
                if c < nb:
                    attr = m[1]
                    if attr == "abs":
                        out[f][sel] = spec[:, c]
                    elif attr == "real":
                        out[f][sel] = cplx[:, c].real
                    elif attr == "imag":
                        out[f][sel] = cplx[:, c].imag
                    else:  # angle, in degrees (tsfresh convention)
                        out[f][sel] = angle[:, c]
            elif f == "fft_centroid":
                idx = np.arange(nb, dtype=np.float64)
                tot = spec.sum(axis=1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    out[f][sel] = (spec * idx).sum(axis=1) / tot
            elif f == "fft_variance":
                idx = np.arange(nb, dtype=np.float64)
                tot = spec.sum(axis=1)
                with np.errstate(invalid="ignore", divide="ignore"):
                    mu = (spec * idx).sum(axis=1) / tot
                    out[f][sel] = (
                        spec * (idx[None, :] - mu[:, None]) ** 2
                    ).sum(axis=1) / tot


def welch_psd_rows(sub: np.ndarray) -> np.ndarray:
    """One-sided Welch PSD for every row of an equal-length batch
    (scipy.signal.welch defaults: fs=1, periodic hann, nperseg =
    min(256, n), 50% overlap, per-segment constant detrend, density
    scaling, mean average) — vectorized over (rows, segments)."""
    b, n = sub.shape
    nper = min(256, n)
    if nper < 1:
        return np.empty((b, 0))
    step = nper - nper // 2
    starts = np.arange(0, n - nper + 1, step)
    if len(starts) == 0:
        starts = np.array([0])
    # (rows, segments, nper) gather — one fancy index, no Python loop
    idx = starts[:, None] + np.arange(nper)[None, :]
    segs = sub[:, idx]
    segs = segs - (_ordered_sum(segs, 2) / nper)[:, :, None]
    # periodic hann; length-1 degenerates to [0] -> scipy uses [1]
    w = (
        0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(nper) / nper)
        if nper > 1
        else np.ones(1)
    )
    spec = np.fft.rfft(segs * w[None, None, :], axis=2)
    pxx = (spec.real**2 + spec.imag**2) / (w * w).sum()
    pxx[:, :, 1:] *= 2.0
    if nper % 2 == 0:
        pxx[:, :, -1] /= 2.0
    return pxx.mean(axis=1)


def _welch_features(
    out: dict[str, np.ndarray],
    feats: list[str],
    mat: np.ndarray,
    counts: np.ndarray,
) -> None:
    """spkt_welch_density coefficients and fourier_entropy (binned
    entropy of the max-normalized PSD), grouped by exact window length."""
    k = mat.shape[0]
    for f in feats:
        out[f] = np.full(k, np.nan)
    for cnt in np.unique(counts):
        sel = np.nonzero(counts == cnt)[0]
        if int(cnt) < 1:
            continue
        pxx = welch_psd_rows(mat[sel, : int(cnt)])
        nb = pxx.shape[1]
        if nb == 0:
            continue
        mx = pxx.max(axis=1, keepdims=True)
        norm = np.where(mx > 0, pxx / mx, pxx)
        for f in feats:
            if f.startswith("spkt_welch_coeff_"):
                c = int(f.removeprefix("spkt_welch_coeff_"))
                if c < nb:
                    out[f][sel] = pxx[:, c]
            else:
                bins = int(f.removeprefix("fourier_entropy_"))
                out[f][sel] = _binned_entropy(
                    norm, np.full(len(sel), nb), bins
                )


def _agg_autocorr(
    out: dict[str, np.ndarray],
    feats: list[str],
    acf: np.ndarray,
    counts: np.ndarray,
) -> None:
    """tsfresh agg_autocorrelation(f_agg, maxlag=40): f_agg over the
    adjusted-denominator ACF at lags 1..min(40, n-1)."""
    L, k = acf.shape
    # mask lags >= n per window
    lag_valid = (np.arange(1, L + 1)[:, None] < counts[None, :])
    masked = np.where(lag_valid, acf, np.nan)
    cnt = lag_valid.sum(axis=0).astype(np.float64)

    def nansum(x):
        return _ordered_sum(np.where(np.isnan(x), 0.0, x), 0)

    with np.errstate(invalid="ignore", divide="ignore"):
        for f in feats:
            agg = f.split("_")[2]  # agg_autocorr_<agg>_40
            if agg == "mean":
                out[f] = nansum(masked) / cnt
            elif agg == "median":
                out[f] = _masked_quantile(masked.T, 0.5)
            elif agg == "var":
                mu = nansum(masked) / cnt
                dev = np.where(lag_valid, (masked - mu[None, :]) ** 2, np.nan)
                out[f] = nansum(dev) / cnt
            out[f] = np.where(cnt > 0, out[f], np.nan)


def _ordered_sum(x: np.ndarray, axis: int) -> np.ndarray:
    """Sum along ``axis`` in index order, for any number of windows.
    numpy adds along a strided axis in order but along a contiguous one
    pairwise, and which one an axis is can depend on how many windows
    share the call, so a window alone would get different last bits."""
    acc = np.zeros(np.delete(x.shape, axis))
    for part in np.moveaxis(x, axis, 0):
        acc += part
    return acc


def _pacf(
    out: dict[str, np.ndarray],
    feats: list[str],
    acf: np.ndarray,
    m2: np.ndarray,
    counts: np.ndarray,
) -> None:
    """Partial autocorrelation via the Durbin-Levinson recursion on the
    adjusted-denominator ACF (documented convention; statsmodels offers
    several estimators — this one is self-consistent and tested against a
    scalar Durbin-Levinson oracle)."""
    want = {int(f.removeprefix("pacf_lag")) for f in feats}
    maxlag = max(want)
    L, k = acf.shape
    maxlag = min(maxlag, L)
    # phi[j] = phi_{m,j} for the current order m (vectors of length k)
    phi = np.zeros((maxlag + 1, k))
    prev = np.zeros((maxlag + 1, k))
    pacf_vals = np.full((maxlag + 1, k), np.nan)
    with np.errstate(invalid="ignore", divide="ignore"):
        for m in range(1, maxlag + 1):
            if m == 1:
                phi[1] = acf[0]
            else:
                num = acf[m - 1] - sum(prev[j] * acf[m - 1 - j] for j in range(1, m))
                den = 1.0 - sum(prev[j] * acf[j - 1] for j in range(1, m))
                phi[m] = num / den
                for j in range(1, m):
                    phi[j] = prev[j] - phi[m] * prev[m - j]
            pacf_vals[m] = phi[m]
            prev[: m + 1] = phi[: m + 1]
    for f in feats:
        lag = int(f.removeprefix("pacf_lag"))
        if lag <= maxlag:
            v = pacf_vals[lag]
            out[f] = np.where((counts > lag) & (m2 > 0), v, np.nan)
        else:
            out[f] = np.full(k, np.nan)
