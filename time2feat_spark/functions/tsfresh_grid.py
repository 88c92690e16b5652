"""Checked-in enumeration of the reference's per-signal feature grid.

The reference extracts tsfresh ``ComprehensiveFCParameters`` per signal
(/root/reference/t2f/extraction/extractor_single.py:26-32, pinned
``tsfresh~=0.20`` in requirements.txt:1); its report Table 3 pins the
effective width at 787 per signal (1574/2 = 4722/6 = 8657/11). tsfresh
is not installable in this sandbox and the sandbox has no network, so
the grid here is RECONSTRUCTED from the public tsfresh 0.20 parameter
space, family by family, each entry carrying BOTH the tsfresh-canonical
column-name string (``{calculator}__{param}_{value}__...``, params
alphabetical, strings double-quoted — tsfresh's
``convert_to_output_format``) and the engine's parity-registry name.

Reconstruction provenance, cell by cell:

- Every family below uses tsfresh 0.20 settings.py's published default
  parameter lists (fft_coefficient coeff ``range(100)`` — NOT 0..100;
  cwt widths (2,5,10,20) x coeff 0..14; agg_linear_trend 4x3x4; etc.).
- change_quantiles: the settings grid is ql in {0,.2,.4,.6,.8} x qh in
  {.2,.4,.6,.8,1.0} with ql<qh, isabs {False,True}, f_agg {mean,var} =
  60 cells. The survey's enumeration of the same family (SURVEY.md
  §2.4b) lists f_agg {mean,var,std,median}. With the rest of the grid
  at its published sizes, the report-pinned 787 total requires exactly
  4 more cells than the 60-cell settings grid; this module carries them
  as the full-corridor (ql=0, qh=1) std/median cells from the survey's
  4-agg spec, flagged in ``BRIDGE_CELLS``. If an environment that can
  import tsfresh 0.20 finds a different composition, THIS file is the
  single point of correction — parity.py's registry is derived from it,
  in its order.

This is an enumeration of a public API's parameter space; no reference
code is copied.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# the 37 parameterless calculators (tsfresh settings.py: every calculator
# with fctype and a single argument gets params=None)
# ---------------------------------------------------------------------------

SIMPLE = [
    "abs_energy", "absolute_maximum", "absolute_sum_of_changes",
    "benford_correlation", "count_above_mean", "count_below_mean",
    "first_location_of_maximum", "first_location_of_minimum",
    "has_duplicate", "has_duplicate_max", "has_duplicate_min", "kurtosis",
    "last_location_of_maximum", "last_location_of_minimum", "length",
    "longest_strike_above_mean", "longest_strike_below_mean", "maximum",
    "mean", "mean_abs_change", "mean_change",
    "mean_second_derivative_central", "median", "minimum",
    "percentage_of_reoccurring_datapoints_to_all_datapoints",
    "percentage_of_reoccurring_values_to_all_values",
    "ratio_value_number_to_time_series_length", "root_mean_square",
    "sample_entropy", "skewness", "standard_deviation",
    "sum_of_reoccurring_data_points", "sum_of_reoccurring_values",
    "sum_values", "variance", "variance_larger_than_standard_deviation",
    "variation_coefficient",
]


def _f(x: float) -> str:
    """tsfresh embeds raw float repr in names (e.g. r_0.9500000000000001)."""
    return repr(x)


def grid() -> list[tuple[str, str]]:
    """(tsfresh_column_name, engine_parity_name) for every grid cell."""
    g: list[tuple[str, str]] = [(n, n) for n in SIMPLE]

    for lag in (1, 2, 3):
        g.append((
            f"time_reversal_asymmetry_statistic__lag_{lag}",
            f"time_reversal_asymmetry_lag{lag}",
        ))
    for lag in (1, 2, 3):
        g.append((f"c3__lag_{lag}", f"c3_lag{lag}"))
    g.append(("cid_ce__normalize_False", "cid_ce"))
    g.append(("cid_ce__normalize_True", "cid_ce_norm"))
    for r in range(20):
        g.append((
            f"symmetry_looking__r_{_f(r * 0.05)}",
            f"symmetry_looking_r{5 * r:02d}",
        ))
    for r in range(1, 20):
        g.append((
            f"large_standard_deviation__r_{_f(r * 0.05)}",
            f"large_standard_deviation_r{5 * r:02d}",
        ))
    for q in (10, 20, 30, 40, 60, 70, 80, 90):
        g.append((f"quantile__q_{_f(q / 100)}", f"q{q}"))
    for lag in range(10):
        g.append((f"autocorrelation__lag_{lag}", f"autocorr_lag{lag}"))
    for a in ("mean", "median", "var"):
        g.append((
            f'agg_autocorrelation__f_agg_"{a}"__maxlag_40',
            f"agg_autocorr_{a}_40",
        ))
    for lag in range(10):
        g.append((f"partial_autocorrelation__lag_{lag}", f"pacf_lag{lag}"))
    for n in (1, 5):
        g.append((f"number_cwt_peaks__n_{n}", f"number_cwt_peaks_{n}"))
    for n in (1, 3, 5, 10, 50):
        g.append((f"number_peaks__n_{n}", f"number_peaks_{n}"))
    g.append(("binned_entropy__max_bins_10", "binned_entropy_10"))
    for q in (10, 20, 30, 40, 60, 70, 80, 90):
        g.append((
            f"index_mass_quantile__q_{_f(q / 100)}",
            f"index_mass_quantile_{q}",
        ))
    for w in (2, 5, 10, 20):
        for coeff in range(15):
            g.append((
                f"cwt_coefficients__coeff_{coeff}__w_{w}"
                "__widths_(2, 5, 10, 20)",
                f"cwt_coeff_w{w}_{coeff}",
            ))
    for c in (2, 5, 8):
        g.append((f"spkt_welch_density__coeff_{c}", f"spkt_welch_coeff_{c}"))
    for coeff in range(5):
        g.append((f"ar_coefficient__coeff_{coeff}__k_10",
                  f"ar_coeff_{coeff}_k10"))
    for ql in (0.0, 0.2, 0.4, 0.6, 0.8):
        for qh in (0.2, 0.4, 0.6, 0.8, 1.0):
            if ql >= qh:
                continue
            for b in (False, True):
                for agg in ("mean", "var"):
                    g.append((
                        f'change_quantiles__f_agg_"{agg}"__isabs_{b}'
                        f"__qh_{_f(qh)}__ql_{_f(ql)}",
                        f"change_q_{int(ql * 10)}_{int(qh * 10)}"
                        f"_{int(b)}_{agg}",
                    ))
    g.extend(BRIDGE_CELLS.items())
    for a in ("real", "imag", "abs", "angle"):
        for coeff in range(100):
            g.append((
                f'fft_coefficient__attr_"{a}"__coeff_{coeff}',
                f"fft_coeff_{a}_{coeff}",
            ))
    for a in ("centroid", "variance", "skew", "kurtosis"):
        g.append((f'fft_aggregated__aggtype_"{a}"', f"fft_agg_{a}"))
    for v in (0, 1, -1):
        g.append((f"value_count__value_{v}", f"value_count_{v}"))
    g.append(("range_count__max_1__min_-1", "range_count_m1_p1"))
    g.append(("range_count__max_0__min_1000000000000.0",
              "range_count_1e12_0"))
    g.append(("range_count__max_1000000000000.0__min_0",
              "range_count_0_1e12"))
    for r in (1, 3, 5, 7, 9):
        g.append((
            f"approximate_entropy__m_2__r_{_f(r / 10)}",
            f"approx_entropy_r{r:02d}",
        ))
    for coeff in range(4):
        g.append((
            f"friedrich_coefficients__coeff_{coeff}__m_3__r_30",
            f"friedrich_coeff_{coeff}_m3_r30",
        ))
    g.append(("max_langevin_fixed_point__m_3__r_30",
              "max_langevin_fixed_point_m3_r30"))
    for a in ("pvalue", "rvalue", "intercept", "slope", "stderr"):
        g.append((f'linear_trend__attr_"{a}"', f"linear_trend_{a}"))
    for attr in ("rvalue", "intercept", "slope", "stderr"):
        for cl in (5, 10, 50):
            for agg in ("max", "min", "mean", "var"):
                g.append((
                    f'agg_linear_trend__attr_"{attr}"__chunk_len_{cl}'
                    f'__f_agg_"{agg}"',
                    f"agg_linear_trend_{attr}_{cl}_{agg}",
                ))
    for a in ("teststat", "pvalue", "usedlag"):
        g.append((
            f'augmented_dickey_fuller__attr_"{a}"__autolag_"AIC"',
            f"adf_{a}",
        ))
    for m, nm in ((-1, "m1"), (0, "0"), (1, "p1")):
        g.append((f"number_crossing_m__m_{m}", f"number_crossing_{nm}"))
    for i in range(10):
        g.append((
            f"energy_ratio_by_chunks__num_segments_10__segment_focus_{i}",
            f"energy_ratio_chunk{i}",
        ))
    for r, nm in ((0.5, "r0_5"), (1, "r1"), (1.5, "r1_5"), (2, "r2"),
                  (2.5, "r2_5"), (3, "r3"), (5, "r5"), (6, "r6"),
                  (7, "r7"), (10, "r10")):
        g.append((f"ratio_beyond_r_sigma__r_{r}", f"ratio_beyond_{nm}_sigma"))
    g.append(("count_above__t_0", "count_above_t0"))
    g.append(("count_below__t_0", "count_below_t0"))
    for b in (2, 3, 5, 10, 100):
        g.append((f"lempel_ziv_complexity__bins_{b}", f"lempel_ziv_b{b}"))
    for b in (2, 3, 5, 10, 100):
        g.append((f"fourier_entropy__bins_{b}", f"fourier_entropy_b{b}"))
    for d in (3, 4, 5, 6, 7):
        g.append((
            f"permutation_entropy__dimension_{d}__tau_1",
            f"permutation_entropy_d{d}",
        ))
    g.append((
        "query_similarity_count__query_None__threshold_0.0",
        "query_similarity_count",
    ))
    for f_, nm in (("min", "min"), ("max", "max"), ("mean", "mean"),
                   ("median", "median"), ("25", "p25"), ("75", "p75")):
        g.append((
            f'matrix_profile__feature_"{f_}"__threshold_0.98',
            f"matrix_profile_{nm}",
        ))
    g.append(("mean_n_absolute_max__number_of_maxima_7",
              "mean_n_absolute_max_7"))
    return g


#: Reconstruction bridge cells (see module docstring): full-corridor
#: std/median change_quantiles from the survey's 4-agg spec.
BRIDGE_CELLS: dict[str, str] = {
    f'change_quantiles__f_agg_"{agg}"__isabs_{b}__qh_1.0__ql_0.0':
        f"change_q_0_10_{int(b)}_{agg}"
    for b in (False, True)
    for agg in ("std", "median")
}
