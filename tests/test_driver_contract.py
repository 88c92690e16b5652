"""The driver contract's shape, checked without a Spark session.

The driver reads a name missing from queries() as a dropped query, so a
dropped or renamed name must fail here; every oracle_sql() entry must
name a declared query."""

from __future__ import annotations

import __spark_entry__ as E

QUERY_NAMES = [
    "rollup_1h_basic",
    "rollup_1d_dispersion",
    "rollup_1d_shape",
    "rollup_1d_change",
    "rollup_1d_autocorr",
    "rollup_1d_mean_counts",
    "rollup_1d_trend",
    "rollup_1d_nonlinear",
    "asof_join",
    "sessionize",
    "gapfill_locf_1h",
    "gapfill_linear_1h",
    "seq_1m_basic",
    "seq_1h_energy",
    "pricing_summary",
    "revenue_by_nation",
    "customers_with_orders",
    "customers_without_orders",
    "union_order_slices",
    "top_orders",
    "order_rank_per_customer",
    "column_profile",
    "zscore_by_type",
    "distinct_counts",
    "dedup_exact",
    "dedup_resolve",
    "dedup_clusters",
    "token_topk",
    "token_counts",
    "text_quality",
    "quality_filter",
    "lang_id",
    "fingerprint",
    "embedding_topk",
    "embedding_norms",
    "minhash_near_dups",
    "simhash",
    "winnowing_fingerprints",
    "lsh_topk",
    "ivf_topk",
    "ivf_topk_at_rest",
    "ladder_full",
    "ladder_tier_counts",
    "ladder_decode_roundtrip",
    "anova_f",
    "anova_pvalue_rank",
    "pair_distances",
    "ngram_jaccard",
    "embedding_near_dups",
    "multimodal_features",
    "deterministic_split",
    "sample_per_group",
    "sample_fraction",
    "interval_join",
    "detect_gaps",
    "heavy_hitters_tokens",
    "redact_pii",
    "repetition_features",
    "hll_distinct_users",
    "tfidf_top_terms",
    "bm25_dbterms",
    "decontaminate",
    "semantic_dedup",
    "routed_aggregate_6h",
    "routed_quantile_2h",
    "token_window_dups",
    "cms_token_estimates",
    "hll_tier_1h",
    "unigram_xent",
    "mixture_sample",
    "pmi_collocations",
    "source_kl",
    "curation_pipeline",
    "ppl_buckets",
]


def test_query_names_are_pinned_in_order():
    assert list(E.queries()) == QUERY_NAMES


def test_builders_are_module_level_q_functions():
    # bench.py calls the builders by their module-level names
    for name, build in E.queries().items():
        assert build.__name__ == f"q_{name}"
        assert getattr(E, build.__name__) is build


def test_every_oracle_names_a_query():
    oracles = E.oracle_sql()
    assert set(oracles) <= set(QUERY_NAMES)
    assert set(QUERY_NAMES) - set(oracles) == {"ladder_full"}
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
