"""Guards on the deliberately-quadratic verify-stage operators.

ngram_jaccard_pairs is an all-pairs cross join BY DESIGN (the exact
verify stage after LSH pruning, reference parity for raw k-gram
Jaccard). At corpus scale that shape is a footgun, so misuse must be
loud: inputs above NGRAM_ALLPAIRS_MAX_ROWS raise unless the caller
explicitly opts in with allow_full_scan=True.
"""

from __future__ import annotations

import pytest

from time2feat_spark.operators import dedup as D


def _docs(spark, n):
    return spark.range(n).selectExpr(
        "cast(id as string) as doc_id",
        "concat('the quick brown fox ', id) as text",
    )


def test_guard_trips_above_threshold(spark):
    df = _docs(spark, 50)
    with pytest.raises(ValueError, match="all-pairs cross join"):
        D.ngram_jaccard_pairs(df, max_rows=10)


def test_allow_full_scan_overrides(spark):
    df = _docs(spark, 50)
    out = D.ngram_jaccard_pairs(
        df, max_rows=10, allow_full_scan=True, min_jaccard=0.0
    )
    assert out.count() == 50 * 49 // 2


def test_small_inputs_pass_without_flag(spark):
    df = _docs(spark, 8)
    out = D.ngram_jaccard_pairs(df, max_rows=10, min_jaccard=0.0)
    assert out.count() == 8 * 7 // 2


def test_selection_driver_bound_trips(spark):
    """The deliberately-driver-side selection layer (SURVEY §4 O8) must
    fail fast, not OOM, when fed a matrix above max_driver_rows."""
    from time2feat_spark.operators.selection import relevance_p_values

    df = spark.range(100).selectExpr(
        "cast(id as double) as f1", "cast(id*2 as double) as f2",
        "id % 2 as label",
    )
    with pytest.raises(ValueError, match="driver-side by design"):
        relevance_p_values(df, ["f1", "f2"], "label", max_driver_rows=10)
    # under the bound it runs
    out = relevance_p_values(df, ["f1", "f2"], "label", max_driver_rows=1000)
    assert set(out) == {"f1", "f2"}


def test_near_duplicate_clusters_components(spark):
    """Min-label propagation over a chain (needs multiple rounds), a
    triangle, and an isolated pair — cluster_id = min id per component."""
    from time2feat_spark.operators.dedup import near_duplicate_clusters

    pairs = spark.createDataFrame(
        [
            (2, 3), (3, 4), (4, 5), (5, 6),   # chain: min 2
            (10, 11), (11, 12), (10, 12),     # triangle: min 10
            (20, 21),                         # pair: min 20
        ],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in near_duplicate_clusters(pairs).collect()
    }
    want = {2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 10: 10, 11: 10, 12: 10,
            20: 20, 21: 20}
    assert got == want


def test_near_duplicate_clusters_nonconvergence_is_loud(spark):
    """A chain whose diameter exceeds max_iter must RAISE, not silently
    return partially-propagated (wrong) cluster ids."""
    from time2feat_spark.operators.dedup import near_duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        near_duplicate_clusters(chain, max_iter=3).collect()
    # the same chain converges with enough rounds
    got = {
        r.doc_id: r.cluster_id
        for r in near_duplicate_clusters(chain, max_iter=20).collect()
    }
    assert got == {i: 0 for i in range(13)}


def test_token_window_dup_frac_hand_truth(spark):
    from time2feat_spark.operators.dedup import token_window_dup_frac

    df = spark.createDataFrame(
        [
            ("d1", [1, 2, 3, 4, 5]),   # (1,2,3) shared with d2 -> 1/3
            ("d2", [9, 1, 2, 3, 8]),   # 1/3
            ("d3", [7, 7]),            # < window -> 0 windows, NULL frac
            ("d4", [5, 5, 5, 5, 5]),   # (5,5,5) x3 within-doc -> 3/3
        ],
        ["doc_id", "tokens"],
    )
    for fam in ("xxhash", "md5"):
        out = {
            r["doc_id"]: r
            for r in token_window_dup_frac(
                df, window=3, hash_family=fam
            ).collect()
        }
        assert out["d1"]["n_windows"] == 3 and out["d1"]["n_dup_windows"] == 1
        assert out["d1"]["dup_frac"] == pytest.approx(0.3333)
        assert out["d2"]["dup_frac"] == pytest.approx(0.3333)
        assert out["d3"]["n_windows"] == 0 and out["d3"]["dup_frac"] is None
        assert out["d4"]["n_dup_windows"] == 3 and out["d4"]["dup_frac"] == 1.0


def test_token_window_dup_frac_hot_run_no_window_exec(spark):
    """r6 de-skew: a single boilerplate run repeated across MANY docs
    must not funnel into one WindowExec task. The multiplicity tag is a
    two-level aggregate + join (AQE can split a skewed join; it cannot
    split a Window exchange) — assert the plan carries no Window node
    and the counts stay exact on a planted hot run."""
    from pyspark.sql import functions as F

    from time2feat_spark.operators.dedup import token_window_dup_frac

    n_docs = 20_000
    # every doc = the SAME 3-token run + one unique suffix token
    df = (
        spark.range(n_docs)
        .select(
            F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id"),
            F.array(
                F.lit(1), F.lit(2), F.lit(3), F.col("id").cast("int") + 10
            ).alias("tokens"),
        )
        .repartition(8)
    )
    out = token_window_dup_frac(df, window=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "multiplicity tag regressed to WindowExec"
    rows = out.collect()
    assert len(rows) == n_docs
    # per doc: windows (1,2,3) and (2,3,uniq); only the first is global-dup
    for r in rows[:50]:
        assert r["n_windows"] == 2 and r["n_dup_windows"] == 1
        assert r["dup_frac"] == pytest.approx(0.5)


def test_minhash_bucket_pairs_equal_self_join(spark):
    """r6: LSH candidate pairs come from a per-bucket sorted collect_list
    + i<j array combinations instead of a bucket self-join. On a corpus
    with planted duplicate groups, the operator's output must equal the
    exact all-pairs answer (banding recall 1 for identical docs), with
    a 4-clique contributing C(4,2)=6 pairs at jaccard 1.0."""
    from pyspark.sql import functions as F

    from time2feat_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard_pairs,
    )

    texts = []
    # group A: 4 identical docs -> 6 pairs at 1.0
    for i in range(4):
        texts.append((i, "the quick brown fox jumps over the lazy dog " * 4))
    # group B: 2 identical docs -> 1 pair at 1.0
    for i in range(4, 6):
        texts.append((i, "pack my box with five dozen liquor jugs today " * 4))
    # unrelated singletons
    texts.append((6, "completely different content about spark shuffles"))
    texts.append((7, "unrelated text concerning gorilla compression blocks"))
    df = spark.createDataFrame(texts, "doc_id long, text string").repartition(3)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_near_duplicates(df, min_jaccard=0.5).collect()
    }
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(df, min_jaccard=0.5).collect()
    }
    assert got == want
    a_pairs = {k for k in got if k[0] < 4 and k[1] < 4}
    assert len(a_pairs) == 6 and all(got[k] == 1.0 for k in a_pairs)
    assert got[(4, 5)] == 1.0
