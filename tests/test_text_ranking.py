"""TF-IDF top terms, BM25 retrieval, benchmark decontamination, and the
deterministic HyperLogLog — hand-computed truths plus cross-engine
(DuckDB) and merge/accuracy properties."""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "quantum entanglement defies classical intuition"),
    (4, "the cat chased the dog around the log"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _tfidf_truth(k=3):
    """Plain-python smoothed TF-IDF over DOCS."""
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(DOCS)
    dfreq: dict[str, int] = {}
    for ws in toks.values():
        for w in set(ws):
            dfreq[w] = dfreq.get(w, 0) + 1
    out = {}
    for d, ws in toks.items():
        scores = {}
        for w in set(ws):
            tf = ws.count(w)
            idf = math.log((n + 1) / (dfreq[w] + 1)) + 1
            scores[w] = round(round(tf * idf, 7), 4)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        out[d] = ranked
    return out


def test_tfidf_matches_hand_computation(spark, docs):
    from time2feat_spark.operators.text import tfidf_top_terms

    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tfidf"])
        for r in tfidf_top_terms(docs, k=3).collect()
    }
    truth = _tfidf_truth(3)
    for d, ranked in truth.items():
        for i, (term, score) in enumerate(ranked, 1):
            assert got[(d, i)][0] == term, (d, i, got[(d, i)], ranked)
            assert got[(d, i)][1] == pytest.approx(score, abs=1e-9)
    # empty doc contributes no rows
    assert not [k for k in got if k[0] == 5]


def test_bm25_ranks_exact_topic_doc_first(spark, docs):
    from time2feat_spark.operators.text import bm25_search

    rows = bm25_search(docs, ["quantum", "entanglement"], k=3).collect()
    assert rows[0]["doc_id"] == 3
    assert rows[0]["n_terms_hit"] == 2
    assert len(rows) == 1  # no other doc contains either term

    rows = bm25_search(docs, ["cat", "log"], k=5).collect()
    got = [r["doc_id"] for r in rows]
    # doc 4 holds both terms -> must outrank single-term docs
    assert got[0] == 4
    assert set(got) == {1, 2, 4}
    # scores strictly ordered, ties by doc_id
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_bm25_score_matches_formula(spark, docs):
    from time2feat_spark.operators.text import bm25_search

    rows = {r["doc_id"]: r["score"] for r in
            bm25_search(docs, ["cat"], k=5, k1=1.2, b=0.75).collect()}
    toks = {d: t.lower().split() for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(w) for w in toks.values()) / n
    df_t = sum("cat" in w for w in toks.values())
    idf = math.log((n - df_t + 0.5) / (df_t + 0.5) + 1)
    for d in (1, 4):
        tf = toks[d].count("cat")
        dl = len(toks[d])
        s = idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
        micro = math.floor(abs(s) * 1e6 + 0.5) * (1 if s >= 0 else -1)
        assert rows[d] == pytest.approx(round(round(micro / 1e6, 7), 4), abs=1e-9)


def test_decontaminate_flags_overlapping_docs(spark):
    from time2feat_spark.operators.text import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # fully inside eval
            (2, "alpha beta gamma zeta eta theta"),  # partial overlap
            (3, "completely different words here now"),
            (4, "xy"),                               # < n words -> no grams
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon and more")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in
           decontaminate(corpus, eval_df, n=3, threshold=0.5).collect()}
    assert out[1]["decon_ngrams"] == 3 and out[1]["decon_hits"] == 3
    assert out[1]["decon_frac"] == 1.0 and out[1]["decon_flag"]
    # doc 2: grams = {abg, bgz, gze, zet} -> 1 of 4 hit
    assert out[2]["decon_ngrams"] == 4 and out[2]["decon_hits"] == 1
    assert out[2]["decon_frac"] == 0.25 and not out[2]["decon_flag"]
    assert out[3]["decon_hits"] == 0 and not out[3]["decon_flag"]
    assert out[4]["decon_ngrams"] == 0 and out[4]["decon_frac"] is None
    assert out[4]["decon_flag"] is False


def test_hll_merge_equals_single_pass_and_accuracy(spark):
    from time2feat_spark.operators.approx import hll_distinct

    n = 20_000
    rng = np.random.default_rng(11)
    vals = rng.integers(0, 5_000, n)  # ~5k distinct
    df = spark.createDataFrame(
        [(int(v), "g") for v in vals], ["v", "grp"]
    ).repartition(7)

    one = hll_distinct(df, ["grp"], "v").collect()[0]["hll_estimate"]
    true = len(set(int(v) for v in vals))
    assert abs(one - true) / true < 3 * 1.04 / math.sqrt(64)


def test_hll_matches_duckdb_replay(spark):
    import duckdb

    from time2feat_spark.operators.approx import hll_distinct, sql_hll_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    got = {
        r["event_type"]: r["hll_estimate"]
        for r in hll_distinct(ev, ["event_type"], "user_id").collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    for et, est in con.sql(
        sql_hll_distinct("events", ["event_type"], "user_id")
    ).fetchall():
        assert got[et] == est, et


def test_semantic_dedup_within_cluster(spark):
    from time2feat_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(5)
    base = rng.normal(size=(3, 16))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(4):
            v = base[c] + rng.normal(scale=0.01, size=16)  # tight clones
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = semantic_dedup(df, base, min_cosine=0.95).collect()
    by_id = {r["vec_id"]: r for r in out}
    # each clone group: lowest id kept, other three flagged
    for c in range(3):
        ids = [c * 4 + i for i in range(4)]
        flags = [by_id[i]["is_dup"] for i in ids]
        assert flags == [False, True, True, True], (c, flags)
        assert len({by_id[i]["cell"] for i in ids}) == 1


def test_cms_overestimate_merge_and_duckdb_replay(spark):
    from time2feat_spark.operators.approx import cms_build, cms_lookup

    rng = np.random.default_rng(3)
    vals = rng.zipf(1.5, 30_000)
    vals = vals[vals < 5_000]
    df = spark.createDataFrame([(int(v),) for v in vals], ["v"]).repartition(5)
    probes = spark.createDataFrame(
        [(int(v),) for v in [1, 2, 3, 17, 4999, 123456]], ["v"]
    )
    sk = cms_build(df, "v", d=4, w=1024, seed=2).localCheckpoint(eager=True)
    est = {
        r["v"]: r["cms_estimate"]
        for r in cms_lookup(sk, probes, "v", d=4, w=1024, seed=2).collect()
    }
    import collections

    true = collections.Counter(int(v) for v in vals)
    for p in (1, 2, 3, 17, 4999):
        assert est[p] >= true[p]                      # CMS never undercounts
        assert est[p] <= true[p] + 2 * len(vals) / 1024 * 4  # loose eps bound
    assert est[123456] <= 2 * len(vals) / 1024 * 4    # absent value ~0


def test_hll_tier_cascade_equals_direct_registers(spark):
    """Coarser-tier registers built by MERGING the 1m tier must equal
    registers computed directly from raw at that tier — bit-for-bit
    (register max is associative over the nested window grid)."""
    import pandas as pd

    from time2feat_spark.operators.approx import hll_partial, hll_tier_rollup

    rng = np.random.default_rng(13)
    n = 6000
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 5 * 3600 * 1000, n), unit="ms"
    )
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "key": rng.choice(["a", "b"], n),
                "ts": ts,
                "user": rng.integers(0, 900, n),
            }
        )
    )

    def wcol(sec):
        return (
            F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / (sec * 1000))
            * (sec * 1000)
        ).cast("long")

    regs_1m = hll_partial(
        df.withColumn("wms", wcol(60)), ["key", "wms"], "user"
    )
    tiers = hll_tier_rollup(
        regs_1m, ["key"], "wms", [("1m", 60), ("1h", 3600), ("1d", 86400)]
    )
    for name, sec in (("1h", 3600), ("1d", 86400)):
        got = {
            (r["key"], r["window_start_ms"], r["bucket"]): r["m"]
            for r in tiers.where(F.col("tier") == name).collect()
        }
        want = {
            (r["key"], r["wms"], r["bucket"]): r["m"]
            for r in hll_partial(
                df.withColumn("wms", wcol(sec)), ["key", "wms"], "user"
            ).collect()
        }
        assert got == want, name


def test_hll_tier_rollup_rejects_tier_not_nested_in_previous(spark):
    """Each tier must be a whole multiple of the tier before it: 3m is a
    multiple of the finest 1m but not of 2m, so the cascade refuses it
    instead of merging 2m windows that straddle 3m boundaries."""
    from time2feat_spark.operators.approx import hll_tier_rollup

    regs = spark.createDataFrame(
        [("a", 0, 0, 1)], "key string, wms long, bucket int, m int"
    )
    with pytest.raises(ValueError, match="3m is not a multiple of 2m"):
        hll_tier_rollup(
            regs, ["key"], "wms", [("1m", 60), ("2m", 120), ("3m", 180)]
        )


def test_unigram_crossentropy_hand_truth(spark):
    import collections

    from time2feat_spark.operators.text import unigram_crossentropy

    corpus = [(1, "a a b"), (2, "a c"), (3, "")]
    out = {r["doc_id"]: r for r in
           unigram_crossentropy(
               spark.createDataFrame(corpus, ["doc_id", "text"])
           ).collect()}
    counts = collections.Counter("a a b a c".split())
    n = 5
    micro = {t: math.floor(abs(-math.log(c / n)) * 1e6 + 0.5)
             for t, c in counts.items()}
    for d, text in corpus[:2]:
        toks = text.split()
        msum = sum(micro[t] for t in toks)
        h = msum / 1e6 / len(toks)
        assert out[d]["n_tokens"] == len(toks)
        assert out[d]["xent"] == pytest.approx(round(round(h, 7), 4), abs=1e-9)
        assert out[d]["ppl"] == pytest.approx(
            round(round(math.exp(h), 7), 4), abs=1e-9)
    assert out[3]["n_tokens"] == 0 and out[3]["xent"] is None
    # common-token doc (1: a,a,b) scores LOWER xent than rare-token doc (2: a,c)?
    # doc1 has 'a' x2 (p=.6) + b (p=.2); doc2 has a (.6) + c (.2):
    # doc1 H = (2*.51+1.61)/3 ≈ 0.88, doc2 H = (.51+1.61)/2 ≈ 1.06
    assert out[1]["xent"] < out[2]["xent"]


def test_pmi_collocations_hand_truth(spark):
    from time2feat_spark.operators.text import pmi_collocations

    # "strong tea" always co-occurs; "the cat" is frequent but independent
    docs = [(i, "strong tea please") for i in range(6)]
    docs += [(100 + i, "the cat and the dog") for i in range(6)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = pmi_collocations(df, k=10, min_count=5).collect()
    got = {r["bigram"]: r for r in rows}
    # bigram totals: 6*2 + 6*4 = 36; unigrams: strong 6, tea 6, the 12...
    import math

    want_st = round(round(math.log(6 * 36 / (6 * 6)), 7), 4)
    assert got["strong tea"]["c_ab"] == 6
    assert got["strong tea"]["pmi"] == pytest.approx(want_st, abs=1e-9)
    # all perfectly-associated pairs tie at ln 6; lexicographic tie-break
    assert rows[0]["bigram"] == "cat and"          # ties strong tea at ln 6
    assert got["cat and"]["pmi"] == got["strong tea"]["pmi"]
    # ...and they all outrank pairs diluted by an independent word
    assert got["strong tea"]["pmi"] > got["the cat"]["pmi"]
    # support floor: nothing below min_count leaks in
    assert all(r["c_ab"] >= 5 for r in rows)


def test_source_kl_divergence_hand_truth(spark):
    import collections

    from time2feat_spark.operators.text import source_kl_divergence

    docs = [
        ("a", "x x y"), ("a", "x y"),        # src a: x3 y2
        ("b", "z z z w"),                      # src b: z3 w1
    ]
    df = spark.createDataFrame(docs, ["source", "text"])
    out = {r["source"]: r for r in source_kl_divergence(df).collect()}

    corpus = collections.Counter("x x y x y z z z w".split())
    n = 9
    for src, toks in (("a", "x x y x y"), ("b", "z z z w")):
        cs = collections.Counter(toks.split())
        ns = sum(cs.values())
        msum = 0
        for t, c in cs.items():
            lr = math.log((c * n) / (ns * corpus[t]))
            msum += c * math.floor(abs(lr) * 1e6 + 0.5) * (1 if lr >= 0 else -1)
        want = round(round(msum / 1e6 / ns, 7), 4)
        assert out[src]["n_tokens"] == ns
        assert out[src]["kl_nats"] == pytest.approx(want, abs=1e-9)
    # disjoint vocabularies: both sources drift strictly away from the mix
    assert out["a"]["kl_nats"] > 0 and out["b"]["kl_nats"] > 0
