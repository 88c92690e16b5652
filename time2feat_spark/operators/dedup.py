"""Deduplication operators for large-scale training-data pipelines.

Shingling/tokenizing/hashing are JVM-side built-ins (whole-stage codegen,
one pass); the per-bit/per-slot reductions of MinHash and SimHash are
single vectorized Arrow UDF passes (num_perm/bit-count JVM expressions
would re-walk the arrays per slot and blow up codegen). No per-row Python.

Scale notes (100 TB posture):
- exact_dedup: one shuffle on the content hash; map-side partial agg
  collapses duplicates before the exchange.
- minhash_lsh: signatures are computed scan-side; the only shuffle is the
  (band_id, band_hash) self-group. Band count tunes recall/cost. Candidate
  verification joins only within buckets (skew-safe: bucket sizes are
  bounded by near-dup cluster sizes, and AQE splits stragglers).
- simhash: one aggregate-free scan; near-dup = hamming distance on int64.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.rounding import round2

MERSENNE = (1 << 61) - 1


def _shingles(text: Column, k: int) -> Column:
    """Character k-shingles as an array of xxhash64 values (JVM-side).
    Guarded: Spark's sequence(1, 0) yields the DESCENDING [1, 0], so a
    text shorter than k needs an explicit empty array."""
    n = F.length(text) - F.lit(k - 1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.xxhash64(text.substr(i, F.lit(k))))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest id.
    Returns (text_hash, keeper_id, dup_count)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def dedup_resolve(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The surviving corpus after exact dedup: keep the smallest-id doc
    of each content group (the usual curation resolve step). One shuffle
    on the content hash; implemented as min-id per hash + semi join so
    the kept rows keep ALL their columns."""
    keepers = (
        df.select(F.md5(F.col(text_col)).alias("_h"), F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keepers.select(id_col), id_col, "left_semi")


def _oph_udf(num_perm: int):
    """Vectorized one-permutation-hashing reducer (Li/Owen/Zhang, NIPS
    2012): scatter-min hashed shingles into num_perm buckets
    (h mod num_perm) with circular densification for empty buckets. One
    Arrow pass over the shingles instead of num_perm passes — the
    classic k-permutation form costs 64x the hashing and blows up
    whole-stage codegen."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    MAXL = np.iinfo(np.int64).max

    @pandas_udf(ArrayType(LongType()))
    def oph(sh: pd.Series) -> pd.Series:
        n = len(sh)
        lens = np.fromiter((len(a) for a in sh), dtype=np.int64, count=n)
        sig = np.full((n, num_perm), MAXL, dtype=np.int64)
        if lens.sum():
            flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in sh])
            row = np.repeat(np.arange(n), lens)
            bucket = flat % num_perm
            np.minimum.at(sig, (row, bucket), flat)
            # circular densification: empty buckets borrow from the left,
            # two passes around so every row with >=1 shingle is total
            for j in range(1, 2 * num_perm):
                col, prev = j % num_perm, (j - 1) % num_perm
                empty = sig[:, col] == MAXL
                sig[empty, col] = sig[empty, prev]
        return pd.Series(list(sig))

    return oph


def _seeded(shingle_hashes: Column, seed: int) -> Column:
    # seed folded into the shingle hash so signatures are a seeded family
    return F.transform(
        shingle_hashes, lambda h: F.xxhash64(F.lit(seed), h)
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    min_jaccard: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs from LSH buckets, verified with exact shingle-set
    Jaccard. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Shingles are generated + hashed ONCE (r3): the distinct shingle-hash
    sets feed both the OPH signature (after the cheap per-hash
    re-seeding) and the exact-Jaccard verify, instead of re-walking
    every substring twice. localCheckpoint, not cache, for the shared
    intermediates: blocks are reclaimed by the ContextCleaner, so
    repeated calls in a long session don't accrete executor storage.
    OPH over the distinct set equals OPH over the multiset (bucket
    minima are set functions), and |distinct seeded| == |distinct raw|,
    so signatures, candidates, and jaccards are unchanged."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(F.col(text_col), shingle_k)).alias("shset"),
    ).localCheckpoint(eager=True)  # shared: signature + both verify sides
    assert num_perm % bands == 0
    r = num_perm // bands
    sig = sh.select(
        "id", _oph_udf(num_perm)(_seeded(F.col("shset"), seed)).alias("minhash")
    )
    band_rows = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_id"),
                F.xxhash64(
                    F.slice(F.col("minhash"), bi * r + 1, r).cast("string")
                ).alias("band_hash"),
            )
            for bi in range(bands)
        ]
    )
    buckets = sig.select("id", F.explode(band_rows).alias("b")).select(
        "id", "b.band_id", "b.band_hash"
    )
    # candidate pairs per bucket via ONE map-side-combinable groupBy
    # instead of a bucket self-join (r6): collect each bucket's ids
    # (sorted, so pair order and output are layout-independent) and emit
    # the i<j combinations with array transforms — one exchange keyed on
    # (band_id, band_hash) replaces two checkpoint scans + a join, and
    # the buckets frame no longer needs its own localCheckpoint. State
    # per bucket is O(|bucket|) and pairs O(|bucket|^2) — exactly the
    # candidate set the join produced; bucket sizes stay bounded by
    # near-dup cluster sizes, the same argument as before.
    ids = F.col("ids")
    combos = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    pairs = (
        buckets.groupBy("band_id", "band_hash")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the (distinct) shingle sets —
    # one array_intersect per pair instead of intersect + union (r6:
    # halves the per-pair array work, bit-identical integer arithmetic);
    # _inter is projected first so the intersect runs once per pair
    return (
        pairs.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shset", "sa"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shset", "sb"), "id_b")
        .withColumn("_inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("_inter")
            / (F.size("sa") + F.size("sb") - F.col("_inter")),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", round2(F.col("jaccard"), 7, 4).alias("jaccard"))
    )


#: ngram_jaccard_pairs refuses inputs above this without allow_full_scan.
NGRAM_ALLPAIRS_MAX_ROWS = 10_000


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
    min_jaccard: float = 0.8,
    allow_full_scan: bool = False,
    max_rows: int = NGRAM_ALLPAIRS_MAX_ROWS,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above a threshold.

    This is an O(n^2) CARTESIAN self-join by construction — it exists as
    the exact *verify stage* on a candidate set that LSH banding has
    already pruned, or for modest fixture inputs. The scale path for
    near-dup discovery over a raw corpus is
    :func:`minhash_near_duplicates`, whose banding bounds the pairs
    actually compared. To keep accidental full-corpus use loud, inputs
    larger than ``max_rows`` raise unless ``allow_full_scan=True``."""
    if not allow_full_scan:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs: input has {n} rows > max_rows="
                f"{max_rows}; this operator is an all-pairs cross join. "
                "Use minhash_near_duplicates for corpus-scale near-dup "
                "discovery, or pass allow_full_scan=True to override."
            )
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(_shingles(F.col(text_col), shingle_k)).alias("shset"),
    )
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.size(F.array_intersect("a.shset", "b.shset"))
                / F.size(F.array_union("a.shset", "b.shset"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", round2(F.col("jaccard"), 7, 4).alias("jaccard"))
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Add a `simhash` int64 column: sign of per-bit votes over whitespace
    token hashes. Tokens are hashed once JVM-side; the bit votes are a
    single vectorized Arrow pass (per-bit JVM aggregate expressions would
    re-walk the token array per bit and blow up codegen).

    hash_family='md5' uses the cross-engine 60-bit md5 prefix hash
    (functions/hashing.py) so a DuckDB oracle can replicate the result
    bit-for-bit; pair it with bits<=60."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    nb = bits

    @pandas_udf(LongType())
    def votes(tok_hashes: pd.Series) -> pd.Series:
        n = len(tok_hashes)
        lens = np.fromiter(
            (len(a) for a in tok_hashes), dtype=np.int64, count=n
        )
        out = np.zeros(n, dtype=np.uint64)
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(a, dtype=np.int64) for a in tok_hashes]
            ).view(np.uint64)
            row = np.repeat(np.arange(n), lens)
            acc = np.zeros((n, nb), dtype=np.int64)
            bitmat = (
                (flat[:, None] >> np.arange(nb, dtype=np.uint64)[None, :])
                & np.uint64(1)
            ).astype(np.int64) * 2 - 1  # votes in {-1, +1}
            np.add.at(acc, row, bitmat)
            pos = (acc > 0).astype(np.uint64)
            out = (pos << np.arange(nb, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        return pd.Series(out.view(np.int64))

    from ..functions.hashing import md5_64

    tok_hash = md5_64 if hash_family == "md5" else F.xxhash64
    toks = F.transform(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: tok_hash(t)
    )
    return df.withColumn("simhash", votes(toks))


def near_duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id)
    for every doc appearing in a pair, cluster_id = min doc id of its
    component — the step between pair generation (minhash/embedding
    near-dups) and canonical-doc selection that curation pipelines
    actually act on (drop all but one doc per CLUSTER, not per pair).

    Min-label propagation: each round every node takes the min of its
    own label and its neighbors' labels; converges in O(component
    diameter) rounds — near-dup components are short chains/cliques, so
    this is 2-4 rounds in practice, each one join + one groupBy.
    Intermediates are localCheckpoint-ed per round (lineage would
    otherwise double every iteration). At 100 TB the edge list is the
    (banding-bounded) pair set, orders of magnitude smaller than the
    corpus."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("nl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nl").alias("nbr_min"))
        )
        new = (
            labels.join(nbr, labels["id"] == nbr["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["label"], F.coalesce(nbr["nbr_min"], labels["label"])
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.select(F.col("id"), F.col("label").alias("_new"))
            .join(labels.select("id", F.col("label").alias("_old")), "id")
            .where(F.col("_new") != F.col("_old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # exhausted max_iter with labels still moving: returning silently
        # would hand back WRONG cluster_ids for any component whose
        # diameter exceeds max_iter. Real near-dup graphs converge in
        # 2-4 rounds, so this is a guard for pathological chains — fail
        # loud, let the caller raise max_iter deliberately.
        raise RuntimeError(
            f"near_duplicate_clusters did not converge in {max_iter} "
            f"rounds ({changed} labels still changing); the pair graph "
            "contains a component with diameter > max_iter — rerun with "
            "a larger max_iter"
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def token_window_dup_frac(
    df: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    window: int = 16,
    min_count: int = 2,
    hash_family: str = "xxhash",
) -> DataFrame:
    """Exact-substring duplication signal at the token level (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" —
    the ExactSubstr criterion, reformulated for a cluster): a doc's
    overlapping `window`-token runs are content-hashed; a run occurring
    >= `min_count` times ANYWHERE in the corpus (other docs or the same
    doc) is duplicated text. Returns per doc:

      n_windows, n_dup_windows, dup_frac = n_dup/n_windows
      (frac NULL when the doc has < `window` tokens).

    Filter on dup_frac (or feed it to quality_filter) the way the paper
    drops duplicated spans before training.

    Scale shape: the paper's suffix array is single-node; the
    distributed equivalent is windowed hashing — hash runs scan-side
    (JVM concat + hash inside whole-stage codegen, no token strings
    leave the scan), then a TWO-LEVEL aggregate: (doc, run-hash)
    occurrence counts first (map-side combined, so a boilerplate run
    repeated millions of times inside one doc collapses before any
    exchange), then per-hash global multiplicities, and the duplicated
    hashes are re-attached with a JOIN — which AQE's skew handling CAN
    split at runtime. (The pre-r6 form tagged multiplicity with a count
    over Window.partitionBy(wh); AQE skew mitigation applies to shuffle
    joins, NOT WindowExec, so one hot run-hash funneled every
    occurrence into a single window task.)

    hash_family='md5' switches to the cross-engine md5_64 family
    (CLAUDE.md: the only hash DuckDB replays) so a SQL oracle can verify
    value-exactly; xxhash64 is the fast default (~3x cheaper)."""
    from ..functions.hashing import md5_64

    toks = F.col(tokens_col)
    n = F.size(toks) - F.lit(window - 1)
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )

    def _h(i):
        gram = F.concat_ws(
            ",",
            F.transform(
                F.slice(toks, i.cast("int"), window),
                lambda x: x.cast("string"),
            ),
        )
        return md5_64(gram) if hash_family == "md5" else F.xxhash64(gram)

    ex = df.select(
        F.col(id_col), F.explode(F.transform(idx, _h)).alias("wh")
    )
    # global multiplicities: ONE hash-keyed aggregate whose map-side
    # partial agg collapses a hot run to one row per input partition
    # (the skew-shrinker WindowExec lacked); only hashes that ARE
    # duplicated survive the filter, so the re-attach below is usually
    # an AQE broadcast join — and when the dup set is large it stays a
    # shuffle join, where AQE skew splitting bounds hot hashes.
    # `ex` is used twice and not checkpointed: an action that reads only
    # doc_id (bench.py's count()) lets the optimizer drop the left join
    # to `per`, which is unique on doc_id, so `ex` is never computed. On
    # bench.py's 15,000-doc table (15.9M windows, local[4] on 4 cores,
    # 3 alternating pairs) that count took 0.68-0.81 s as written and
    # 29.9-34.6 s with `ex.localCheckpoint(eager=True)`; writing every
    # column took 49.5-55.0 s as written and 37.7-46.0 s checkpointed.
    dup_whs = (
        ex.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("wh", F.lit(1).alias("_dup"))
    )
    per = (
        ex.join(dup_whs, "wh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                F.col("_dup").isNotNull().cast("long")
            ).alias("n_dup_windows"),
        )
    )
    frac = round2(
        F.try_divide(F.col("n_dup_windows"), F.col("n_windows")), 7, 4
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            frac.alias("dup_frac"),
        )
    )
