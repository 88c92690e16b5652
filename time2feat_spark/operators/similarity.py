"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k with the dot product as a JVM
expression (F.aggregate over zip_with — stays in whole-stage codegen, no
Python). Scale path: BANDED random-hyperplane LSH — the signature is
`n_bands` independent hashes of `band_bits` sign bits each, and two
vectors are candidates when ANY band matches (multi-table union, the
same recall mechanic as MinHash banding). Candidate generation is a
bucket-equijoin on (band_id, band_hash); exact cosine re-ranks inside
the candidate set.

Round-1 lesson (VERDICT.md): a SINGLE table of AND-ed bits has
vanishing recall (P(match) = p^bits with p < 1); banding flips that to
1-(1-p^bits)^n_bands, which ≈ 1 in the near-dup regime (cos >= 0.9)
while random pairs collide in only ~n_bands/2^band_bits of cases.

Recall/cost calibration (p = 1 - acos(cos)/pi = per-bit agreement):
  cos 0.95, 16 bands x 8 bits: 1-(1-0.899^8)^16  = 0.9996
  cos 0.90, 16 bands x 8 bits: 1-(1-0.856^8)^16  = 0.9956
  random,   16 bands x 8 bits: 1-(1-2^-8)^16     = 0.0607 of pairs
Top-k at LOW similarity (isotropic corpora, neighbors at cos ~0.3) is
information-theoretically not bucketable — there `lsh_topk` needs wide
bands (small band_bits) and degrades toward a partial scan; on real
clustered embeddings the same banding concentrates candidates.

100 TB posture: signatures are one vectorized Arrow matmul per batch
(no per-row Python); queries are broadcast; the only shuffle is the
candidate-set dedup, whose size banding bounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..functions.rounding import round2


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast; ties broken by
    corpus id so results are deterministic."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec")
        )
    )
    sim = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"))
        .crossJoin(q)
        .withColumn(
            "cos_sim",
            round2(cosine(F.col("_cvec"), F.col("_qvec")).cast("double"), 9, 6),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def band_signatures(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
    n_bands: int = 16,
    band_bits: int = 8,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Add `bands` (array<long>, one packed hash per band): sign bits of
    projections onto n_bands*band_bits seeded random hyperplanes. One
    vectorized Arrow matmul per batch — (rows x dim) @ (dim x planes) —
    then a bit-pack reduce; no per-row Python, no shuffle.

    `planes` (dim x n_bands*band_bits) overrides the seeded draw — used
    by the driver queries, where the same (decimal-rounded) plane matrix
    is embedded as literals in the DuckDB oracle so both engines hash
    into identical buckets."""
    if planes is None:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((dim, n_bands * band_bits))
    assert planes.shape == (dim, n_bands * band_bits)
    weights = (1 << np.arange(band_bits, dtype=np.int64))[None, None, :]

    @pandas_udf(ArrayType(LongType()))
    def sig(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        if n == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (mat @ planes > 0).astype(np.int64)
        packed = (bits.reshape(n, n_bands, band_bits) * weights).sum(axis=2)
        return pd.Series(list(packed))

    return df.withColumn("bands", sig(F.col(vec_col)))


def _band_rows(
    df: DataFrame,
    id_cols: list,
    vec_col: str,
    dim: int,
    n_bands: int,
    band_bits: int,
    seed: int,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """(id..., vec, band_id, band_hash) — one row per (vector, band)."""
    sig = band_signatures(df, vec_col, dim, n_bands, band_bits, seed, planes)
    return sig.select(
        *id_cols,
        F.col(vec_col).alias("_vec"),
        F.posexplode("bands").alias("band_id", "band_hash"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_bands: int = 48,
    band_bits: int = 6,
    seed: int = 42,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = union over bands of bucket matches
    (multi-table), exact cosine re-rank. Defaults are tuned WIDE
    (48 bands x 6 bits) for isotropic corpora where useful neighbors sit
    at low cosine; clustered corpora can use far narrower bands."""
    c = _band_rows(
        corpus, [F.col(id_col)], vec_col, dim, n_bands, band_bits, seed, planes
    )
    q = _band_rows(
        queries, [F.col(query_id_col)], vec_col, dim, n_bands, band_bits,
        seed, planes,
    ).select(
        query_id_col, F.col("_vec").alias("_qvec"), "band_id", "band_hash"
    )
    cand = (
        c.join(F.broadcast(q), ["band_id", "band_hash"])
        .withColumn(
            "cos_sim",
            round2(cosine(F.col("_vec"), F.col("_qvec")).cast("double"), 9, 6),
        )
        # a pair can match in many bands: collapse before ranking (the
        # only shuffle, sized by the candidate set, not the corpus)
        .groupBy(query_id_col, id_col)
        .agg(F.first("cos_sim").alias("cos_sim"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def _cell_assign_udf(centroids: np.ndarray, nprobe: int):
    """pandas_udf: nprobe nearest centroid ids per vector (one matmul
    per Arrow batch — scan-side, no shuffle, no per-row Python).

    Ranks by the RAW dot against unit-norm centroids: per row, cosine
    ranking is invariant to dividing by the (positive, constant) row
    norm, and raw dots are exactly what a SQL oracle's
    list_dot_product computes — no normalization rounding between the
    engines."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf(ArrayType(LongType()))
    def assign(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        sims = mat @ c.T
        # stable: exact similarity ties resolve to the LOWER cell id,
        # the same tie-break the SQL oracle uses (dot DESC, cell ASC)
        top = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe].astype(
            np.int64
        )
        return pd.Series(list(top))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: corpus rows live in their single nearest
    cell; each query probes its `nprobe` nearest cells; exact cosine
    re-ranks the probed union. Scan cost ~ nprobe/n_cells of the corpus
    on clustered data — the standard sublinear ANN layout (at rest the
    corpus would be WRITTEN partitioned by cell, making the probe a
    partition-pruned read instead of a filter)."""
    assign1 = _cell_assign_udf(centroids, 1)
    assignp = _cell_assign_udf(centroids, nprobe)
    c = corpus.select(
        F.col(id_col), F.col(vec_col).alias("_cvec"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec"),
            F.explode(assignp(F.col(vec_col))).alias("cell"),
        )
    )
    cand = (
        c.join(q, "cell")
        .withColumn(
            "cos_sim",
            round2(cosine(F.col("_cvec"), F.col("_qvec")).cast("double"), 9, 6),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.9,
    dim: int = 64,
    n_bands: int = 16,
    band_bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded LSH candidates + exact
    cosine verify. At min_cosine >= 0.9 the default banding has recall
    > 0.995 (see module docstring) while touching ~6% of random pairs.
    Returns (id_a, id_b, cos_sim) with id_a < id_b.

    A pair that collides in m bands must pay the exact-cosine verify
    ONCE, not m times: candidates are collapsed with dropDuplicates on
    (id_a, id_b) BEFORE the cosine projection, so the aggregate sits
    below the verify in the physical plan. The banded rows are
    localCheckpoint-ed (eager) for the self-join — materialized once,
    lineage cut, and the blocks are released by the ContextCleaner when
    the result goes out of scope (no unpersist leak across calls in a
    long-lived session)."""
    rows = _band_rows(
        df, [F.col(id_col).alias("id")], vec_col, dim, n_bands, band_bits, seed
    ).localCheckpoint(eager=True)  # self-joined below
    cand = (
        rows.alias("a")
        .join(
            rows.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a._vec").alias("_va"),
            F.col("b._vec").alias("_vb"),
        )
        # collapse multi-band collisions before the (expensive) verify
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.withColumn(
            "cos_sim",
            round2(cosine(F.col("_va"), F.col("_vb")).cast("double"), 9, 6),
        )
        .where(F.col("cos_sim") >= min_cosine)
        .select("id_a", "id_b", "cos_sim")
    )
    return pairs


# ---------------------------------------------------------------------------
# IVF at rest: cell-partitioned layout + partition-pruned probing
# ---------------------------------------------------------------------------

def ivf_write(
    corpus: DataFrame,
    centroids: np.ndarray,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
) -> None:
    """Write the corpus IVF-partitioned: one parquet partition per
    coarse cell (`cell=<id>/` directories). This is the 100 TB layout
    the probe path assumes — `ivf_topk_at_rest` then reads only the
    probed cells via PARTITION PRUNING, so a query touches
    ~nprobe/n_cells of the files instead of filtering a full scan.
    Write cost is one scan + one shuffle on `cell`."""
    assign1 = _cell_assign_udf(centroids, 1)
    (
        corpus.select(
            id_col, vec_col,
            F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
        )
        # co-locate each cell's rows so every partition dir holds few,
        # large files rather than one shard per upstream task
        .repartition("cell")
        .write.mode(mode)
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_topk_at_rest(
    spark,
    path: str,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k against an `ivf_write` layout: the probed cell ids
    become a partition-column IN-filter, which Spark resolves at
    PLANNING time against the directory listing — unprobed cells are
    never opened (check `.explain`: the scan's `PartitionFilters`
    carries `cell IN (...)` and the file count drops accordingly).

    The query side is small by contract (it is broadcast), so the probed
    cells are computed DRIVER-side and applied as a literal `isin` on the
    partition column — guaranteed static pruning, never dependent on
    dynamic partition pruning triggering at runtime."""
    corpus = spark.read.parquet(path)
    assignp = _cell_assign_udf(centroids, nprobe)
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("_qvec"),
            F.explode(assignp(F.col(vec_col))).alias("cell"),
        )
    )
    probed = sorted(
        r["cell"] for r in q.select("cell").distinct().collect()
    )
    cand = (
        corpus.select(F.col(id_col), F.col(vec_col).alias("_cvec"), "cell")
        .where(F.col("cell").isin(probed))
        .join(q, "cell")
        .withColumn(
            "cos_sim",
            round2(cosine(F.col("_cvec"), F.col("_qvec")).cast("double"), 9, 6),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "cos_sim", "rank")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: np.ndarray,
    min_cosine: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embedding space, then deduplicate ONLY within clusters — a vector is
    a semantic duplicate if some lower-id vector in its cluster has
    cosine similarity >= `min_cosine` (keep-lowest-id is the paper's
    "keep one representative per epsilon-ball" rule made deterministic).

    Returns (id, cell, is_dup); filter `~is_dup` for the kept corpus.

    Scale shape: cell assignment is one scan-side Arrow matmul (no
    shuffle); the candidate pair set is the within-cell self-join — the
    whole point of the cluster pre-pass is that this bounds pair
    generation at sum(|cell|^2) instead of N^2, and the cell count is
    chosen so cells fit comfortably in a task (the paper uses 50k
    clusters at web scale). Cross-cell near-dups are deliberately missed
    — that is SemDeDup's documented approximation. The assigned table is
    localCheckpoint'ed (NOT cache()) because it feeds both sides of the
    self-join and the final left join (CLAUDE.md invariant: checkpoint
    blocks are reclaimed by the ContextCleaner; cache() leaks).

    Cross-engine determinism: the dup predicate compares the cosine
    ROUNDED 9->6 (the repo's round_bin double-rounding), so a SQL oracle
    assigning cells against the same centroid literals reproduces
    is_dup exactly."""
    assign1 = _cell_assign_udf(centroids, 1)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        F.element_at(assign1(F.col(vec_col)), 1).alias("cell"),
    ).localCheckpoint(eager=True)
    left = assigned.select(
        F.col(id_col).alias("_lid"), F.col("_v").alias("_lv"), "cell"
    )
    right = assigned.select(
        F.col(id_col).alias("_rid"), F.col("_v").alias("_rv"), "cell"
    )
    sim = round2(cosine(F.col("_lv"), F.col("_rv")).cast("double"), 9, 6)
    dups = (
        left.join(right, "cell")
        .where(F.col("_lid") < F.col("_rid"))
        .where(sim >= F.lit(min_cosine))
        .select(F.col("_rid").alias(id_col))
        .distinct()
        .withColumn("_d", F.lit(True))
    )
    return (
        assigned.join(dups, id_col, "left")
        .select(
            F.col(id_col),
            "cell",
            F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup"),
        )
    )
