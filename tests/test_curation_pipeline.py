"""End-to-end training-data curation over the documents table: quality
filter -> PII redaction -> exact dedup -> near-dup clustering -> split
-> token packing, chained the way a real pipeline composes the
operators. Asserts cross-stage invariants rather than re-testing each
operator."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from time2feat_spark.operators import dedup as D
from time2feat_spark.operators.packing import pack_sequences
from time2feat_spark.operators.sampling import deterministic_split
from time2feat_spark.operators.text import (
    bpe_ish_token_count,
    quality_filter,
    redact_pii,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def curated(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n0 = docs.count()

    # 1. heuristic quality gate
    kept = quality_filter(docs).where("keep").select("doc_id", "text")
    # 2. PII scrub (training text becomes the redacted column)
    clean = redact_pii(kept).select(
        "doc_id", F.col("text_redacted").alias("text")
    )
    # 3. exact dedup: keep the minimum doc_id per identical content
    surviving = D.dedup_resolve(clean)
    # 4. stable split
    split = deterministic_split(
        surviving, {"train": 0.9, "val": 0.1}
    )
    # 5. pack the train split into 1024-token contexts
    train = split.where("split = 'train'").withColumn(
        "n_tok", bpe_ish_token_count(F.col("text")).cast("long")
    )
    packed = pack_sequences(train, max_len=1024, len_col="n_tok")
    return {
        "n0": n0,
        "docs": docs,
        "kept": kept,
        "surviving": surviving,
        "split": split,
        "train": train,
        "packed": packed,
    }


def test_stages_only_shrink(curated):
    n_kept = curated["kept"].count()
    n_surv = curated["surviving"].count()
    n_split = curated["split"].count()
    assert 0 < n_kept <= curated["n0"]
    assert 0 < n_surv <= n_kept
    assert n_split == n_surv


def test_no_duplicate_content_after_dedup(spark, curated):
    dups = (
        curated["surviving"]
        .groupBy(F.md5("text"))
        .count()
        .where("count > 1")
        .count()
    )
    assert dups == 0


def test_split_partitions_are_disjoint_and_total(curated):
    s = curated["split"].groupBy("split").count().toPandas()
    assert set(s["split"]) <= {"train", "val"}
    assert s["count"].sum() == curated["surviving"].count()


def test_packing_covers_train_exactly_once(curated):
    packed = curated["packed"].toPandas()
    train_ids = {
        r.doc_id for r in curated["train"].select("doc_id").collect()
    }
    assert set(packed.doc_id) == train_ids
    assert packed.doc_id.is_unique
    g = packed.groupby("bin_id").n_tok.sum()
    assert g.max() <= 1024
    assert len(packed) == len(train_ids)
    # short docs, small contexts: sane fill
    assert g.sum() / (len(g) * 1024) > 0.5
