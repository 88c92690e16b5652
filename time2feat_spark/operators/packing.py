"""Sequence packing: batch documents into fixed-length training
contexts ("sample packing").

Pre-training consumes fixed-length contexts (e.g. 2k/4k/8k tokens);
feeding one short document per context wastes the remainder as padding.
Packing groups documents so each bin's total length stays under
`max_len`, maximizing fill. Optimal bin packing is NP-hard; the
standard practical algorithm is best-fit-decreasing, which is within
11/9·OPT + 1 bins (classic bin-packing bound) and in practice >95% fill
on natural length distributions.

Scale posture: packing is a GLOBAL optimization, but the standard
distributed practice (and what training shards need anyway) is
partition-local packing — each partition packs its own docs into its
own bins, so the job is one embarrassingly-parallel mapInPandas with
no shuffle; bin ids are made globally unique by offsetting with the
partition id. The
fill-rate loss vs global packing is negligible when partitions hold
thousands of docs (law of large numbers on the length distribution).
"""

from __future__ import annotations

from bisect import bisect_left, insort

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

# partition-local bin ordinals are offset by partition_id * _BIN_STRIDE
# to make ids globally unique without any cross-partition coordination
_BIN_STRIDE = 1 << 40


def pack_lengths(lengths: np.ndarray, max_len: int) -> np.ndarray:
    """Best-fit-decreasing over one partition's doc lengths. Returns the
    0-based bin ordinal per input doc (input order preserved). Raises on
    any length > max_len — truncation/splitting is a tokenizer-stage
    decision this operator must not take silently."""
    if len(lengths) == 0:
        return np.zeros(0, dtype=np.int64)
    if int(lengths.max()) > max_len:
        raise ValueError(
            f"doc of length {int(lengths.max())} exceeds max_len={max_len}; "
            "split or truncate upstream"
        )
    order = np.argsort(-lengths, kind="stable")
    bin_of = np.empty(len(lengths), dtype=np.int64)
    # sorted list of (remaining_capacity, bin_id); best fit = smallest
    # remaining capacity that still holds the doc
    caps: list[tuple[int, int]] = []
    n_bins = 0
    for i in order:
        need = int(lengths[i])
        j = bisect_left(caps, (need, -1))
        if j < len(caps):
            cap, b = caps.pop(j)
            bin_of[i] = b
            if cap - need > 0:
                insort(caps, (cap - need, b))
        else:
            bin_of[i] = n_bins
            if max_len - need > 0:
                insort(caps, (max_len - need, n_bins))
            n_bins += 1
    return bin_of


def pack_sequences(
    df: DataFrame,
    max_len: int,
    id_col: str = "doc_id",
    len_col: str = "n_tok",
) -> DataFrame:
    """Assign every doc a packing bin: (id, length, bin_id, bin_fill).
    Bin ids are globally unique (partition-offset); `bin_fill` is the
    bin's total length, duplicated on each member row so a training
    shard writer can filter under-filled bins without another join.

    It packs whatever partition layout arrives (zero shuffle), so bin
    assignment depends on upstream partitioning."""
    schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType),
            StructField(len_col, LongType()),
            StructField("bin_id", LongType()),
            StructField("bin_fill", LongType()),
            StructField("bin_n_docs", IntegerType()),
        ]
    )
    sel = df.select(id_col, F.col(len_col).cast("long").alias(len_col))

    def run(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        parts = [p for p in iterator if len(p)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        lengths = pdf[len_col].to_numpy()
        bins = pack_lengths(lengths, max_len)
        fill = np.zeros(bins.max() + 1, dtype=np.int64)
        np.add.at(fill, bins, lengths)
        ndocs = np.bincount(bins).astype(np.int32)
        yield pd.DataFrame(
            {
                id_col: pdf[id_col],
                len_col: lengths,
                "bin_id": bins + pid * _BIN_STRIDE,
                "bin_fill": fill[bins],
                "bin_n_docs": ndocs[bins],
            }
        )

    return sel.mapInPandas(run, schema)
