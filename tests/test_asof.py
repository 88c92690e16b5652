"""Gap detection and the bucketized interval join (`operators/asof.py`):
known silences on a small fixture, agreement with the naive range join,
a join plan free of nested loops, and empty or inverted intervals."""

from __future__ import annotations

import numpy as np


def test_detect_gaps(spark):
    """Gap monitoring over a two-series fixture with known silences."""
    import pandas as pd

    from time2feat_spark.operators.asof import detect_gaps

    def s(key, secs):
        return pd.DataFrame(
            {"key": key, "ts": pd.to_datetime(np.array(secs) * 1000, unit="ms")}
        )

    # a: points at 0,10,20, 100, 110, 500 -> gaps 20->100 and 110->500
    # b: regular 0..50 step 10 -> no gaps
    df = spark.createDataFrame(
        pd.concat(
            [s("a", [0, 10, 20, 100, 110, 500]), s("b", range(0, 60, 10))],
            ignore_index=True,
        )
    )
    out = (
        detect_gaps(df, ["key"], "ts", threshold_sec=30)
        .toPandas()
        .sort_values("gap_start_ms")
        .reset_index(drop=True)
    )
    assert list(out.key) == ["a", "a"]
    assert list(out.gap_start_ms) == [20_000, 110_000]
    assert list(out.gap_end_ms) == [100_000, 500_000]
    assert list(out.gap_ms) == [80_000, 390_000]


def test_interval_join_matches_naive_and_avoids_nested_loop(spark):
    """Bucketized range join == the naive cross-join filter, and the
    physical plan is a hash/sort-merge join on (key, bucket), NOT a
    BroadcastNestedLoopJoin."""
    import pandas as pd

    from pyspark.sql import functions as F

    from time2feat_spark.operators.asof import interval_join

    rng = np.random.default_rng(5)
    n_ev, n_iv = 2000, 60
    ev = pd.DataFrame(
        {
            "key": rng.choice(["a", "b"], n_ev),
            "ts": pd.to_datetime(
                rng.integers(0, 10**7, n_ev) * 1000, unit="ms"
            ),
            "v": np.arange(n_ev),
        }
    )
    lo = rng.integers(0, 10**7, n_iv)
    ln = rng.integers(1, 300_000, n_iv)
    iv = pd.DataFrame(
        {
            "key": rng.choice(["a", "b"], n_iv),
            "start": pd.to_datetime(lo * 1000, unit="ms"),
            "end": pd.to_datetime((lo + ln) * 1000, unit="ms"),
            "iv_id": np.arange(n_iv),
        }
    )
    E, I = spark.createDataFrame(ev), spark.createDataFrame(iv)
    got = (
        interval_join(E, I, key_cols=["key"])
        .select("v", "iv_id")
        .toPandas()
        .sort_values(["v", "iv_id"])
        .reset_index(drop=True)
    )
    naive = (
        E.alias("e")
        .join(I.alias("i"), F.col("e.key") == F.col("i.key"))
        .where(
            (F.col("e.ts") >= F.col("i.start")) & (F.col("e.ts") < F.col("i.end"))
        )
        .select("v", "iv_id")
        .toPandas()
        .sort_values(["v", "iv_id"])
        .reset_index(drop=True)
    )
    assert len(got) > 0
    assert got.equals(naive)
    plan = interval_join(E, I, key_cols=["key"])._jdf.queryExecution(
    ).executedPlan().toString()
    assert "NestedLoop" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_interval_join_empty_and_inverted_intervals_are_safe(spark):
    """Regression (r4 review): end <= start intervals match nothing and
    must NOT build a descending bucket sequence (F.sequence(1,0) is
    [1,0]) or explode into span/bucket junk rows."""
    import pandas as pd

    from time2feat_spark.operators.asof import interval_join

    ev = spark.createDataFrame(
        pd.DataFrame(
            {"ts": pd.to_datetime([1_000_000, 2_000_000], unit="ms"),
             "v": [1, 2]}
        )
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                # empty (end == start) and inverted (end << start)
                "start": pd.to_datetime([1_000_000, 9_000_000], unit="ms"),
                "end": pd.to_datetime([1_000_000, 0], unit="ms"),
                "iv_id": [0, 1],
            }
        )
    )
    out = interval_join(ev, iv, bucket_ms=1000)
    assert out.count() == 0
