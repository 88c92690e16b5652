"""Replicates the driver's correctness gate locally: every
queries()/oracle_sql() pair is run side by side at sf0.01 (Spark vs
DuckDB) and compared on row count, column names, and values
(order-insensitive, NaN==NULL, floats must match exactly after the
rounding both sides already apply)."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize like the driver does: sort columns by name, sort rows.

    Type-STRICT (round-1 lesson): no blanket float cast. The driver's value
    hash distinguishes int64 from float64, so a DuckDB HUGEINT (-> float64)
    vs a Spark BIGINT is a real gate failure and must fail here too. The
    only coercions kept are the ones the driver's own ingestion applies
    (decimal.Decimal -> float, None-in-object-column handling).
    """
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    out = {}
    for c in pdf.columns:
        s = pdf[c]
        if s.dtype == object:
            import decimal

            non_null = s.dropna()
            if len(non_null) and all(
                isinstance(v, decimal.Decimal) for v in non_null
            ):
                s = s.astype(np.float64)
            else:
                s = s.astype(str)
        out[c] = s
    res = pd.DataFrame(out)
    return res.sort_values(list(res.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    want = _normalize(con.sql(ORACLES[name]).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        kind = {"i": "i", "u": "i", "b": "i"}  # ints/bools hash alike
        gk = kind.get(g.dtype.kind, g.dtype.kind)
        wk = kind.get(w.dtype.kind, w.dtype.kind)
        assert gk == wk, (
            f"{name}.{c}: dtype kind mismatch {g.dtype} (spark) vs "
            f"{w.dtype} (oracle) — the driver's value hash is type-sensitive"
        )
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(
            w.dtype, np.floating
        ):
            g = g.astype(np.float64)
            w = w.astype(np.float64)
            bad = ~((np.isnan(g) & np.isnan(w)) | (g == w))
            assert not bad.any(), (
                f"{name}.{c}: {bad.sum()} mismatches, first at row "
                f"{np.argmax(bad)}: {g[np.argmax(bad)]} != {w[np.argmax(bad)]}"
            )
        else:
            assert (g == w).all(), f"{name}.{c}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES) - set(ORACLES))
)
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
