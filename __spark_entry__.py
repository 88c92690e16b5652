"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship tier-ladder rollup on the driver's
sf0.001 events table. `queries()` exposes every implemented operator
(engine rollups/gap-fill over events, the canonical sequences ladder,
relational operators, dedup/text/similarity); `oracle_sql()` has the
DuckDB-equivalent SQL for everything SQL-expressible. Both are derived
from `_QUERIES` at the bottom of the file, one line per query.

Conventions shared by both sides (so value hashes match):
- every computed column is aliased identically;
- doubles rounded to 4 decimals (6 for ratios <= 1);
- NaN converted to NULL on the Spark side;
- windows output as epoch-ms bigints (no timestamp-type comparisons);
- ties broken by explicit secondary sort keys.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from time2feat_spark.functions.rounding import round2
from time2feat_spark.operators.rollup import (
    RollupConfig,
    assemble,
    rollup_points,
    rollup_sequences,
)
from time2feat_spark.operators import dedup as D
from time2feat_spark.operators import text as T
from time2feat_spark.operators import similarity as S

SEQ_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
SEQ_ROWS = {"sf0.001": 300, "sf0.01": 1500, "sf0.1": 15000}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one sf table."""
    # window arithmetic and the DuckDB oracle both assume naive==UTC
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _ensure_sequences(sf_base: str) -> str:
    """Deterministic sequences table cached as a single parquet file so the
    DuckDB oracle reads the identical rows. Generated with pyarrow directly
    (no Spark) so either side — queries() or oracle_sql() — can
    materialize it first."""
    path = f"{SEQ_CACHE}/sequences_{sf_base}.parquet"
    if not os.path.exists(path):
        import pyarrow.parquet as pq

        from time2feat_spark.generator import gen_arrow

        os.makedirs(SEQ_CACHE, exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(gen_arrow(0, SEQ_ROWS.get(sf_base, 1500)), tmp)
        os.replace(tmp, path)
    return path


def _sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = os.path.basename(sf_dir.rstrip("/"))
    return spark.read.parquet(_ensure_sequences(base))


def _nn(c):
    """NaN -> NULL (SQL semantics for the value-hash compare)."""
    return F.when(F.isnan(c), F.lit(None)).otherwise(c)


def _r4(c):
    """Double rounding: the inner round(7) collapses the two sides' floats
    onto one value when the true result sits exactly on a .00005 boundary
    (common with 2-decimal source data), so the outer round(4) agrees."""
    return round2(_nn(c), 7, 4)


def _r2(c):
    """Same trick for large sums: inner 5, outer 2."""
    return round2(_nn(c), 5, 2)


# --------------------------------------------------------------------------
# engine rollups over events
# --------------------------------------------------------------------------

_EV_WINDOW_SQL = """
    SELECT event_type,
           CAST(floor(epoch_ms(ts) / {ms}) AS BIGINT) * {ms} AS window_ms,
           epoch_ms(ts) AS tms, value
    FROM events
"""


def _events_rollup(spark, sf_dir, tier_name, tier_sec, key="event_type",
                   gapfill=None, features=None):
    cfg = RollupConfig(
        tiers=[(tier_name, tier_sec)],
        include_raw=False,
        compress=False,
        gapfill=gapfill,
        features=features if features is not None else [
            "variance", "std", "median", "q10", "q90", "root_mean_square",
            "mean_abs_change", "absolute_sum_of_changes", "autocorr_lag1",
            "count_above_mean", "count_below_mean", "linear_trend_slope",
            "skewness", "kurtosis", "mean_change",
        ],
    )
    ev = _t(spark, sf_dir, "events")
    return rollup_points(ev, [key], "ts", "value", cfg)


def q_rollup_1h_basic(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1h", 3600, features=[])
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("sum")).alias("sum_v"),
        _r4(F.col("min")).alias("min_v"),
        _r4(F.col("max")).alias("max_v"),
        _r4(F.col("mean")).alias("mean_v"),
    )


SQL_ROLLUP_1H_BASIC = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=3600000)})
SELECT event_type, window_ms, count(*) AS count,
       round(round(sum(value), 7), 4) AS sum_v,
       round(round(min(value), 7), 4) AS min_v,
       round(round(max(value), 7), 4) AS max_v,
       round(round(avg(value), 7), 4) AS mean_v
FROM w GROUP BY event_type, window_ms
"""


def q_rollup_1d_dispersion(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1d", 86400)
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("feat_std")).alias("std_v"),
        _r4(F.col("feat_median")).alias("median_v"),
        _r4(F.col("feat_q10")).alias("q10_v"),
        _r4(F.col("feat_q90")).alias("q90_v"),
        _r4(F.col("feat_root_mean_square")).alias("rms_v"),
    )


SQL_ROLLUP_1D_DISPERSION = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)})
SELECT event_type, window_ms, count(*) AS count,
       round(round(stddev_pop(value), 7), 4) AS std_v,
       round(round(median(value), 7), 4) AS median_v,
       round(round(quantile_cont(value, 0.1), 7), 4) AS q10_v,
       round(round(quantile_cont(value, 0.9), 7), 4) AS q90_v,
       round(round(sqrt(avg(value * value)), 7), 4) AS rms_v
FROM w GROUP BY event_type, window_ms
"""


def q_rollup_1d_shape(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1d", 86400)
    return r.where(F.col("count") >= 4).select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("feat_skewness")).alias("skew_v"),
        _r4(F.col("feat_kurtosis")).alias("kurt_v"),
    )


SQL_ROLLUP_1D_SHAPE = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)})
SELECT event_type, window_ms, count(*) AS count,
       round(round(skewness(value), 7), 4) AS skew_v,
       round(round(kurtosis(value), 7), 4) AS kurt_v
FROM w GROUP BY event_type, window_ms
HAVING count(*) >= 4
"""


def q_rollup_1d_change(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1d", 86400)
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("feat_mean_abs_change")).alias("mac_v"),
        _r4(F.col("feat_absolute_sum_of_changes")).alias("asc_v"),
        _r4(F.col("feat_mean_change")).alias("mc_v"),
    )


SQL_ROLLUP_1D_CHANGE = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)}),
d AS (
  SELECT event_type, window_ms, value, tms,
         value - lag(value) OVER (PARTITION BY event_type, window_ms
                                  ORDER BY tms, value) AS dv,
         first_value(value) OVER (PARTITION BY event_type, window_ms
                                  ORDER BY tms, value) AS first_v,
         last_value(value) OVER (PARTITION BY event_type, window_ms
                                 ORDER BY tms, value
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v
  FROM w)
SELECT event_type, window_ms, count(*) AS count,
       round(round(avg(abs(dv)), 7), 4) AS mac_v,
       round(round(coalesce(sum(abs(dv)), 0), 7), 4) AS asc_v,
       CASE WHEN count(*) > 1
            THEN round(round((max(last_v) - max(first_v)) / (count(*) - 1), 7), 4) END AS mc_v
FROM d GROUP BY event_type, window_ms
"""


def q_rollup_1d_autocorr(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1d", 86400)
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("feat_autocorr_lag1")).alias("ac1_v"),
    )


SQL_ROLLUP_1D_AUTOCORR = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)}),
l AS (
  SELECT event_type, window_ms, value,
         lead(value) OVER (PARTITION BY event_type, window_ms
                           ORDER BY tms, value) AS nxt
  FROM w),
m AS (
  SELECT event_type, window_ms, avg(value) AS mu, var_pop(value) AS v,
         count(*) AS n
  FROM w GROUP BY event_type, window_ms),
s AS (
  SELECT l.event_type, l.window_ms,
         sum((l.value - m.mu) * (l.nxt - m.mu)) AS num
  FROM l JOIN m USING (event_type, window_ms)
  WHERE l.nxt IS NOT NULL
  GROUP BY l.event_type, l.window_ms)
SELECT m.event_type, m.window_ms, m.n AS count,
       CASE WHEN m.n > 1 AND m.v > 0
            THEN round(round(s.num / ((m.n - 1) * m.v), 7), 4) END AS ac1_v
FROM m LEFT JOIN s USING (event_type, window_ms)
"""


def q_rollup_1d_mean_counts(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1d", 86400)
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        F.col("feat_count_above_mean").cast("long").alias("n_above"),
        F.col("feat_count_below_mean").cast("long").alias("n_below"),
    )


SQL_ROLLUP_1D_MEAN_COUNTS = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)}),
m AS (SELECT event_type, window_ms, avg(value) AS mu FROM w GROUP BY 1, 2)
SELECT w.event_type, w.window_ms, count(*) AS count,
       -- CAST: DuckDB sum(int) is HUGEINT (float64 in pandas); Spark emits
       -- BIGINT and the driver's value hash is type-sensitive
       CAST(sum(CASE WHEN value > mu THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(sum(CASE WHEN value < mu THEN 1 ELSE 0 END) AS BIGINT) AS n_below
FROM w JOIN m USING (event_type, window_ms)
GROUP BY w.event_type, w.window_ms
"""


def q_rollup_1d_trend(spark, sf_dir):
    r = _events_rollup(spark, sf_dir, "1d", 86400)
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("feat_linear_trend_slope")).alias("slope_v"),
    )


SQL_ROLLUP_1D_TREND = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)}),
l AS (
  SELECT event_type, window_ms, value,
         CAST(row_number() OVER (PARTITION BY event_type, window_ms
                                 ORDER BY tms, value) - 1 AS DOUBLE) AS rn
  FROM w)
SELECT event_type, window_ms, count(*) AS count,
       CASE WHEN count(*) > 1 THEN round(round(regr_slope(value, rn), 7), 4) END AS slope_v
FROM l GROUP BY event_type, window_ms
"""


def q_gapfill_locf_1h(spark, sf_dir):
    r = _events_rollup(
        spark, sf_dir, "1h", 3600, gapfill=("locf", 60_000), features=[]
    )
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("mean")).alias("mean_v"),
        "fill_method",
    )


SQL_GAPFILL_LOCF_1H = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=3600000)}),
b AS (
  SELECT event_type, window_ms, min(tms) AS lo, max(tms) AS hi
  FROM w GROUP BY 1, 2),
grid AS (
  SELECT b.event_type, b.window_ms, g.g
  FROM b, LATERAL (
    SELECT unnest(generate_series(
      CAST(ceil(b.lo / 60000.0) AS BIGINT) * 60000,
      CAST(floor(b.hi / 60000.0) AS BIGINT) * 60000, 60000)) AS g) AS g),
filled AS (
  SELECT grid.event_type, grid.window_ms, grid.g,
         max_by(w.value, w.tms) AS v
  FROM grid JOIN w
    ON w.event_type = grid.event_type AND w.window_ms = grid.window_ms
   AND w.tms <= grid.g
  GROUP BY grid.event_type, grid.window_ms, grid.g)
SELECT event_type, window_ms, count(*) AS count,
       round(round(avg(v), 7), 4) AS mean_v, 'locf' AS fill_method
FROM filled GROUP BY event_type, window_ms
"""


def q_gapfill_linear_1h(spark, sf_dir):
    r = _events_rollup(
        spark, sf_dir, "1h", 3600, gapfill=("linear", 60_000), features=[]
    )
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("mean")).alias("mean_v"),
        "fill_method",
    )


SQL_GAPFILL_LINEAR_1H = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=3600000)}),
b AS (
  SELECT event_type, window_ms, min(tms) AS lo, max(tms) AS hi
  FROM w GROUP BY 1, 2),
grid AS (
  SELECT b.event_type, b.window_ms, g.g
  FROM b, LATERAL (
    SELECT unnest(generate_series(
      CAST(ceil(b.lo / 60000.0) AS BIGINT) * 60000,
      CAST(floor(b.hi / 60000.0) AS BIGINT) * 60000, 60000)) AS g) AS g),
brackets AS (
  SELECT grid.event_type, grid.window_ms, grid.g,
         max_by(CASE WHEN w.tms <= grid.g THEN w.value END,
                CASE WHEN w.tms <= grid.g THEN w.tms END) AS pv,
         max(CASE WHEN w.tms <= grid.g THEN w.tms END) AS pt,
         min_by(CASE WHEN w.tms >= grid.g THEN w.value END,
                CASE WHEN w.tms >= grid.g THEN w.tms END) AS nv,
         min(CASE WHEN w.tms >= grid.g THEN w.tms END) AS nt
  FROM grid JOIN w
    ON w.event_type = grid.event_type AND w.window_ms = grid.window_ms
  GROUP BY grid.event_type, grid.window_ms, grid.g),
filled AS (
  SELECT event_type, window_ms, g,
         CASE WHEN nt = pt THEN pv
              ELSE pv + (nv - pv) / (nt - pt) * (g - pt) END AS v
  FROM brackets)
SELECT event_type, window_ms, count(*) AS count,
       round(round(avg(v), 7), 4) AS mean_v, 'linear' AS fill_method
FROM filled GROUP BY event_type, window_ms
"""


# --------------------------------------------------------------------------
# canonical sequences ladder (token table, BASELINE.json input_hint)
# --------------------------------------------------------------------------

_SEQ_SQL = """
    SELECT doc_id,
           unnest(tokens) AS v,
           generate_subscripts(tokens, 1) - 1 AS k
    FROM read_parquet('{path}')
"""


def q_seq_1m_basic(spark, sf_dir):
    seq = _sequences(spark, sf_dir)
    cfg = RollupConfig(tiers=[("1m", 60)], include_raw=False, compress=False,
                       features=["std", "median"])
    r = rollup_sequences(seq, cfg)
    return r.select(
        "doc_id",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        F.col("min").cast("long").alias("min_v"),
        F.col("max").cast("long").alias("max_v"),
        _r4(F.col("mean")).alias("mean_v"),
        _r4(F.col("feat_std")).alias("std_v"),
        _r4(F.col("feat_median")).alias("median_v"),
    )


def sql_seq_1m_basic(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH pts AS ({_SEQ_SQL.format(path=path)})
SELECT doc_id,
       1704067200000 + (k // 60) * 60000 AS window_ms,
       count(*) AS count,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       round(round(avg(CAST(v AS DOUBLE)), 7), 4) AS mean_v,
       round(round(stddev_pop(CAST(v AS DOUBLE)), 7), 4) AS std_v,
       round(round(median(CAST(v AS DOUBLE)), 7), 4) AS median_v
FROM pts GROUP BY doc_id, window_ms
"""


def q_seq_1h_energy(spark, sf_dir):
    seq = _sequences(spark, sf_dir)
    cfg = RollupConfig(tiers=[("1h", 3600)], include_raw=False, compress=False,
                       features=["root_mean_square", "mean_abs_change",
                                 "count_above_mean"])
    r = rollup_sequences(seq, cfg)
    return r.select(
        "doc_id",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r4(F.col("feat_root_mean_square")).alias("rms_v"),
        _r4(F.col("feat_mean_abs_change")).alias("mac_v"),
        F.col("feat_count_above_mean").cast("long").alias("n_above"),
    )


def sql_seq_1h_energy(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH pts AS ({_SEQ_SQL.format(path=path)}),
w AS (
  SELECT doc_id, 1704067200000 + (k // 3600) * 3600000 AS window_ms,
         CAST(v AS DOUBLE) AS v, k
  FROM pts),
m AS (SELECT doc_id, window_ms, avg(v) AS mu FROM w GROUP BY 1, 2),
d AS (
  SELECT doc_id, window_ms, v, mu,
         v - lag(v) OVER (PARTITION BY doc_id, window_ms ORDER BY k) AS dv
  FROM w JOIN m USING (doc_id, window_ms))
SELECT doc_id, window_ms, count(*) AS count,
       round(round(sqrt(avg(v * v)), 7), 4) AS rms_v,
       round(round(avg(abs(dv)), 7), 4) AS mac_v,
       CAST(sum(CASE WHEN v > mu THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM d GROUP BY doc_id, window_ms
"""


# --------------------------------------------------------------------------
# relational operators (SURVEY.md §2.2-2.8) over the TPC-H-ish tables
# --------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation (A-family; pushdown + partial agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r2(F.sum("l_quantity")).alias("sum_qty"),
            _r2(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("sum_disc_price"),
            _r4(F.avg("l_quantity")).alias("avg_qty"),
            _r4(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(round(sum(l_quantity), 5), 2) AS sum_qty,
       round(round(sum(l_extendedprice), 5), 2) AS sum_base_price,
       round(round(sum(l_extendedprice * (1 - l_discount)), 5), 2) AS sum_disc_price,
       round(round(avg(l_quantity), 7), 4) AS avg_qty,
       round(round(avg(l_discount), 7), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    """Broadcast join chain lineitem ⋈ supplier ⋈ nation (J1/J3)."""
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
        .groupBy("n_name")
        .agg(
            _r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_REVENUE_BY_NATION = """
SELECT n_name,
       round(round(sum(l_extendedprice * (1 - l_discount)), 5), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


def q_customers_with_orders(spark, sf_dir):
    """Semi join (P7: label rows selection)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_nationkey")
    )


SQL_CUSTOMERS_WITH_ORDERS = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
"""


def q_customers_without_orders(spark, sf_dir):
    """Anti join (U2: index complement at selection.py:33)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_nationkey")
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_union_order_slices(spark, sf_dir):
    """Union-all of tagged slices (U1: extractor.py:83,168 concat)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 400000).withColumn(
        "slice", F.lit("hi")
    )
    lo = o.where(F.col("o_totalprice") < 1000).withColumn("slice", F.lit("lo"))
    return hi.unionByName(lo).select("slice", "o_orderkey", "o_totalprice")


SQL_UNION_ORDER_SLICES = """
SELECT 'hi' AS slice, o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT 'lo' AS slice, o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 1000
"""


def q_top_orders(spark, sf_dir):
    """Top-k with deterministic tie-break (T1/T3)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


SQL_TOP_ORDERS = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def q_order_rank_per_customer(spark, sf_dir):
    """Window ranking (§2.5; T1 alternative formulation)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
    )


SQL_ORDER_RANK_PER_CUSTOMER = """
SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
"""


def q_column_profile(spark, sf_dir):
    """Column-wise cleaning profile (P2-P5: NaN/constant/variance filters)
    in ONE aggregation pass over lineitem (a single scan computes every
    column's profile; stack() unpivots the 1-row result)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        bad = F.col(c).isNull() | F.isnan(c)
        aggs += [
            F.count(F.when(bad, 1)).alias(f"bad__{c}"),
            F.count_distinct(F.col(c)).alias(f"nd__{c}"),
            F.var_pop(c).alias(f"var__{c}"),
        ]
    row = li.agg(*aggs)
    stack_args = ", ".join(f"'{c}', bad__{c}, nd__{c}, var__{c}" for c in cols)
    out = row.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, n_bad, n_distinct, var_raw)"
    )
    return out.select(
        "col_name", "n_bad", "n_distinct",
        _r4(F.col("var_raw")).alias("var_pop_v"),
    )


SQL_COLUMN_PROFILE = """
SELECT 'l_quantity' AS col_name,
       CAST(sum(CASE WHEN l_quantity IS NULL OR isnan(l_quantity) THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
       count(DISTINCT l_quantity) AS n_distinct,
       round(round(var_pop(l_quantity), 7), 4) AS var_pop_v FROM lineitem
UNION ALL
SELECT 'l_extendedprice',
       CAST(sum(CASE WHEN l_extendedprice IS NULL OR isnan(l_extendedprice) THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT l_extendedprice), round(round(var_pop(l_extendedprice), 7), 4) FROM lineitem
UNION ALL
SELECT 'l_discount',
       CAST(sum(CASE WHEN l_discount IS NULL OR isnan(l_discount) THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT l_discount), round(round(var_pop(l_discount), 7), 4) FROM lineitem
UNION ALL
SELECT 'l_tax',
       CAST(sum(CASE WHEN l_tax IS NULL OR isnan(l_tax) THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT l_tax), round(round(var_pop(l_tax), 7), 4) FROM lineitem
"""


def q_zscore_by_type(spark, sf_dir):
    """Per-group standardization (F4: clustering.py:43-48 semantics)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    mu = F.avg("value").over(w)
    sd = F.stddev_pop("value").over(w)
    return ev.select(
        "event_id",
        "event_type",
        _r4((F.col("value") - mu) / sd).alias("zscore"),
    )


SQL_ZSCORE_BY_TYPE = """
SELECT event_id, event_type,
       round(round((value - avg(value) OVER (PARTITION BY event_type))
             / stddev_pop(value) OVER (PARTITION BY event_type), 7), 4) AS zscore
FROM events
"""


def q_distinct_counts(spark, sf_dir):
    """Distinct aggregates (A7: len(set(y)) at demo.py:30)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count_distinct("event_type").alias("n_types"),
        F.count_distinct("user_id").alias("n_users"),
        F.max(F.length("props")).alias("max_props_len"),
    )


SQL_DISTINCT_COUNTS = """
SELECT count(DISTINCT event_type) AS n_types,
       count(DISTINCT user_id) AS n_users,
       max(length(props)) AS max_props_len
FROM events
"""


# --------------------------------------------------------------------------
# dedup / text / similarity (training-data pipeline ops)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return D.exact_dedup(d)


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def q_dedup_resolve(spark, sf_dir):
    """Surviving corpus after exact dedup (keep min doc_id per content)."""
    d = _t(spark, sf_dir, "documents")
    return D.dedup_resolve(d).select("doc_id", F.length("text").alias("n_chars"))


SQL_DEDUP_RESOLVE = """
SELECT doc_id, length(text) AS n_chars FROM documents
WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
"""


def q_token_topk(spark, sf_dir):
    """Heavy hitters over the canonical token payload: the 3 most
    frequent tokens per doc (count desc, token asc tie-break) — plain
    explode + groupBy + window, all JVM."""
    seq = _sequences(spark, sf_dir).where(F.col("doc_id") < "doc_00000200")
    tok = seq.select("doc_id", F.explode("tokens").alias("token"))
    counted = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("token"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", F.col("token").cast("long").alias("token"), "n")
    )


def sql_token_topk(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH pts AS ({_SEQ_SQL.format(path=path)}),
c AS (
  SELECT doc_id, CAST(v AS BIGINT) AS token, count(*) AS n
  FROM pts WHERE doc_id < 'doc_00000200' GROUP BY 1, 2)
SELECT doc_id, rk, token, n FROM (
  SELECT doc_id, token, n,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY n DESC, token) AS INT) AS rk
  FROM c) WHERE rk <= 3
"""


def q_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        T.bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNTS = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\S+')) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
FROM documents
"""


def q_text_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.quality_features(d).select(
        "doc_id", "q_n_chars", "q_n_tokens", "q_punct_ratio",
        "q_digit_ratio", "q_upper_ratio", "q_stopword_ratio",
        "q_mean_word_len",
    )


SQL_TEXT_QUALITY = r"""
SELECT doc_id,
       length(text) AS q_n_chars,
       len(regexp_extract_all(text, '\S+')) AS q_n_tokens,
       round(round(len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text), 7), 4) AS q_punct_ratio,
       round(round(len(regexp_extract_all(text, '[0-9]')) * 1.0 / length(text), 7), 4) AS q_digit_ratio,
       round(round(len(regexp_extract_all(text, '[A-Z]')) * 1.0 / length(text), 7), 4) AS q_upper_ratio,
       round(round(len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b')) * 1.0
             / len(regexp_extract_all(text, '\S+')), 7), 4) AS q_stopword_ratio,
       round(round(len(regexp_extract_all(text, '\S')) * 1.0
             / len(regexp_extract_all(text, '\S+')), 7), 4) AS q_mean_word_len
FROM documents
"""


def q_quality_filter(spark, sf_dir):
    """C4/Gopher-style heuristic filter chain: keep + first-failing-rule
    per doc (training-data curation stage)."""
    d = _t(spark, sf_dir, "documents")
    return T.quality_filter(d).select("doc_id", "keep", "drop_reason")


_QF_RULES_SQL = [
    ("min_chars", "q_n_chars >= 32"),
    ("min_tokens", "q_n_tokens >= 8"),
    ("max_punct", "q_punct_ratio IS NULL OR q_punct_ratio <= 0.2"),
    ("max_digit", "q_digit_ratio IS NULL OR q_digit_ratio <= 0.3"),
    ("mean_word_len", "q_mean_word_len BETWEEN 2 AND 12"),
]

SQL_QUALITY_FILTER = f"""
WITH q AS ({SQL_TEXT_QUALITY})
SELECT doc_id,
       ({" AND ".join(f"({e})" for _, e in _QF_RULES_SQL)}) AS keep,
       CASE {" ".join(f"WHEN NOT ({e}) THEN '{n}'" for n, e in _QF_RULES_SQL)}
       END AS drop_reason
FROM q
"""


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.lang_id(d).select("doc_id", "lang_pred", "lang_score")


def _sql_lang_id() -> str:
    exprs = []
    for code, words in sorted(T.LANG_MARKERS.items()):
        pat = r"\b(" + "|".join(words) + r")\b"
        exprs.append(f"len(regexp_extract_all(lower(text), '{pat}')) AS s_{code}")
    scores = ", ".join(exprs)
    langs = sorted(T.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{c}" for c in langs) + ")"
    pick = "CASE " + " ".join(
        f"WHEN s_{c} = {best} THEN '{c}'" for c in langs
    ) + " END"
    return f"""
WITH s AS (SELECT doc_id, {scores} FROM documents)
SELECT doc_id,
       CASE WHEN {best} > 0 THEN {pick} ELSE 'und' END AS lang_pred,
       CAST({best} AS INT) AS lang_score
FROM s
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.fingerprint(d).select("doc_id", "fingerprint")


SQL_FINGERPRINT = r"""
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


def q_embedding_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(emb, queries, k=10)


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 3),
sims AS (
  SELECT q.query_id, e.vec_id,
         round(round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))), 9), 6) AS cos_sim
  FROM embeddings e CROSS JOIN q)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM sims) WHERE rank <= 10
"""


def q_embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        _r4(S.norm(F.col("embedding").cast("array<double>"))).alias("l2_norm"),
    )


SQL_EMBEDDING_NORMS = """
SELECT vec_id,
       round(round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 7), 4) AS l2_norm
FROM embeddings
"""


def q_minhash_near_dups(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified. Oracle-backed:
    at min_jaccard=0.5 the banding's recall for qualifying pairs is
    ~1 (8 bands x 8 rows, threshold (1/8)^(1/8) = 0.77; every pair above
    0.5 in this corpus is a planted dup at j >= 0.93), so the LSH output
    equals the exact all-pairs answer the SQL computes."""
    d = _t(spark, sf_dir, "documents")
    # one row group is one scan task; spread, 3.24 s falls to 2.15 s (sf0.1, local[4])
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return D.minhash_near_duplicates(d, min_jaccard=0.5)


# Jaccard over distinct raw k-grams == Jaccard over distinct xxhash64'd
# k-grams (the engine side): set sizes agree absent a 64-bit collision.
_SQL_SHINGLE_JACCARD = """
WITH d AS (SELECT doc_id, text FROM documents {doc_filter}),
sh AS (
  SELECT d.doc_id, substr(d.text, g.i, {k}) AS s
  FROM d, LATERAL (
    SELECT unnest(generate_series(1, length(d.text) - {k1})) AS i) g(i)
  WHERE length(d.text) >= {k}),
ds AS (SELECT DISTINCT doc_id, s FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(round(i * 1.0 / (na.n + nb.n - i), 7), 4) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE i * 1.0 / (na.n + nb.n - i) >= {minj}
"""

SQL_MINHASH_NEAR_DUPS = _SQL_SHINGLE_JACCARD.format(
    doc_filter="", k=5, k1=4, minj=0.5
)


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the near-dup pair graph: (doc_id,
    cluster_id = min id of the component) — the cluster-granular resolve
    step between LSH pair generation and canonical-doc selection.
    Oracle: DuckDB recursive-CTE transitive closure over the same
    exact-Jaccard pair set."""
    d = _t(spark, sf_dir, "documents")
    # one row group is one scan task; spread, 4.05 s falls to 3.14 s (sf0.1, local[4])
    d = d.repartition(spark.sparkContext.defaultParallelism)
    pairs = D.minhash_near_duplicates(d, min_jaccard=0.5)
    return D.near_duplicate_clusters(pairs)


SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE p AS ({SQL_MINHASH_NEAR_DUPS}),
edges AS (SELECT id_a AS src, id_b AS dst FROM p
          UNION SELECT id_b, id_a FROM p),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""


def q_simhash(spark, sf_dir):
    """SimHash with the cross-engine md5 hash family (60 bits) so the
    DuckDB oracle replicates the bit votes exactly."""
    d = _t(spark, sf_dir, "documents")
    return D.simhash(d, bits=60, hash_family="md5").select(
        "doc_id", "simhash"
    )


SQL_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
  FROM documents),
h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS hv
  FROM toks),
v AS (
  SELECT doc_id, b.b AS bit,
         sum(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h, LATERAL (SELECT unnest(generate_series(0, 59)) AS b) b(b)
  GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM v GROUP BY doc_id
"""


def q_winnowing_fingerprints(spark, sf_dir):
    """Winnowing fingerprint count per doc, md5 hash family for oracle
    parity (k=8 grams, window=4 minima, distinct)."""
    d = _t(spark, sf_dir, "documents")
    return T.winnowing_fingerprints(d, hash_family="md5").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("n_fingerprints"))


SQL_WINNOWING = """
WITH g AS (
  SELECT doc_id, i.i AS pos,
         CAST(('0x' || substr(md5(substr(text, i.i, 8)), 1, 15)) AS BIGINT) AS hv,
         length(text) - 7 AS ng
  FROM documents, LATERAL (
    SELECT unnest(generate_series(1, length(text) - 7)) AS i) i(i)
  WHERE length(text) >= 8),
w AS (
  SELECT doc_id, pos, ng,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mn
  FROM g)
SELECT doc_id, count(DISTINCT mn) AS n_fingerprints
FROM w WHERE pos <= ng - 3 GROUP BY doc_id
"""


# --- ANN queries, value-exact oracles (round-3 VERDICT item 3) -----------
# Both approximate paths are made SQL-replicable by sharing their random
# structure across engines: the LSH hyperplanes are a seeded,
# decimal-rounded matrix embedded as literals in the oracle; the IVF
# centroids are trained by a deterministic Spark-free numpy k-means over
# the (sorted) parquet corpus and embedded the same way. The queries stay
# genuinely approximate (bucketed candidates / nprobe<cells probing) —
# only the randomness is pinned, exactly as a production run would pin
# its trained quantizer.

_LSH_BANDS, _LSH_BITS, _EMB_DIM = 24, 5, 64


def _lsh_planes():
    """Seeded hyperplanes rounded to 4 decimals: n/10^4 parses to the
    bit-identical double in DuckDB, so both engines compute sign bits of
    the same planes."""
    import numpy as np

    rng = np.random.default_rng(42)
    return np.round(
        rng.standard_normal((_EMB_DIM, _LSH_BANDS * _LSH_BITS)), 4
    )


def _emb_double(emb):
    # float32 storage; widen once so every product matches the oracle's
    # CAST(embedding AS DOUBLE[]) arithmetic exactly
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def q_lsh_topk(spark, sf_dir):
    """Banded-hyperplane LSH top-k (multi-table union of candidates,
    exact cosine re-rank) — value-exact oracle: the DuckDB side rebuilds
    the same band hashes from the shared plane literals."""
    emb = _emb_double(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.lsh_topk(
        emb, queries, k=10,
        n_bands=_LSH_BANDS, band_bits=_LSH_BITS, planes=_lsh_planes(),
    )


def _sql_lsh_topk() -> str:
    planes = _lsh_planes()
    rows = []
    for p in range(planes.shape[1]):
        band, bit = divmod(p, _LSH_BITS)
        vec = "[" + ",".join(f"{v:.4f}" for v in planes[:, p]) + "]"
        rows.append(f"({band},{bit},{vec}::DOUBLE[])")
    values = ",\n".join(rows)
    return f"""
WITH planes(band_id, bit, pv) AS (VALUES {values}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
cb AS (SELECT vec_id, band_id,
              sum(CASE WHEN list_dot_product(ev, pv) > 0
                       THEN 1 << bit ELSE 0 END) AS h
       FROM e CROSS JOIN planes GROUP BY vec_id, band_id),
qb AS (SELECT query_id, band_id,
              sum(CASE WHEN list_dot_product(qv, pv) > 0
                       THEN 1 << bit ELSE 0 END) AS h
       FROM q CROSS JOIN planes GROUP BY query_id, band_id),
cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
         FROM qb JOIN cb ON qb.band_id = cb.band_id AND qb.h = cb.h),
sims AS (SELECT c.query_id, c.vec_id,
                round(round(list_dot_product(e.ev, q.qv)
                      / (sqrt(list_dot_product(e.ev, e.ev))
                         * sqrt(list_dot_product(q.qv, q.qv))), 9), 6)
                  AS cos_sim
         FROM cand c JOIN e ON e.vec_id = c.vec_id
                     JOIN q ON q.query_id = c.query_id)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM sims) WHERE rank <= 10
"""


_IVF_CELLS, _IVF_NPROBE = 16, 4


def _ivf_cents(sf_dir: str, _cache: dict = {}):
    """Deterministic Spark-free IVF quantizer: numpy k-means (seeded)
    over the first 2000 vec_id-sorted unit vectors of the corpus — both
    the Spark query and the SQL oracle derive from the same parquet, so
    the trained centroids are bit-identical on both sides. Memoized per
    sf_dir (oracle_sql() and repeated query calls share the training)."""
    if sf_dir in _cache:
        return _cache[sf_dir]
    import numpy as np
    import pyarrow.parquet as pq

    from time2feat_spark.operators.clustering import kmeans

    t = (
        pq.read_table(
            f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
        )
        .to_pandas()
        .sort_values("vec_id")
    )
    X = np.vstack(
        [np.asarray(v, dtype=np.float64) for v in t["embedding"]]
    )[:2000]
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    centers, _ = kmeans(X, _IVF_CELLS, seed=42, n_init=3)
    _cache[sf_dir] = centers
    return centers


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (coarse k-means quantizer, nprobe=4 of 16
    cells) — value-exact oracle: the DuckDB side repeats the cell
    assignment and probing against the same centroid literals (recall on
    clustered data additionally proven in
    tests/test_similarity.py::test_ivf_topk_recall_on_clustered_corpus)."""
    emb = _emb_double(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = _ivf_cents(sf_dir)
    return S.ivf_topk(emb, queries, cents, k=10, nprobe=_IVF_NPROBE)


def _sql_ivf_topk(sf_dir: str = "/root/testdata/sf0.01") -> str:
    import numpy as np

    cents = _ivf_cents(sf_dir)
    # EXACTLY what _cell_assign_udf ranks against (unit-normalized),
    # embedded via repr() so every double round-trips bit-identically
    c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ",\n".join(
        f"({i},[{','.join(repr(float(v)) for v in c[i])}]::DOUBLE[])"
        for i in range(len(c))
    )
    return f"""
WITH cents(cell, cv) AS (VALUES {rows}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
ce AS (SELECT vec_id, cell FROM (
         SELECT e.vec_id, c.cell,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_dot_product(e.ev, c.cv) DESC, c.cell) AS rn
         FROM e CROSS JOIN cents c) WHERE rn = 1),
qc AS (SELECT query_id, cell FROM (
         SELECT q.query_id, c.cell,
                row_number() OVER (PARTITION BY q.query_id
                  ORDER BY list_dot_product(q.qv, c.cv) DESC, c.cell) AS rn
         FROM q CROSS JOIN cents c) WHERE rn <= {_IVF_NPROBE}),
cand AS (SELECT qc.query_id, ce.vec_id FROM qc JOIN ce USING (cell)),
sims AS (SELECT c.query_id, c.vec_id,
                round(round(list_dot_product(e.ev, q.qv)
                      / (sqrt(list_dot_product(e.ev, e.ev))
                         * sqrt(list_dot_product(q.qv, q.qv))), 9), 6)
                  AS cos_sim
         FROM cand c JOIN e ON e.vec_id = c.vec_id
                     JOIN q ON q.query_id = c.query_id)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT query_id, vec_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM sims) WHERE rank <= 10
"""


def _ivf_layout(spark, sf_dir: str) -> str:
    """Materialize the cell-partitioned IVF layout for this sf once
    (ivf_write: `cell=<id>/` parquet partitions under the repo cache).
    Rebuilt only when absent; both repeated query calls and tests share
    it. This is the at-rest layout the 100 TB probe path depends on."""
    base = os.path.basename(sf_dir.rstrip("/"))
    path = f"{SEQ_CACHE}/ivf_{base}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        emb = _emb_double(_t(spark, sf_dir, "embeddings"))
        S.ivf_write(emb, _ivf_cents(sf_dir), path)
    return path


def q_ivf_topk_at_rest(spark, sf_dir):
    """IVF top-k probing the AT-REST cell-partitioned layout: the probed
    cells are applied as a literal partition-column isin, so the scan's
    PartitionFilters carries `cell IN (...)` and only ~nprobe/n_cells of
    the files are opened (planning-time pruning — the 100 TB read path).
    Same centroids/queries/k/nprobe as `ivf_topk`, so the result — and
    the DuckDB oracle — are identical to the in-memory path."""
    emb = _emb_double(_t(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = _ivf_layout(spark, sf_dir)
    return S.ivf_topk_at_rest(
        spark, path, queries, _ivf_cents(sf_dir), k=10, nprobe=_IVF_NPROBE
    )


def q_ladder_full(spark, sf_dir):
    """Full sequences ladder with Gorilla compression — the flagship
    (rows-only: binary blocks have no SQL equivalent)."""
    seq = _sequences(spark, sf_dir)
    out = assemble(rollup_sequences(seq))
    return out.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("count").alias("n_points"),
        F.sum(F.length("val_gorilla")).alias("val_bytes"),
        F.sum(F.length("ts_gorilla")).alias("ts_bytes"),
    )


def q_ladder_decode_roundtrip(spark, sf_dir):
    """Compress -> decode roundtrip as a VALUE-exact oracle row: the 1h
    tier's Gorilla blocks for the first 100 docs, decoded back to points
    via the flat cross-block decoder, must equal the original
    token stream (t0 + k*tick, token value) that plain SQL reproduces."""
    from time2feat_spark.operators.rollup import tier_points

    seq = _sequences(spark, sf_dir).where(F.col("doc_id") < "doc_00000100")
    cfg = RollupConfig(tiers=[("1h", 3600)], include_raw=False,
                       compress=True, features=[])
    flat = rollup_sequences(seq, cfg)
    pts = tier_points(flat, ["doc_id"])
    return pts.select(
        "doc_id", "ts_ms", F.col("value").cast("long").alias("token")
    )


def sql_ladder_decode_roundtrip(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH pts AS ({_SEQ_SQL.format(path=path)})
SELECT doc_id,
       1704067200000 + k * 1000 AS ts_ms,
       CAST(v AS BIGINT) AS token
FROM pts WHERE doc_id < 'doc_00000100'
"""


def q_ladder_tier_counts(spark, sf_dir):
    """Oracle-able projection of the ladder: windows/points per tier
    (the gorilla byte columns stay in the rows-only ladder_full)."""
    seq = _sequences(spark, sf_dir)
    cfg = RollupConfig(compress=False)
    flat = rollup_sequences(seq, cfg)
    return flat.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("count").alias("n_points"),
    )


def sql_ladder_tier_counts(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    tiers = "".join(
        f"""
UNION ALL
SELECT '{name}' AS tier,
       CAST(sum((n_tok + {tt - 1}) // {tt}) AS BIGINT) AS n_windows,
       CAST(sum(n_tok) AS BIGINT) AS n_points FROM t"""
        for name, tt in [("1m", 60), ("1h", 3600), ("1d", 86400)]
    )
    return f"""
WITH t AS (SELECT n_tok FROM read_parquet('{path}'))
SELECT 'raw' AS tier, count(*) AS n_windows,
       CAST(sum(n_tok) AS BIGINT) AS n_points FROM t
{tiers}
"""




# --------------------------------------------------------------------------
# selection / pair-distance / multimodal operators
# --------------------------------------------------------------------------

def _rb(x, inner, outer):
    """Scalar (inner, outer) double-rounding — same family as
    functions/rounding.round_bin, for driver-side scalars."""
    import math
    s = 10.0 ** inner
    x = math.floor(abs(x) * s + 0.5) * (1 if x >= 0 else -1) / s
    s = 10.0 ** outer
    return math.floor(abs(x) * s + 0.5) * (1 if x >= 0 else -1) / s


def q_anova_f(spark, sf_dir):
    """T1 ranking statistic: one-way ANOVA F per lineitem numeric with
    l_returnflag as the class label (f_classif semantics)."""
    from time2feat_spark.operators.selection import anova_f_scores

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    scores = anova_f_scores(li, cols, "l_returnflag")

    rows = [(c, _rb(scores[c], 7, 4)) for c in cols]
    return spark.createDataFrame(rows, "col_name string, f_score double")


def _sql_anova_one(col: str) -> str:
    return f"""
SELECT '{col}' AS col_name,
       round(round(((sb - s * s / n) / (k - 1)) / ((ss - sb) / (n - k)), 7), 4) AS f_score
FROM (
  SELECT sum(n) AS n, sum(s) AS s, sum(ss) AS ss, count(*) AS k,
         sum(s * s / n) AS sb
  FROM (SELECT l_returnflag, count(*) AS n, sum({col}) AS s,
               sum({col} * {col}) AS ss
        FROM lineitem GROUP BY l_returnflag))
"""


SQL_ANOVA_F = " UNION ALL ".join(
    _sql_anova_one(c)
    for c in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
)


def q_anova_pvalue_rank(spark, sf_dir):
    """T2 (sk_pvalue strategy): rank features by ANOVA p-value ascending.
    The p-value itself needs the F survival function (no DuckDB
    equivalent — its NUMERIC accuracy is pinned by pytest golden tests);
    the RANK is oracle-checkable because p is monotone decreasing in F,
    so rank-by-p-asc == rank-by-F-desc."""
    from time2feat_spark.operators.selection import anova_p_values

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    fp = anova_p_values(li, cols, "l_returnflag")
    # rank on the SAME (7,4)-double-rounded F the oracle ranks on (p is
    # monotone decreasing in F, so p-asc == F-desc): two features whose
    # F differ only past the 4th decimal tie on BOTH sides and fall to
    # the identical col_name tie-break, instead of diverging
    ranked = sorted(cols, key=lambda c: (-_rb(fp[c][0], 7, 4), c))
    rows = [(c, i + 1) for i, c in enumerate(ranked)]
    return spark.createDataFrame(rows, "col_name string, p_rank int")


SQL_ANOVA_PVALUE_RANK = f"""
WITH f AS ({SQL_ANOVA_F})
SELECT col_name,
       CAST(row_number() OVER (ORDER BY f_score DESC, col_name) AS INT)
         AS p_rank
FROM f
"""


def q_pair_distances(spark, sf_dir):
    """The reference's 8 inter-signal distances (extractor_pair.py:6-18)
    over the first 4 embedding vectors treated as signals of one case."""
    from time2feat_spark.operators.features import extract_pair_features

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 4)
    df = emb.select(
        F.lit("emb").alias("case_id"),
        F.col("vec_id").cast("string").alias("signal"),
        F.col("embedding").cast("array<double>").alias("values"),
    )
    out = extract_pair_features(df)
    return out.select(
        "metric",
        F.col("sig_i").cast("long").alias("i"),
        F.col("sig_j").cast("long").alias("j"),
        _r4(F.col("dist")).alias("dist"),
    )


SQL_PAIR_DISTANCES = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 4),
p AS (SELECT a.vec_id AS i, b.vec_id AS j, a.e AS ea, b.e AS eb
      FROM v a, v b WHERE a.vec_id < b.vec_id),
u AS (SELECT i, j, unnest(ea) AS x, unnest(eb) AS y FROM p),
agg AS (
  SELECT i, j,
         sum(abs(x - y)) AS sad,
         max(abs(x - y)) AS mad,
         sum((x - y) * (x - y)) AS ssd,
         sum(abs(x + y)) AS sas,
         sum(CASE WHEN abs(x) + abs(y) > 0 THEN abs(x - y) / (abs(x) + abs(y)) ELSE 0 END) AS canb,
         sum(x * y) AS dotxy,
         sum(x * x) AS dotxx,
         sum(y * y) AS dotyy,
         avg(x) AS mx, avg(y) AS my, count(*) AS d
  FROM u GROUP BY i, j),
agg2 AS (
  SELECT i, j,
         sum((x - mx) * (y - my)) AS cdot,
         sum((x - mx) * (x - mx)) AS cxx,
         sum((y - my) * (y - my)) AS cyy
  FROM u JOIN agg USING (i, j) GROUP BY i, j)
SELECT metric, i, j, round(round(dist, 7), 4) AS dist FROM (
  SELECT 'cityblock' AS metric, i, j, sad AS dist FROM agg
  UNION ALL SELECT 'chebyshev', i, j, mad FROM agg
  UNION ALL SELECT 'euclidean', i, j, sqrt(ssd) FROM agg
  UNION ALL SELECT 'minkowski', i, j, sqrt(ssd) FROM agg
  UNION ALL SELECT 'braycurtis', i, j, sad / sas FROM agg
  UNION ALL SELECT 'canberra', i, j, canb FROM agg
  UNION ALL SELECT 'cosine', i, j, 1.0 - dotxy / (sqrt(dotxx) * sqrt(dotyy)) FROM agg
  UNION ALL SELECT 'correlation', a2.i, a2.j, 1.0 - cdot / (sqrt(cxx) * sqrt(cyy)) FROM agg2 a2)
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact all-pairs n-gram Jaccard on a small slice (the all-pairs
    formulation is the post-LSH verify stage; standalone it's sliced).
    Oracle: Jaccard over raw k-gram strings in DuckDB — identical to the
    engine's Jaccard over hashed shingles."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return D.ngram_jaccard_pairs(d, min_jaccard=0.2)


SQL_NGRAM_JACCARD = _SQL_SHINGLE_JACCARD.format(
    doc_filter="WHERE doc_id < 200", k=5, k1=4, minj=0.2
)


def q_embedding_near_dups(spark, sf_dir):
    """Banded hyperplane-LSH near-dup pairs + exact cosine verify.
    Oracle: exact all-pairs cosine — at min_cosine=0.9 the 16x8 banding's
    recall is >0.995 per qualifying pair, and this corpus's qualifying
    set (isotropic vectors: none at sf0.01) is found exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_duplicates(emb, min_cosine=0.9)


SQL_EMBEDDING_NEAR_DUPS = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(round(list_dot_product(a.e, b.e)
               / (sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(b.e, b.e))), 9), 6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.9
"""


# One gate query covering all three multimodal operators, projecting only
# what an external SQL oracle can replicate (VERDICT r3 items 1-3):
# - image: the operator's n_bytes (through the JVM-digest + mapInPandas
#   path) plus a cross-engine md5_64 blob digest; the pseudo-decode
#   pixel stats are checked by pytest (not SQL-replicable).
# - audio: the REAL PCM-WAV decode path (stdlib `wave`) over WAV blobs
#   built deterministically from documents.text — 8-bit mono PCM, so the
#   per-frame RMS is a windowed byte expression DuckDB replicates.
# - video: the ragged frame-sampling schedule (every_k, max_frames)
#   depends only on blob size, so the emitted (doc, frame_idx) set is
#   SQL-replicable even though the splitmix64 pixel stats are not.
_WAV_PAYLOAD = 1024   # fixed PCM size -> the 44-byte RIFF header is constant
_WAV_FRAME = 128      # 1024/128 = 8 frames per doc
_VIDEO_REPEAT = 40    # text repeated so blob sizes straddle frame boundaries


def _wav_header(data_size: int, sample_rate: int = 8000) -> bytes:
    """RIFF/WAVE header for 8-bit mono PCM (stdlib-parseable, no codec)."""
    import struct

    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, 1, sample_rate, sample_rate, 1, 8
        )
        + b"data" + struct.pack("<I", data_size)
    )


def q_multimodal_features(spark, sf_dir):
    from time2feat_spark.functions.hashing import md5_64
    from time2feat_spark.operators.multimodal import (
        audio_frame_stats,
        image_features,
        video_frame_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    blob = docs.select("doc_id", F.encode("text", "utf-8").alias("media"))

    img = image_features(blob)
    digests = blob.select(
        "doc_id", md5_64(F.col("media")).alias("digest")
    )
    image_rows = (
        img.select("doc_id", "n_bytes")
        .join(F.broadcast(digests), "doc_id")
        .select(
            "doc_id",
            F.lit("image").alias("modality"),
            F.lit(0).cast("int").alias("frame"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
            F.lit(None).cast("double").alias("value"),
            F.col("digest"),
        )
    )

    wav = docs.select(
        "doc_id",
        F.concat(
            F.lit(_wav_header(_WAV_PAYLOAD)),
            F.encode(
                F.rpad(
                    F.substring("text", 1, _WAV_PAYLOAD), _WAV_PAYLOAD, " "
                ),
                "utf-8",
            ),
        ).alias("media"),
    )
    audio_rows = audio_frame_stats(
        wav, frame_len=_WAV_FRAME, max_frames=16
    ).select(
        "doc_id",
        F.lit("audio").alias("modality"),
        F.col("frame").cast("int").alias("frame"),
        F.lit(None).cast("long").alias("n_bytes"),
        _r4(F.col("rms")).alias("value"),
        F.lit(None).cast("long").alias("digest"),
    )

    vid_blob = docs.select(
        "doc_id",
        F.encode(F.repeat(F.col("text"), _VIDEO_REPEAT), "utf-8").alias(
            "media"
        ),
    )
    video_rows = video_frame_sample(
        vid_blob, every_k=2, max_frames=4
    ).select(
        "doc_id",
        F.lit("video").alias("modality"),
        F.col("frame_idx").cast("int").alias("frame"),
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("long").alias("digest"),
    )
    return image_rows.unionByName(audio_rows).unionByName(video_rows)


SQL_MULTIMODAL_FEATURES = f"""
WITH img AS (
  SELECT doc_id, 'image' AS modality, CAST(0 AS INT) AS frame,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(NULL AS DOUBLE) AS value,
         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS digest
  FROM documents),
pad AS (
  SELECT doc_id,
         substr(text || repeat(' ', {_WAV_PAYLOAD}), 1, {_WAV_PAYLOAD}) AS p
  FROM documents),
pos AS (SELECT CAST(range AS INT) AS i FROM range(1, {_WAV_PAYLOAD + 1})),
aud AS (
  SELECT doc_id, 'audio' AS modality,
         CAST((i - 1) // {_WAV_FRAME} AS INT) AS frame,
         CAST(NULL AS BIGINT) AS n_bytes,
         round(round(sqrt(avg(
           pow((ord(substr(p, i, 1)) - 128.0) / 128.0, 2))), 7), 4) AS value,
         CAST(NULL AS BIGINT) AS digest
  FROM pad, pos
  GROUP BY doc_id, (i - 1) // {_WAV_FRAME}),
vid AS (
  SELECT doc_id, 'video' AS modality,
         CAST(unnest(range(0, ns)) * 2 AS INT) AS frame,
         CAST(NULL AS BIGINT) AS n_bytes,
         CAST(NULL AS DOUBLE) AS value,
         CAST(NULL AS BIGINT) AS digest
  FROM (SELECT doc_id,
               least((greatest(octet_length(encode(text)) * {_VIDEO_REPEAT}
                               // 4096, 1) + 1) // 2, 4) AS ns
        FROM documents))
SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid
"""




def q_rollup_1d_nonlinear(spark, sf_dir):
    """c3, time-reversal asymmetry, and energy_ratio chunk 0 per window —
    the nonlinearity/energy family (tsfresh c3 / time_reversal_asymmetry_
    statistic / energy_ratio_by_chunks semantics)."""
    r = _events_rollup(spark, sf_dir, "1d", 86400,
                       features=["c3_lag1", "time_reversal_asymmetry_lag1",
                                 "energy_ratio_chunk0"])
    return r.select(
        "event_type",
        F.col("window_start_ms").alias("window_ms"),
        F.col("count"),
        _r2(F.col("feat_c3_lag1")).alias("c3_v"),
        _r2(F.col("feat_time_reversal_asymmetry_lag1")).alias("trev_v"),
        _r4(F.col("feat_energy_ratio_chunk0")).alias("er0_v"),
    )


SQL_ROLLUP_1D_NONLINEAR = f"""
WITH w AS ({_EV_WINDOW_SQL.format(ms=86400000)}),
l AS (
  SELECT event_type, window_ms, value,
         value * lead(value, 1) OVER win * lead(value, 2) OVER win AS c3term,
         lead(value, 2) OVER win * lead(value, 2) OVER win
           * lead(value, 1) OVER win
           - lead(value, 1) OVER win * value * value AS trevterm,
         CASE WHEN row_number() OVER win - 1 <
                   (count(*) OVER p) // 10
                   + CASE WHEN (count(*) OVER p) % 10 >= 1 THEN 1 ELSE 0 END
              THEN value * value END AS e0term,
         count(*) OVER p AS n
  FROM w
  WINDOW win AS (PARTITION BY event_type, window_ms ORDER BY tms, value),
         p AS (PARTITION BY event_type, window_ms))
SELECT event_type, window_ms, max(n) AS count,
       CASE WHEN max(n) > 2
            THEN round(round(sum(c3term) / (max(n) - 2), 5), 2) END AS c3_v,
       CASE WHEN max(n) > 2
            THEN round(round(sum(trevterm) / (max(n) - 2), 5), 2)
            ELSE 0 END AS trev_v,
       round(round(sum(e0term) / sum(value * value), 7), 4) AS er0_v
FROM l GROUP BY event_type, window_ms
"""




def q_asof_join(spark, sf_dir):
    """As-of join (engine operator; Spark has no built-in): for each
    purchase event, the latest preceding view event's value per user."""
    from time2feat_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, views, ["user_id"], "ts", ["value"])
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("tms"),
        _r4(F.col("value")).alias("purchase_v"),
        _r4(F.col("value_asof")).alias("last_view_v"),
    )


SQL_ASOF_JOIN = """
-- deterministic ASOF formulation: ties at equal view-timestamps resolve
-- to the max value, mirroring the engine window's final sort keys
WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS tms, value
           FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, epoch_ms(ts) AS tms, value
      FROM events WHERE event_type = 'view'),
j AS (
  SELECT p.event_id, p.user_id, p.tms, p.value AS pv, v.value AS vv,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY v.tms DESC NULLS LAST,
                                     v.value DESC NULLS LAST) AS rn
  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.tms <= p.tms)
SELECT event_id, user_id, tms,
       round(round(pv, 7), 4) AS purchase_v,
       round(round(vv, 7), 4) AS last_view_v
FROM j WHERE rn = 1
"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-minute gaps) per user: session count
    and per-session event stats."""
    from time2feat_spark.operators.asof import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", 30 * 60,
                   tie_break_cols=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_millis(F.min(F.col("ts").cast("timestamp"))).alias("session_start_ms"),
        _r4(F.avg("value")).alias("mean_v"),
    )


SQL_SESSIONIZE = """
WITH o AS (
  SELECT user_id, event_id, epoch_ms(ts) AS tms, value,
         CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                   OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, tms, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY tms, event_id
                                ROWS UNBOUNDED PRECEDING) - 1
              AS BIGINT) AS session_id
  FROM o)
SELECT user_id, session_id, count(*) AS n_events,
       min(tms) AS session_start_ms,
       round(round(avg(value), 7), 4) AS mean_v
FROM s GROUP BY user_id, session_id
"""


# --------------------------------------------------------------------------
# r5: driver gates for the r4 operator wave (sampling / interval / gaps /
# heavy hitters / redaction / repetition) — every one oracle-backed via
# the cross-engine md5_64 hash family or plain SQL algebra
# --------------------------------------------------------------------------


def q_deterministic_split(spark, sf_dir):
    """Hash-deterministic train/val/test assignment (md5_64 family so
    DuckDB replays the exact bucket arithmetic — CLAUDE.md names it the
    only cross-engine hash)."""
    from time2feat_spark.operators.sampling import deterministic_split

    d = _t(spark, sf_dir, "documents")
    out = deterministic_split(
        d, {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="doc_id", seed=7, hash_family="md5",
    )
    return out.select("doc_id", "split")


SQL_DETERMINISTIC_SPLIT = """
WITH b AS (SELECT doc_id,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|7'), 1, 15))
       AS BIGINT) % 1000000 AS bk
  FROM documents)
SELECT doc_id,
       CASE WHEN bk < 800000 THEN 'train'
            WHEN bk < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


def q_sample_per_group(spark, sf_dir):
    """Deterministic per-group reservoir: exactly min(25, group size)
    docs per language, chosen by md5_64 hash order."""
    from time2feat_spark.operators.sampling import sample_per_group

    d = _t(spark, sf_dir, "documents")
    out = sample_per_group(
        d, ["lang"], 25, id_col="doc_id", seed=5, hash_family="md5"
    )
    return out.select("lang", "doc_id")


SQL_SAMPLE_PER_GROUP = """
WITH h AS (SELECT lang, doc_id,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|5'), 1, 15))
       AS BIGINT) AS hv
  FROM documents)
SELECT lang, doc_id FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
  FROM h) WHERE rn <= 25
"""


def q_sample_fraction(spark, sf_dir):
    """Hash-deterministic 35% sample (kept rows stay kept as data
    grows, unlike df.sample)."""
    from time2feat_spark.operators.sampling import sample_fraction

    d = _t(spark, sf_dir, "documents")
    return sample_fraction(
        d, 0.35, id_col="doc_id", seed=3, hash_family="md5"
    ).select("doc_id", "source")


SQL_SAMPLE_FRACTION = """
SELECT doc_id, source FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|3'), 1, 15))
           AS BIGINT) % 1000000 < 350000
"""


def q_interval_join(spark, sf_dir):
    """Bucketized range join (engine operator; naive Spark plans this as
    a BroadcastNestedLoopJoin): every view event landing inside the 4h
    window after a purchase by the same user."""
    from time2feat_spark.operators.asof import interval_join

    ev = _t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    iv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("iv_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end"),
    )
    # bucket_ms passed explicitly: every interval here is exactly 4h
    # (start + INTERVAL 4 HOURS), so the literal equals the max the
    # operator would otherwise derive — skipping its derivation agg
    # removes a third full scan of events from the query (r6)
    out = interval_join(
        views, iv, ev_ts="ts", iv_start="start", iv_end="end",
        key_cols=["user_id"], bucket_ms=4 * 3600 * 1000,
    )
    return out.select(
        "event_id",
        "iv_id",
        "user_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("tms"),
        _r4(F.col("value")).alias("v"),
    )


SQL_INTERVAL_JOIN = """
WITH v AS (SELECT event_id, user_id, epoch_ms(ts) AS tms, value
           FROM events WHERE event_type = 'view'),
p AS (SELECT event_id AS iv_id, user_id, epoch_ms(ts) AS sms
      FROM events WHERE event_type = 'purchase')
SELECT v.event_id, p.iv_id, v.user_id, v.tms,
       round(round(v.value, 7), 4) AS v
FROM v JOIN p ON v.user_id = p.user_id
             AND v.tms >= p.sms AND v.tms < p.sms + 14400000
"""


def q_detect_gaps(spark, sf_dir):
    """Heartbeat monitoring: per-user silences longer than 6 hours."""
    from time2feat_spark.operators.asof import detect_gaps

    ev = _t(spark, sf_dir, "events")
    return detect_gaps(ev, ["user_id"], "ts", threshold_sec=6 * 3600)


SQL_DETECT_GAPS = """
WITH o AS (SELECT user_id, epoch_ms(ts) AS tms,
                  lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts) AS prev
           FROM events)
SELECT user_id, prev AS gap_start_ms, tms AS gap_end_ms,
       tms - prev AS gap_ms
FROM o WHERE prev IS NOT NULL AND tms - prev > 21600000
"""


def q_heavy_hitters_tokens(spark, sf_dir):
    """Misra-Gries two-pass top-k over exploded document tokens: the
    candidate summary + broadcast recount must equal the true top-30
    (tie-break: count desc, token asc)."""
    from time2feat_spark.operators.text import _words, heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(_words(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", 30)


SQL_HEAVY_HITTERS_TOKENS = r"""
WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
           FROM documents)
SELECT tok, count(*) AS count FROM t
GROUP BY tok ORDER BY count DESC, tok LIMIT 30
"""


#: RE2-compatible subset of REDACTION_PATTERNS (the phone rule needs
#: lookaround, which DuckDB's RE2 lacks — it stays pytest-covered)
_REDACT_ORACLE_PATTERNS = [
    ("<URL>", r"(?i)\bhttps?://[^\s<>\"]+|\bwww\.[^\s<>\"]+"),
    ("<EMAIL>", r"(?i)\b[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}\b"),
    ("<IP>", r"\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\.){3}"
             r"(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\b"),
]


def _redact_aug(doc_id, text):
    """Deterministic PII-bearing suffix (the synthetic corpus has none):
    one email, one URL, one IP derived from doc_id."""
    return F.concat(
        text,
        F.lit(" contact u"), doc_id.cast("string"),
        F.lit("@ex.com via http://s"), doc_id.cast("string"),
        F.lit(".org/x or 10.0.0."), (doc_id % 256).cast("string"),
    )


def q_redact_pii(spark, sf_dir):
    """PII scrub with replacement-exact counts, over docs augmented with
    a deterministic doc_id-derived email/URL/IP suffix so every row
    exercises every pattern."""
    from time2feat_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id", _redact_aug(F.col("doc_id"), F.col("text")).alias("text")
    )
    out = redact_pii(aug, patterns=_REDACT_ORACLE_PATTERNS)
    return out.select(
        "doc_id", "text_redacted", "redact_url", "redact_email", "redact_ip"
    )


def _sql_redact_pii() -> str:
    aug = ("text || ' contact u' || CAST(doc_id AS VARCHAR)"
           " || '@ex.com via http://s' || CAST(doc_id AS VARCHAR)"
           " || '.org/x or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)")
    sql = f"WITH a AS (SELECT doc_id, {aug} AS text FROM documents)"
    prev, cols = "text", []
    for i, (ph, pat) in enumerate(_REDACT_ORACLE_PATTERNS, 1):
        name = "redact_" + ph.strip("<>").lower()
        carried = ", ".join(cols + [f"len(regexp_extract_all({prev}, '{pat}')) AS {name}"])
        sql += (f",\nr{i} AS (SELECT doc_id, {carried},"
                f" regexp_replace({prev}, '{pat}', '{ph}', 'g') AS t{i}"
                f" FROM {'a' if i == 1 else f'r{i-1}'})")
        prev, cols = f"t{i}", cols + [name]
    return (sql + f"\nSELECT doc_id, {prev} AS text_redacted, "
            + ", ".join(cols) + f" FROM r{len(_REDACT_ORACLE_PATTERNS)}")


def q_repetition_features(spark, sf_dir):
    """Gopher repetition/structure signals over synthesized multi-line
    docs (the corpus is single-line; the augmentation repeats the first
    40 chars as a guaranteed duplicate line and adds bullet + ellipsis
    lines, all deterministic from doc fields)."""
    from time2feat_spark.operators.text import repetition_features

    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    aug = d.select(
        "doc_id",
        F.concat(
            F.substring(t, 1, 40), F.lit("\n"),
            F.substring(t, 41, 60), F.lit("\n"),
            F.substring(t, 1, 40), F.lit("\n- item "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("\ntrailing thought..."),
        ).alias("text"),
    )
    return repetition_features(aug).select(
        "doc_id", "rep_dup_line_frac", "rep_dup_line_char_frac",
        "rep_bullet_line_frac", "rep_ellipsis_line_frac",
        "rep_top2gram_char_frac", "rep_top3gram_char_frac",
        "rep_top4gram_char_frac",
    )


SQL_REPETITION_FEATURES = r"""
WITH a AS (SELECT doc_id,
  substr(text, 1, 40) || chr(10) || substr(text, 41, 60) || chr(10) ||
  substr(text, 1, 40) || chr(10) || '- item ' ||
  CAST(doc_id % 5 AS VARCHAR) || chr(10) || 'trailing thought...' AS text
  FROM documents),
l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM a),
nz AS (SELECT doc_id, line FROM l WHERE length(trim(line)) > 0),
per AS (SELECT doc_id, line, count(*) AS c, length(line) AS len
        FROM nz GROUP BY ALL),
ls AS (SELECT doc_id, sum(c) AS n_lines, sum(c * len) AS line_chars,
              sum(c - 1) AS rep_lines, sum((c - 1) * len) AS rep_chars
       FROM per GROUP BY doc_id),
ss AS (SELECT doc_id,
              count(*) FILTER (WHERE regexp_matches(trim(line), '^([-*•])'))
                AS bullets,
              count(*) FILTER (WHERE regexp_matches(trim(line), '(\.\.\.|…)$'))
                AS ellipsis
       FROM nz GROUP BY doc_id),
words AS (SELECT doc_id, length(text) AS nc,
                 regexp_extract_all(lower(text), '\S+') AS w FROM a),
grams0 AS (SELECT doc_id, nc, w, n,
                  unnest(range(1, len(w) - n + 2)) AS i
           FROM words, (VALUES (2),(3),(4)) t(n)),
grams AS (SELECT doc_id, nc, n, array_to_string(w[i:i+n-1], ' ') AS gram
          FROM grams0),
gcount AS (SELECT doc_id, nc, n, gram, count(*) AS c FROM grams GROUP BY ALL),
gtop AS (SELECT doc_id, nc, n, c * length(gram) AS chars,
                row_number() OVER (PARTITION BY doc_id, n
                                   ORDER BY c DESC, c * length(gram) DESC)
                  AS rn
         FROM gcount),
tg AS (SELECT doc_id,
              round(round(max(CASE WHEN n=2 THEN chars END) * 1.0
                    / any_value(nc), 7), 4) AS rep_top2gram_char_frac,
              round(round(max(CASE WHEN n=3 THEN chars END) * 1.0
                    / any_value(nc), 7), 4) AS rep_top3gram_char_frac,
              round(round(max(CASE WHEN n=4 THEN chars END) * 1.0
                    / any_value(nc), 7), 4) AS rep_top4gram_char_frac
       FROM gtop WHERE rn = 1 GROUP BY doc_id)
SELECT a.doc_id,
       round(round(ls.rep_lines * 1.0 / ls.n_lines, 7), 4)
         AS rep_dup_line_frac,
       round(round(ls.rep_chars * 1.0 / ls.line_chars, 7), 4)
         AS rep_dup_line_char_frac,
       round(round(ss.bullets * 1.0 / ls.n_lines, 7), 4)
         AS rep_bullet_line_frac,
       round(round(ss.ellipsis * 1.0 / ls.n_lines, 7), 4)
         AS rep_ellipsis_line_frac,
       tg.rep_top2gram_char_frac, tg.rep_top3gram_char_frac,
       tg.rep_top4gram_char_frac
FROM a LEFT JOIN ls USING (doc_id) LEFT JOIN ss USING (doc_id)
LEFT JOIN tg USING (doc_id)
"""


def q_ppl_buckets(spark, sf_dir):
    """CCNet's head/middle/tail disposal: docs bucketed into per-source
    perplexity terciles of the unigram cross-entropy (head = lowest
    xent). ntile over (source, xent) with doc_id tie-break — identical
    window semantics in both engines."""
    from time2feat_spark.operators.text import unigram_crossentropy

    d = _t(spark, sf_dir, "documents")
    x = unigram_crossentropy(d).join(d.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(F.asc("xent"), F.asc("doc_id"))
    bucket = F.ntile(3).over(w)
    return x.where(F.col("xent").isNotNull()).select(
        "doc_id",
        "source",
        "xent",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")), bucket
        ).alias("ppl_bucket"),
    )


def _sql_ppl_buckets() -> str:
    return f"""
WITH x AS ({SQL_UNIGRAM_XENT}),
j AS (SELECT x.doc_id, d.source, x.xent
      FROM x JOIN documents d USING (doc_id) WHERE x.xent IS NOT NULL)
SELECT doc_id, source, xent,
       (['head', 'middle', 'tail'])[
         ntile(3) OVER (PARTITION BY source ORDER BY xent, doc_id)]
         AS ppl_bucket
FROM j
"""


def q_curation_pipeline(spark, sf_dir):
    """END-TO-END curation disposition, one oracle row: quality filter
    -> exact dedup -> eval-set decontamination -> train/val/test split,
    composed exactly as a user would chain the operators. Every stage is
    individually oracle-green; this row proves the COMPOSITION (join
    semantics, NULL handling between stages, split assignment only for
    finally-kept docs) also matches SQL end to end."""
    from time2feat_spark.functions.hashing import md5_64
    from time2feat_spark.operators.sampling import deterministic_split

    d = _t(spark, sf_dir, "documents")
    bq = md5_64(F.concat(F.col("doc_id").cast("string"), F.lit("|e"))) % 10
    base = T.quality_filter(d).select(
        "doc_id", F.col("keep").alias("keep_quality"), bq.alias("_bk")
    )
    kp = D.exact_dedup(d).select(
        F.col("keeper_id").alias("doc_id"), F.lit(True).alias("_keeper")
    )
    dec = T.decontaminate(
        d.where(bq != 0), d.where(bq == 0), n=3, threshold=0.5
    ).select("doc_id", "decon_flag")
    sp = deterministic_split(
        d, {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="doc_id", seed=7, hash_family="md5",
    ).select("doc_id", "split")
    out = (
        base.join(kp, "doc_id", "left")
        .join(dec, "doc_id", "left")
        .join(sp, "doc_id")
    )
    is_dup = ~F.coalesce(F.col("_keeper"), F.lit(False))
    in_eval = F.col("_bk") == 0
    decf = F.coalesce(F.col("decon_flag"), F.lit(False))
    final = F.col("keep_quality") & ~is_dup & ~in_eval & ~decf
    return out.select(
        "doc_id",
        "keep_quality",
        is_dup.alias("is_dup"),
        in_eval.alias("in_eval"),
        decf.alias("decon_flag"),
        final.alias("final_keep"),
        F.when(final, F.col("split")).alias("split"),
    )


def _sql_curation_pipeline() -> str:
    return f"""
WITH qf AS ({SQL_QUALITY_FILTER}),
k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
dec AS ({SQL_DECONTAMINATE}),
sp AS ({SQL_DETERMINISTIC_SPLIT}),
bb AS (SELECT doc_id,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|e'), 1, 15))
       AS BIGINT) % 10 AS bk
  FROM documents)
SELECT doc_id, keep_quality, is_dup, in_eval, decon_flag, final_keep,
       CASE WHEN final_keep THEN split END AS split
FROM (
  SELECT bb.doc_id,
         qf.keep AS keep_quality,
         (k.doc_id IS NULL) AS is_dup,
         (bb.bk = 0) AS in_eval,
         coalesce(dec.decon_flag, FALSE) AS decon_flag,
         (qf.keep AND k.doc_id IS NOT NULL AND bb.bk != 0
          AND NOT coalesce(dec.decon_flag, FALSE)) AS final_keep,
         sp.split
  FROM bb JOIN qf USING (doc_id)
          LEFT JOIN k ON k.doc_id = bb.doc_id
          LEFT JOIN dec ON dec.doc_id = bb.doc_id
          JOIN sp ON sp.doc_id = bb.doc_id)
"""


def q_source_kl(spark, sf_dir):
    """Mixture diagnostics: KL(source || corpus) of every source's
    unigram distribution, micro-nat integer sums for order-independent
    cross-engine equality."""
    from time2feat_spark.operators.text import source_kl_divergence

    return source_kl_divergence(_t(spark, sf_dir, "documents"))


SQL_SOURCE_KL = r"""
WITH toks AS (SELECT source AS src,
                     unnest(regexp_extract_all(lower(text), '\S+')) AS term
              FROM documents),
st AS (SELECT src, term, count(*) AS c_st FROM toks GROUP BY ALL),
ct AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t FROM st GROUP BY term),
ns AS (SELECT src, CAST(sum(c_st) AS BIGINT) AS n_s FROM st GROUP BY src),
nn AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM st),
per AS (SELECT src, any_value(n_s) AS n_s,
               CAST(sum(c_st * CAST(
                 floor(abs(ln(c_st * 1.0 * n / (n_s * 1.0 * c_t)) * 1e6)
                       + 0.5)
                 * sign(ln(c_st * 1.0 * n / (n_s * 1.0 * c_t)))
                 AS BIGINT)) AS BIGINT) AS msum
        FROM st JOIN ct USING (term) JOIN ns USING (src) CROSS JOIN nn
        GROUP BY src)
SELECT src AS source, n_s AS n_tokens,
       round(round(msum / 1e6 / n_s, 7), 4) AS kl_nats
FROM per
"""


def q_pmi_collocations(spark, sf_dir):
    """Top-20 bigram collocations by pointwise mutual information
    (support floor 5) — the classic phrase-mining pass, ranked on the
    rounded score with lexicographic tie-break."""
    from time2feat_spark.operators.text import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), k=20, min_count=5)


SQL_PMI_COLLOCATIONS = r"""
WITH w AS (SELECT regexp_extract_all(lower(text), '\S+') AS ws
           FROM documents),
uni AS (SELECT u AS wd, count(*) AS c
        FROM (SELECT unnest(ws) AS u FROM w) GROUP BY u),
big AS (SELECT array_to_string(ws[i:i+1], ' ') AS bigram
        FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w)),
bc AS (SELECT bigram, count(*) AS c_ab,
              string_split(bigram, ' ')[1] AS w1,
              string_split(bigram, ' ')[2] AS w2
       FROM big GROUP BY bigram HAVING count(*) >= 5),
nn AS (SELECT CAST(sum(greatest(len(ws) - 1, 0)) AS BIGINT) AS n FROM w)
SELECT bigram, c_ab,
       u1.c AS c_a, u2.c AS c_b,
       round(round(ln(c_ab * 1.0 * n / (u1.c * u2.c)), 7), 4) AS pmi
FROM bc JOIN uni u1 ON u1.wd = bc.w1
        JOIN uni u2 ON u2.wd = bc.w2
        CROSS JOIN nn
ORDER BY pmi DESC, bigram LIMIT 20
"""


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
_MIX_TOTAL = 40


def _mix_thresholds(sf_dir: str) -> dict[str, int]:
    """EXACTLY the keep thresholds mixture_sample derives: same counts
    (same parquet) fed through the OPERATOR'S OWN
    `sampling.mixture_thresholds` arithmetic — shared code, not a
    re-implementation, so the SQL literals cannot drift from the Spark
    keep decisions."""
    import pyarrow.parquet as pq

    from time2feat_spark.operators.sampling import mixture_thresholds

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["source"])
    counts: dict[str, int] = {}
    for s in t["source"].to_pylist():
        counts[s] = counts.get(s, 0) + 1
    return mixture_thresholds(counts, _MIX_WEIGHTS, _MIX_TOTAL)


def q_mixture_sample(spark, sf_dir):
    """Training-mixture shaping (md5 family): down-sample three sources
    toward 50/30/20 of a 40-doc budget; keep decisions are pure hash
    thresholds (no shuffle on the data path)."""
    from time2feat_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    out = mixture_sample(
        d, "source", _MIX_WEIGHTS, _MIX_TOTAL,
        id_col="doc_id", seed=11, hash_family="md5",
    )
    return out.select("doc_id", "source")


def _sql_mixture_sample(sf_dir: str = "/root/testdata/sf0.01") -> str:
    # NOTE (r5 ADVICE): this builder (and _sql_semantic_dedup) bakes
    # sf0.01-derived literals at import time, so oracle_sql() is
    # sf0.01-only for these two queries — running the gate replica at
    # another SF via SPARK_GRAFT_ORACLE_SF_DIR would produce false
    # mismatches for them alone. Kept literal (not env-derived) on
    # purpose: the driver fingerprints oracle SQL text against the
    # round-start copy, so conditionally changing the text is the
    # riskier direction.
    cases = " ".join(
        f"WHEN source = '{s}' THEN bk < {t}"
        for s, t in _mix_thresholds(sf_dir).items()
    )
    return f"""
WITH b AS (SELECT doc_id, source,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|11'), 1, 15))
       AS BIGINT) % 1000000 AS bk
  FROM documents)
SELECT doc_id, source FROM b
WHERE CASE {cases} ELSE FALSE END
"""


def q_unigram_xent(spark, sf_dir):
    """Perplexity-style quality score: per-doc cross-entropy (and ppl)
    under the corpus-self-trained unigram LM — CCNet's LM filter with
    the model reduced to unigrams; per-token -ln p snapped to integer
    micro-scores so the tf-weighted sums are order-independent."""
    from time2feat_spark.operators.text import unigram_crossentropy

    return unigram_crossentropy(_t(spark, sf_dir, "documents"))


SQL_UNIGRAM_XENT = r"""
WITH toks AS (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\S+')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY ALL),
ct AS (SELECT term, CAST(sum(tf) AS BIGINT) AS c_t FROM tf GROUP BY term),
nn AS (SELECT CAST(sum(tf) AS BIGINT) AS n FROM tf),
per AS (SELECT doc_id,
               CAST(sum(tf * CAST(floor(abs(-ln(c_t * 1.0 / n)) * 1e6 + 0.5)
                                  AS BIGINT)) AS BIGINT) AS msum,
               CAST(sum(tf) AS BIGINT) AS n_tokens
        FROM tf JOIN ct USING (term) CROSS JOIN nn GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(n_tokens, 0) AS n_tokens,
       round(round(msum / 1e6 / n_tokens, 7), 4) AS xent,
       round(round(exp(msum / 1e6 / n_tokens), 7), 4) AS ppl
FROM (SELECT doc_id FROM documents) d LEFT JOIN per USING (doc_id)
"""


def q_cms_token_estimates(spark, sf_dir):
    """Count-Min sketch point estimates for the exact top-30 tokens —
    (tok, exact_count, cms_estimate) with the estimate computed ONLY
    from the d=4 x w=512 cell table (never the raw counts); DuckDB
    rebuilds the identical cells via the md5 family."""
    from time2feat_spark.operators.approx import cms_build, cms_lookup
    from time2feat_spark.operators.text import _words

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(_words(F.col("text"))).alias("tok")
    ).localCheckpoint(eager=True)  # feeds both the sketch and the truth
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("tok"))
        .limit(30)
        .localCheckpoint(eager=True)  # probes AND the final join
    )
    sk = cms_build(toks, "tok", d=4, w=512, seed=9)
    est = cms_lookup(sk, exact.select("tok"), "tok", d=4, w=512, seed=9)
    return exact.join(est, "tok").select("tok", "exact_count", "cms_estimate")


SQL_CMS_TOKEN_ESTIMATES = r"""
WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok
           FROM documents),
ex AS (SELECT tok, count(*) AS exact_count FROM t GROUP BY tok
       ORDER BY exact_count DESC, tok LIMIT 30),
rs(r) AS (VALUES (0), (1), (2), (3)),
cells AS (SELECT r,
                 CAST(('0x' || substr(md5(tok || '|cms9|' || r), 1, 15))
                      AS BIGINT) % 512 AS col,
                 count(*) AS cnt
          FROM t CROSS JOIN rs GROUP BY ALL),
pc AS (SELECT tok, r,
              CAST(('0x' || substr(md5(tok || '|cms9|' || r), 1, 15))
                   AS BIGINT) % 512 AS col
       FROM ex CROSS JOIN rs)
SELECT ex.tok, ex.exact_count,
       CAST(min(coalesce(cells.cnt, 0)) AS BIGINT) AS cms_estimate
FROM pc LEFT JOIN cells USING (r, col) JOIN ex USING (tok)
GROUP BY ex.tok, ex.exact_count
"""


def q_token_window_dups(spark, sf_dir):
    """ExactSubstr-style duplication signal over the canonical token
    table: fraction of each doc's 16-token runs whose content occurs
    >= 2x corpus-wide (md5_64 family so DuckDB replays the run hashes
    value-exactly). The generator's arithmetic token patterns produce
    real cross-doc duplicate runs — no augmentation needed. Gated on the
    first-200-docs slice as the corpus: the md5 replay costs DuckDB
    ~100 ms per 1k windows, so the full table would dominate the whole
    oracle pass (the Spark operator itself runs the full table in
    bench.py and the hand-truth pytest covers both hash families)."""
    from time2feat_spark.operators.dedup import token_window_dup_frac

    seq = _sequences(spark, sf_dir).where(F.col("doc_id") < "doc_00000200")
    return token_window_dup_frac(seq, window=16, hash_family="md5")


def sql_token_window_dups(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH w AS (SELECT doc_id,
  CAST(('0x' || substr(md5(array_to_string(tokens[i:i+15], ',')), 1, 15))
       AS BIGINT) AS wh
  FROM (SELECT doc_id, tokens, unnest(range(1, len(tokens) - 14)) AS i
        FROM read_parquet('{path}')
        WHERE doc_id < 'doc_00000200')),
c AS (SELECT wh, count(*) AS c FROM w GROUP BY wh),
per AS (SELECT doc_id, count(*) AS n_windows,
               CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_windows
        FROM w JOIN c USING (wh) GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(n_windows, 0) AS n_windows,
       coalesce(n_dup_windows, 0) AS n_dup_windows,
       round(round(n_dup_windows * 1.0 / n_windows, 7), 4) AS dup_frac
FROM (SELECT doc_id FROM read_parquet('{path}')
      WHERE doc_id < 'doc_00000200') d
LEFT JOIN per USING (doc_id)
"""


_T0_MS = 1704067200000  # generator epoch: every sequence starts 2024-01-01


def _ladder_job(spark, sf_dir, _cache: dict = {}):
    """Materialized tier-ladder tables over the canonical sequences
    parquet, built once per sf under the repo cache (manifest-resumable:
    done units are skipped on re-invocation) — the at-rest input for the
    routed-read queries."""
    base = os.path.basename(sf_dir.rstrip("/"))
    if base in _cache:
        return _cache[base]
    from time2feat_spark.plans.ladder_job import LadderJob

    job = LadderJob(spark, _ensure_sequences(base), f"{SEQ_CACHE}/ladder_{base}")
    job.run()
    _cache[base] = job
    return job


def q_routed_aggregate_6h(spark, sf_dir):
    """Continuous-aggregate READ PATH as an oracle row: a one-day range
    at 6h resolution is answered from the 1h tier TABLE (coarsest
    divisor; sum/min/max/count re-aggregate algebraically, raw points
    never read), while DuckDB computes the same panel from the raw token
    table — cross-engine proof the tier cascade + routing lose nothing."""
    from time2feat_spark.plans.router import aggregate_range

    job = _ladder_job(spark, sf_dir)
    tier, out = aggregate_range(job, _T0_MS, _T0_MS + 86_400_000, 6 * 3600)
    assert tier == "1h", tier
    return out.select(
        "source", "doc_id", "bucket_start_ms", "count",
        F.col("sum").cast("long").alias("sum_v"),
        F.col("min").cast("long").alias("min_v"),
        F.col("max").cast("long").alias("max_v"),
        _r4(F.col("mean")).alias("mean_v"),
    )


def sql_routed_aggregate_6h(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH pts AS (SELECT doc_id, source, unnest(tokens) AS v,
                    generate_subscripts(tokens, 1) - 1 AS k
             FROM read_parquet('{path}'))
SELECT source, doc_id,
       {_T0_MS} + (k // 21600) * 21600000 AS bucket_start_ms,
       count(*) AS count,
       CAST(sum(v) AS BIGINT) AS sum_v,
       CAST(min(v) AS BIGINT) AS min_v,
       CAST(max(v) AS BIGINT) AS max_v,
       round(round(sum(v) * 1.0 / count(*), 7), 4) AS mean_v
FROM pts GROUP BY ALL
"""


def q_routed_quantile_2h(spark, sf_dir):
    """Exact holistic percentiles on a 2h grid answered by decoding the
    1h tier's Gorilla blocks (never the raw table); DuckDB recomputes
    from raw tokens — the codec, the tier routing, AND Spark's exact
    percentile all have to agree for this row to hash-match."""
    from time2feat_spark.plans.router import quantile_range

    job = _ladder_job(spark, sf_dir)
    out = quantile_range(
        job, _T0_MS, _T0_MS + 86_400_000, 2 * 3600, qs=(0.5, 0.95)
    )
    return out.select(
        "source", "doc_id", "bucket_start_ms", "count",
        _r4(F.col("q_0_5")).alias("q50"),
        _r4(F.col("q_0_95")).alias("q95"),
    )


def sql_routed_quantile_2h(sf_base: str) -> str:
    path = _ensure_sequences(sf_base)
    return f"""
WITH pts AS (SELECT doc_id, source, unnest(tokens) AS v,
                    generate_subscripts(tokens, 1) - 1 AS k
             FROM read_parquet('{path}'))
SELECT source, doc_id,
       {_T0_MS} + (k // 7200) * 7200000 AS bucket_start_ms,
       count(*) AS count,
       round(round(quantile_cont(CAST(v AS DOUBLE), 0.5), 7), 4) AS q50,
       round(round(quantile_cont(CAST(v AS DOUBLE), 0.95), 7), 4) AS q95
FROM pts GROUP BY ALL
"""


def q_hll_distinct_users(spark, sf_dir):
    """Deterministic mergeable HyperLogLog (md5_64 hash family, m=64
    registers) next to the exact distinct — the estimate itself is
    value-exact across engines because every step is integer/dyadic
    except the final ln, which gets round_bin double-rounding."""
    from time2feat_spark.operators.approx import hll_distinct

    ev = _t(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "exact_distinct", "hll_estimate"
    )


def _sql_hll_distinct_users() -> str:
    from time2feat_spark.operators.approx import sql_hll_distinct

    return f"""
WITH est AS ({sql_hll_distinct("events", ["event_type"], "user_id")}),
ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
       FROM events GROUP BY event_type)
SELECT event_type, exact_distinct, hll_estimate
FROM est JOIN ex USING (event_type)
"""


def q_hll_tier_1h(spark, sf_dir):
    """Distinct-count continuous aggregate: per-(event_type, 1h window)
    user cardinality estimated from the HLL TIER CASCADE — 1m registers
    from raw, 1h registers by MERGING the 1m tier (raw is never
    rescanned). Register max is associative over the nested grid, so
    DuckDB replaying the 1h registers directly from raw must match
    value-exactly — the cascade's no-loss proof."""
    from time2feat_spark.operators.approx import (
        hll_estimate,
        hll_partial,
        hll_tier_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    wms_1m = (
        F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / 60_000)
        * 60_000
    ).cast("long")
    regs_1m = hll_partial(
        ev.withColumn("wms", wms_1m), ["event_type", "wms"], "user_id"
    )
    tiers = hll_tier_rollup(
        regs_1m, ["event_type"], "wms", [("1m", 60), ("1h", 3600)]
    )
    est = hll_estimate(
        tiers.where(F.col("tier") == "1h"),
        ["event_type", "window_start_ms"],
    )
    exact = ev.groupBy(
        "event_type",
        (
            F.floor(F.unix_millis(F.col("ts").cast("timestamp")) / 3_600_000)
            * 3_600_000
        ).cast("long").alias("window_start_ms"),
    ).agg(F.count_distinct("user_id").alias("exact_distinct"))
    return est.join(exact, ["event_type", "window_start_ms"]).select(
        "event_type", "window_start_ms", "exact_distinct", "hll_estimate"
    )


def _sql_hll_tier_1h() -> str:
    from time2feat_spark.functions.hashing import sql_md5_64
    from time2feat_spark.operators.approx import ALPHA, M, RHO_MAX

    h = sql_md5_64("CAST(user_id AS VARCHAR) || '|0'")
    return f"""
WITH hv AS (SELECT event_type,
                   (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
                   {h} AS h
            FROM events WHERE user_id IS NOT NULL),
reg AS (SELECT event_type, window_start_ms, h & {M - 1} AS bucket,
               max(CASE WHEN (h >> 6) = 0 THEN {RHO_MAX}
                        ELSE {RHO_MAX} - length(bin(h >> 6)) END) AS m
        FROM hv GROUP BY ALL),
agg AS (SELECT event_type, window_start_ms,
               sum(power(2.0, -m)) AS s_used, count(*) AS nb
        FROM reg GROUP BY ALL),
est AS (SELECT event_type, window_start_ms,
               round(round(CASE WHEN {ALPHA * M * M} / (s_used + ({M} - nb))
                                    <= {2.5 * M} AND nb < {M}
                               THEN {float(M)} * ln({float(M)} / ({M} - nb))
                               ELSE {ALPHA * M * M} / (s_used + ({M} - nb))
                          END, 7), 4) AS hll_estimate
        FROM agg),
ex AS (SELECT event_type,
              (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
              count(DISTINCT user_id) AS exact_distinct
       FROM events GROUP BY ALL)
SELECT event_type, window_start_ms, exact_distinct, hll_estimate
FROM est JOIN ex USING (event_type, window_start_ms)
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Top-5 characteristic terms per document by smoothed TF-IDF
    (ranked on the rounded score so both engines order identically)."""
    from time2feat_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=5)


SQL_TFIDF_TOP_TERMS = r"""
WITH toks AS (SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '\S+')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY ALL),
dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
sc AS (SELECT doc_id, term, tf, df_t,
              round(round(tf * (ln((n + 1.0) / (df_t + 1.0)) + 1), 7), 4)
                AS tfidf
       FROM tf JOIN dfq USING (term) CROSS JOIN nn)
SELECT doc_id, term, tf, df_t, tfidf, rank FROM (
  SELECT doc_id, term, tf, df_t, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tfidf DESC, term) AS rank
  FROM sc) WHERE rank <= 5
"""

_BM25_TERMS = ["vector", "hash", "stream"]


def q_bm25_dbterms(spark, sf_dir):
    """Okapi BM25 top-20 docs for a 3-term keyword query; per-term
    scores snapped to integer micro-scores before the per-doc sum so the
    float reduction order cannot differ between engines."""
    from time2feat_spark.operators.text import bm25_search

    return bm25_search(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=20)


def _sql_bm25_dbterms() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return rf"""
WITH toks AS (SELECT doc_id,
                     len(regexp_extract_all(lower(text), '\S+')) AS dl,
                     unnest(regexp_extract_all(lower(text), '\S+')) AS term
              FROM documents),
tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM toks
       WHERE term IN ({terms}) GROUP BY ALL),
dfq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
st AS (SELECT count(DISTINCT doc_id) AS n,
              avg(len(regexp_extract_all(lower(text), '\S+'))) AS avgdl
       FROM documents),
per AS (SELECT doc_id,
               CAST(floor(abs(
                 (ln((n - df_t + 0.5) / (df_t + 0.5) + 1)
                  * (tf * 2.2)
                  / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) * 1e6
               ) + 0.5) AS BIGINT) AS ms
        FROM tf JOIN dfq USING (term) CROSS JOIN st),
agg AS (SELECT doc_id, sum(ms) AS msum, count(*) AS n_terms_hit
        FROM per GROUP BY doc_id)
SELECT doc_id, round(round(CAST(msum AS BIGINT) / 1e6, 7), 4) AS score,
       n_terms_hit
FROM agg ORDER BY score DESC, doc_id LIMIT 20
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: the 'eval set' is the deterministic
    md5 bucket-0 tenth of the corpus (sharing its vocabulary, so real
    3-gram collisions exist); every remaining doc reports its eval
    n-gram overlap fraction and a >= 0.5 contamination flag."""
    from time2feat_spark.functions.hashing import md5_64
    from time2feat_spark.operators.text import decontaminate

    d = _t(spark, sf_dir, "documents")
    b = md5_64(F.concat(F.col("doc_id").cast("string"), F.lit("|e"))) % 10
    return decontaminate(
        d.where(b != 0), d.where(b == 0), n=3, threshold=0.5
    )


SQL_DECONTAMINATE = r"""
WITH b AS (SELECT doc_id, text,
  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|e'), 1, 15))
       AS BIGINT) % 10 AS bk
  FROM documents),
words AS (SELECT doc_id, bk,
                 regexp_extract_all(lower(text), '\S+') AS w FROM b),
g0 AS (SELECT doc_id, bk, w,
              unnest(range(1, len(w) - 1)) AS i FROM words),
grams AS (SELECT doc_id, bk,
                 array_to_string(w[i:i+2], ' ') AS gram FROM g0),
ev AS (SELECT DISTINCT gram FROM grams WHERE bk = 0),
dg AS (SELECT DISTINCT doc_id, gram FROM grams WHERE bk != 0),
agg AS (SELECT dg.doc_id, count(*) AS decon_ngrams,
               CAST(sum(CASE WHEN ev.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS decon_hits
        FROM dg LEFT JOIN ev USING (gram) GROUP BY dg.doc_id)
SELECT b.doc_id,
       coalesce(decon_ngrams, 0) AS decon_ngrams,
       coalesce(decon_hits, 0) AS decon_hits,
       round(round(decon_hits * 1.0 / decon_ngrams, 7), 4) AS decon_frac,
       coalesce(round(round(decon_hits * 1.0 / decon_ngrams, 7), 4) >= 0.5,
                FALSE) AS decon_flag
FROM b LEFT JOIN agg USING (doc_id) WHERE b.bk != 0
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table: within-cell (same 16-cell
    quantizer as the IVF queries) cosine >= 0.4 against any lower id
    marks a vector as a semantic duplicate. Value-exact oracle via the
    shared centroid literals + rounded-cosine predicate."""
    emb = _emb_double(_t(spark, sf_dir, "embeddings"))
    return S.semantic_dedup(emb, _ivf_cents(sf_dir), min_cosine=0.4)


def _sql_semantic_dedup(sf_dir: str = "/root/testdata/sf0.01") -> str:
    import numpy as np

    cents = _ivf_cents(sf_dir)
    c = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    rows = ",\n".join(
        f"({i},[{','.join(repr(float(v)) for v in c[i])}]::DOUBLE[])"
        for i in range(len(c))
    )
    return f"""
WITH cents(cell, cv) AS (VALUES {rows}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
ce AS (SELECT vec_id, ev, cell FROM (
         SELECT e.vec_id, e.ev, c.cell,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY list_dot_product(e.ev, c.cv) DESC, c.cell) AS rn
         FROM e CROSS JOIN cents c) WHERE rn = 1),
dups AS (SELECT DISTINCT r.vec_id FROM ce l JOIN ce r USING (cell)
         WHERE l.vec_id < r.vec_id
           AND round(round(list_dot_product(l.ev, r.ev)
                 / (sqrt(list_dot_product(l.ev, l.ev))
                    * sqrt(list_dot_product(r.ev, r.ev))), 9), 6) >= 0.4)
SELECT ce.vec_id, CAST(ce.cell AS BIGINT) AS cell,
       (dups.vec_id IS NOT NULL) AS is_dup
FROM ce LEFT JOIN dups USING (vec_id)
"""


# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full tier ladder + Gorilla over the sf0.001 events table."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cfg = RollupConfig(include_raw=False)
    flat = rollup_points(ev, ["event_type"], "ts", "value", cfg)
    return flat.select(
        "event_type", "tier", "window_start_ms", "count", "mean",
        "feat_std", "feat_autocorr_lag1", "feat_binned_entropy_10",
        "ts_gorilla", "val_gorilla",
    )


#: Every driver query, declared once: name -> (Spark builder, DuckDB
#: oracle). The oracle is SQL text, None when the query has no SQL
#: equivalent, or a callable that builds the SQL when oracle_sql() is
#: called, never at import: those write the sequences cache, train the
#: IVF centroids or read the mixture thresholds.
_Builder = Callable[[SparkSession, str], DataFrame]
_QUERIES: dict[str, tuple[_Builder, str | Callable[[], str] | None]] = {
    "rollup_1h_basic": (q_rollup_1h_basic, SQL_ROLLUP_1H_BASIC),
    "rollup_1d_dispersion": (q_rollup_1d_dispersion, SQL_ROLLUP_1D_DISPERSION),
    "rollup_1d_shape": (q_rollup_1d_shape, SQL_ROLLUP_1D_SHAPE),
    "rollup_1d_change": (q_rollup_1d_change, SQL_ROLLUP_1D_CHANGE),
    "rollup_1d_autocorr": (q_rollup_1d_autocorr, SQL_ROLLUP_1D_AUTOCORR),
    "rollup_1d_mean_counts": (q_rollup_1d_mean_counts, SQL_ROLLUP_1D_MEAN_COUNTS),
    "rollup_1d_trend": (q_rollup_1d_trend, SQL_ROLLUP_1D_TREND),
    "rollup_1d_nonlinear": (q_rollup_1d_nonlinear, SQL_ROLLUP_1D_NONLINEAR),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "gapfill_locf_1h": (q_gapfill_locf_1h, SQL_GAPFILL_LOCF_1H),
    "gapfill_linear_1h": (q_gapfill_linear_1h, SQL_GAPFILL_LINEAR_1H),
    "seq_1m_basic": (q_seq_1m_basic, lambda: sql_seq_1m_basic("sf0.01")),
    "seq_1h_energy": (q_seq_1h_energy, lambda: sql_seq_1h_energy("sf0.01")),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "revenue_by_nation": (q_revenue_by_nation, SQL_REVENUE_BY_NATION),
    "customers_with_orders": (q_customers_with_orders, SQL_CUSTOMERS_WITH_ORDERS),
    "customers_without_orders": (q_customers_without_orders, SQL_CUSTOMERS_WITHOUT_ORDERS),
    "union_order_slices": (q_union_order_slices, SQL_UNION_ORDER_SLICES),
    "top_orders": (q_top_orders, SQL_TOP_ORDERS),
    "order_rank_per_customer": (q_order_rank_per_customer, SQL_ORDER_RANK_PER_CUSTOMER),
    "column_profile": (q_column_profile, SQL_COLUMN_PROFILE),
    "zscore_by_type": (q_zscore_by_type, SQL_ZSCORE_BY_TYPE),
    "distinct_counts": (q_distinct_counts, SQL_DISTINCT_COUNTS),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_resolve": (q_dedup_resolve, SQL_DEDUP_RESOLVE),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "token_topk": (q_token_topk, lambda: sql_token_topk("sf0.01")),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "text_quality": (q_text_quality, SQL_TEXT_QUALITY),
    "quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "lang_id": (q_lang_id, _sql_lang_id),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "embedding_topk": (q_embedding_topk, SQL_EMBEDDING_TOPK),
    "embedding_norms": (q_embedding_norms, SQL_EMBEDDING_NORMS),
    "minhash_near_dups": (q_minhash_near_dups, SQL_MINHASH_NEAR_DUPS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "winnowing_fingerprints": (q_winnowing_fingerprints, SQL_WINNOWING),
    "lsh_topk": (q_lsh_topk, _sql_lsh_topk),
    "ivf_topk": (q_ivf_topk, _sql_ivf_topk),
    "ivf_topk_at_rest": (q_ivf_topk_at_rest, _sql_ivf_topk),
    "ladder_full": (q_ladder_full, None),
    "ladder_tier_counts": (q_ladder_tier_counts, lambda: sql_ladder_tier_counts("sf0.01")),
    "ladder_decode_roundtrip": (q_ladder_decode_roundtrip, lambda: sql_ladder_decode_roundtrip("sf0.01")),
    "anova_f": (q_anova_f, SQL_ANOVA_F),
    "anova_pvalue_rank": (q_anova_pvalue_rank, SQL_ANOVA_PVALUE_RANK),
    "pair_distances": (q_pair_distances, SQL_PAIR_DISTANCES),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "embedding_near_dups": (q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "deterministic_split": (q_deterministic_split, SQL_DETERMINISTIC_SPLIT),
    "sample_per_group": (q_sample_per_group, SQL_SAMPLE_PER_GROUP),
    "sample_fraction": (q_sample_fraction, SQL_SAMPLE_FRACTION),
    "interval_join": (q_interval_join, SQL_INTERVAL_JOIN),
    "detect_gaps": (q_detect_gaps, SQL_DETECT_GAPS),
    "heavy_hitters_tokens": (q_heavy_hitters_tokens, SQL_HEAVY_HITTERS_TOKENS),
    "redact_pii": (q_redact_pii, _sql_redact_pii),
    "repetition_features": (q_repetition_features, SQL_REPETITION_FEATURES),
    "hll_distinct_users": (q_hll_distinct_users, _sql_hll_distinct_users),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "bm25_dbterms": (q_bm25_dbterms, _sql_bm25_dbterms),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "semantic_dedup": (q_semantic_dedup, _sql_semantic_dedup),
    "routed_aggregate_6h": (q_routed_aggregate_6h, lambda: sql_routed_aggregate_6h("sf0.01")),
    "routed_quantile_2h": (q_routed_quantile_2h, lambda: sql_routed_quantile_2h("sf0.01")),
    "token_window_dups": (q_token_window_dups, lambda: sql_token_window_dups("sf0.01")),
    "cms_token_estimates": (q_cms_token_estimates, SQL_CMS_TOKEN_ESTIMATES),
    "hll_tier_1h": (q_hll_tier_1h, _sql_hll_tier_1h),
    "unigram_xent": (q_unigram_xent, SQL_UNIGRAM_XENT),
    "mixture_sample": (q_mixture_sample, _sql_mixture_sample),
    "pmi_collocations": (q_pmi_collocations, SQL_PMI_COLLOCATIONS),
    "source_kl": (q_source_kl, SQL_SOURCE_KL),
    "curation_pipeline": (q_curation_pipeline, _sql_curation_pipeline),
    "ppl_buckets": (q_ppl_buckets, _sql_ppl_buckets),
}


def queries() -> dict[str, _Builder]:
    return {name: build for name, (build, _) in _QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql if isinstance(sql, str) else sql()
        for name, (_, sql) in _QUERIES.items()
        if sql is not None
    }
