"""Seeded dashboard reads through ``plans.router`` and their numpy answers.

Five kinds, in two latency classes:

* ``agg`` — ``aggregate_range`` at 6h (1h tier) and at 1d (1d tier), and
  ``route_range_tiered`` at 1m across the first day boundary, where
  retention has dropped the first day's 1m partitions so that day falls
  back to 1h;
* ``decode`` — ``quantile_range`` at 1h (decodes 1h Gorilla blocks) and
  ``route_points`` over 10-minute slices (decodes 1m blocks).

Every answer is checked against numpy on the store's generated points.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .gen import MS_PER_DAY, T0_MS

HOUR = 3_600_000
KINDS = ["agg_6h", "agg_1d", "tiered", "quantile", "points"]
#: one timed cycle: each agg kind twice, so that a short loop still holds
#: enough agg calls for a steady median
CYCLE = ["agg_6h", "agg_1d", "tiered"] * 2 + ["quantile", "points"]
CLASS = {"agg_6h": "agg", "agg_1d": "agg", "tiered": "agg",
         "quantile": "decode", "points": "decode"}
QS = (0.5, 0.95, 0.99)


@dataclass
class Query:
    kind: str
    start: int
    end: int
    sources: list[str]
    plan_s: float = 0.0
    exec_s: float = 0.0
    cpu_s: float = 0.0  # CPU time of the whole process tree
    rows: list = field(default_factory=list)
    tier_plan: dict = field(default_factory=dict)


def make_query(store, kind: str, rng: np.random.Generator) -> Query:
    sources = [f"src_{int(rng.integers(0, store.size.n_sources))}"]
    end_cov = store.covered_end_ms()
    if kind == "agg_6h":
        n = max(1, (end_cov - T0_MS) // (6 * HOUR))
        start = T0_MS + int(rng.integers(0, n)) * 6 * HOUR
        return Query(kind, start, start + 6 * HOUR, sources)
    if kind == "agg_1d":
        n = max(1, -(-(end_cov - T0_MS) // MS_PER_DAY))
        start = T0_MS + int(rng.integers(0, n)) * MS_PER_DAY
        return Query(kind, start, start + MS_PER_DAY, sources)
    if kind == "tiered":
        day1 = T0_MS + MS_PER_DAY
        return Query(kind, day1 - int(rng.integers(1, 4)) * HOUR,
                     day1 + int(rng.integers(1, 7)) * 600_000, sources)
    if kind == "quantile":
        n = max(1, (end_cov - T0_MS) // HOUR - 1)
        start = T0_MS + int(rng.integers(0, n)) * HOUR
        return Query(kind, start, start + 2 * HOUR, sources)
    # 10-minute slices on days whose 1m tier survives retention
    lo = T0_MS + MS_PER_DAY
    n = max(1, (end_cov - lo) // 600_000)
    start = lo + int(rng.integers(0, min(n, 144))) * 600_000
    return Query(kind, start, start + 600_000, sources)


def run_query(store, q: Query, tracer) -> None:
    """Plan (call until the DataFrame is returned), then materialise."""
    import time

    from pyspark.sql import functions as F
    from time2feat_spark.plans import router

    from .trace import work_cpu_s

    job = store.ladder()
    c0 = work_cpu_s()
    t0 = time.perf_counter()
    with tracer.span(f"router.{_call(q.kind)}.plan"):
        if q.kind == "agg_6h":
            _, df = router.aggregate_range(job, q.start, q.end, 21600, q.sources)
        elif q.kind == "agg_1d":
            _, df = router.aggregate_range(job, q.start, q.end, 86400, q.sources)
        elif q.kind == "tiered":
            q.tier_plan, df = router.route_range_tiered(
                job, q.start, q.end, 60, q.sources)
            df = df.select("doc_id", "tier",
                           F.unix_millis("window_start").alias("ws"),
                           "count", "sum")
        elif q.kind == "quantile":
            df = router.quantile_range(job, q.start, q.end, 3600, QS, q.sources)
        else:
            df = router.route_points(job, q.start, q.end, q.sources)
    t1 = time.perf_counter()
    with tracer.span(f"router.{_call(q.kind)}.exec"):
        q.rows = df.collect()
    q.plan_s, q.exec_s = t1 - t0, time.perf_counter() - t1
    q.cpu_s = work_cpu_s() - c0


def _call(kind: str) -> str:
    return {"agg_6h": "aggregate_range", "agg_1d": "aggregate_range",
            "tiered": "route_range_tiered", "quantile": "quantile_range",
            "points": "route_points"}[kind]


# ------------------------------------------------------------- answers

def _docs(store, sources):
    return [d for d in store.docs() if store.source_of(d) in sources]


def _in_range(store, doc, start, end):
    ts, v = store.truth_points(doc)
    m = (ts >= start) & (ts < end)
    return ts[m], v[m]


def check_query(store, q: Query) -> str | None:
    """None when the engine's answer equals numpy's, else a reason."""
    fn = {"agg_6h": _check_agg, "agg_1d": _check_agg, "tiered": _check_tiered,
          "quantile": _check_quantile, "points": _check_points}[q.kind]
    return fn(store, q)


def _close(a, b) -> bool:
    return bool(np.allclose(a, b, rtol=1e-9, atol=1e-9))


def _check_agg(store, q):
    res = (6 * HOUR) if q.kind == "agg_6h" else MS_PER_DAY
    want = {}
    for doc in _docs(store, q.sources):
        ts, v = _in_range(store, doc, q.start, q.end)
        b = ts // res * res
        for bk in np.unique(b):
            x = v[b == bk]
            want[(doc, int(bk))] = (len(x), x.sum(), x.min(), x.max())
    got = {(r["doc_id"], int(r["bucket_start_ms"])):
           (r["count"], r["sum"], r["min"], r["max"]) for r in q.rows}
    if got.keys() != want.keys():
        return f"{q.kind}: buckets differ ({len(got)} vs {len(want)})"
    for k, (n, s, lo, hi) in want.items():
        gn, gs, glo, ghi = got[k]
        if gn != n or glo != lo or ghi != hi or not _close(gs, s):
            return f"{q.kind}: bucket {k} differs"
    return None


def _check_tiered(store, q):
    d1 = T0_MS // MS_PER_DAY + 1  # first day whose 1m tier survives
    want, plan = {}, {}
    for doc in _docs(store, q.sources):
        ts, v = _in_range(store, doc, q.start, q.end)
        day = ts // MS_PER_DAY
        for d in np.unique(day):
            tier, w = ("1m", 60_000) if d >= d1 else ("1h", HOUR)
            plan[int(d)] = tier
            t, x = ts[day == d], v[day == d]
            wid = t // w * w
            for ws in np.unique(wid):
                want[(doc, tier, int(ws))] = (int((wid == ws).sum()),
                                              x[wid == ws].sum())
    if {int(k): t for k, t in q.tier_plan.items()} != plan:
        return f"tiered: plan {q.tier_plan} != {plan}"
    got = {(r["doc_id"], r["tier"], int(r["ws"])): (r["count"], r["sum"])
           for r in q.rows}
    if got.keys() != want.keys():
        return f"tiered: windows differ ({len(got)} vs {len(want)})"
    for k, (n, s) in want.items():
        if got[k][0] != n or not _close(got[k][1], s):
            return f"tiered: window {k} differs"
    return None


def _check_quantile(store, q):
    want = {}
    for doc in _docs(store, q.sources):
        ts, v = _in_range(store, doc, q.start, q.end)
        b = ts // HOUR * HOUR
        for bk in np.unique(b):
            x = v[b == bk]
            want[(doc, int(bk))] = (len(x), np.quantile(x, QS))
    got = {(r["doc_id"], int(r["bucket_start_ms"])):
           (r["count"], np.array([r["q_0_5"], r["q_0_95"], r["q_0_99"]]))
           for r in q.rows}
    if got.keys() != want.keys():
        return f"quantile: buckets differ ({len(got)} vs {len(want)})"
    for k, (n, qv) in want.items():
        if got[k][0] != n or not _close(got[k][1], qv):
            return f"quantile: bucket {k} differs"
    return None


def _check_points(store, q):
    want = set()
    for doc in _docs(store, q.sources):
        ts, v = _in_range(store, doc, q.start, q.end)
        want.update(zip([doc] * len(ts), ts.tolist(), v.tolist()))
    got = {(r["doc_id"], r["ts_ms"], r["value"]) for r in q.rows}
    if len(q.rows) != len(want) or got != want:
        return f"points: {len(q.rows)} rows vs {len(want)} expected"
    return None
