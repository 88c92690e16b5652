"""Per-stage noop-sink benchmarks (optimization guide §1.4).

bench.py is the driver's FROZEN headline bench; this file holds the
round-6 instrumentation used to attribute time inside the hot queries:
every stage is timed with the noop sink (computes every column, no
output cost) and labelled via setJobDescription. Numbers land in
OPTIMIZATION_r06.md.

Usage:
    python bench_extra.py                 # sf from $SPARK_GRAFT_SF_DIR
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from bench import _bench_sequences_path, _spark, _warm_python_workers
    from time2feat_spark.operators.dedup import _oph_udf, _seeded, _shingles
    from time2feat_spark.operators.rollup import (
        RollupConfig,
        assemble,
        rollup_points,
        rollup_sequences,
    )
    from time2feat_spark.operators.text import _words

    spark = _spark(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    seq_path = _bench_sequences_path(spark)
    spark.read.parquet(seq_path).count()
    _warm_python_workers(spark)
    out: dict[str, float] = {}

    def timed(name, fn):
        walls = []
        for _ in range(N_PASSES):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            fn()
            walls.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(min(walls), 3)
        print(f"{name:44s} min {min(walls):6.3f} "
              f"all {[round(w, 2) for w in walls]}", flush=True)

    docs = lambda: E._t(spark, SF_DIR, "documents")  # noqa: E731
    ev = lambda: E._t(spark, SF_DIR, "events")  # noqa: E731
    seq = lambda: spark.read.parquet(seq_path)  # noqa: E731

    # --- minhash stages ---
    sh_expr = lambda d: d.select(  # noqa: E731
        F.col("doc_id").alias("id"),
        F.array_distinct(_shingles(F.col("text"), 5)).alias("shset"),
    )
    timed("minhash: shingle+distinct (noop)", lambda: noop(sh_expr(docs())))
    timed(
        "minhash: shingle+ckpt+OPH (noop)",
        lambda: noop(
            sh_expr(docs())
            .localCheckpoint(eager=True)
            .select("id", _oph_udf(64)(_seeded(F.col("shset"), 42)))
        ),
    )
    timed("minhash: full (count)",
          lambda: E.q_minhash_near_dups(spark, SF_DIR).count())

    # --- vocabulary pipeline stages ---
    toks = lambda: docs().select(  # noqa: E731
        F.col("doc_id"), F.explode(_words(F.col("text"))).alias("term")
    )
    timed("text: tokenize+explode (noop)", lambda: noop(toks()))
    timed("text: tf groupBy(doc,term) (noop)",
          lambda: noop(toks().groupBy("doc_id", "term").count()))
    timed("tfidf: full (count)",
          lambda: E.q_tfidf_top_terms(spark, SF_DIR).count())
    timed("bm25: full (count)",
          lambda: E.q_bm25_dbterms(spark, SF_DIR).count())
    timed("pmi: full (count)",
          lambda: E.q_pmi_collocations(spark, SF_DIR).count())

    # --- events rollup stages ---
    cfg = RollupConfig(
        tiers=[("1h", 3600)], include_raw=False, compress=False, features=[]
    )
    timed("events: scan (noop)",
          lambda: noop(ev().select("event_type", "ts", "value")))
    timed("events: rollup_points 1h basic (noop)",
          lambda: noop(rollup_points(ev(), ["event_type"], "ts", "value", cfg)))

    # --- ladder stages ---
    timed("ladder: kernels no-gorilla (noop)",
          lambda: noop(assemble(rollup_sequences(
              seq(), RollupConfig(compress=False)))))
    timed("ladder: kernels+gorilla (noop)",
          lambda: noop(assemble(rollup_sequences(seq(), RollupConfig()))))

    print(json.dumps({"sf": os.path.basename(SF_DIR.rstrip("/")),
                      "stages": out}))


if __name__ == "__main__":
    main()
