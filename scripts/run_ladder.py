#!/usr/bin/env python
"""Cluster entry point for the resumable tier-ladder job.

Usage (north_rule launch mode):

  zip -r t2f_spark.zip time2feat_spark
  spark-submit --py-files t2f_spark.zip scripts/run_ladder.py \
      --input  s3://bucket/sequences \
      --output s3://bucket/rollup \
      [--incremental] [--conf spark.sql.shuffle.partitions=2000]

On a real cluster pass the usual --master/--num-executors/--conf flags;
the job itself is agnostic (no local-mode assumptions). It passes no
partition count to any shuffle: AQE sizes each unit's rebalance from the
bytes it carries, up to spark.sql.shuffle.partitions, so a cluster run
raises that conf as it would for any other keyed shuffle. Re-running after
a failure resumes from the checkpoint manifest; --incremental processes
only rows past each unit's watermark.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local runs: the package sits next to scripts/; on a cluster
# --py-files t2f_spark.zip makes this a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--incremental", action="store_true")
    p.add_argument("--max-units", type=int, default=None)
    p.add_argument(
        "--retention",
        default=None,
        help="per-tier max-age days as tier=days[,tier=days...]; 'forever' "
        "keeps a tier indefinitely (e.g. raw=7,1m=90,1h=730,1d=forever). "
        "Enforced after the run by LadderJob.maintain() as pure window_day "
        "partition drops, followed by its compaction pass.",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="after the run, run LadderJob.maintain(): retention (keep "
        "everything unless --retention is given), then rewrite each "
        "(tier, window_day) leaf holding more than one file to one file — "
        "the small-file maintenance pass for rebalanced/incremental writes (on "
        "Iceberg use rewrite_data_files instead).",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from time2feat_spark.plans.ladder_job import LadderJob

    spark = SparkSession.builder.appName("t2f-ladder").getOrCreate()
    job = LadderJob(spark, args.input, args.output)
    res = job.run(incremental=args.incremental, max_units=args.max_units)
    if args.retention or args.compact:
        from time2feat_spark.plans.retention import RetentionPolicy

        # without --retention the pass keeps everything, so --compact alone
        # never drops data under the default policy
        ages: dict = {}
        for part in args.retention.split(",") if args.retention else []:
            tier, days = part.split("=")
            ages[tier] = None if days == "forever" else int(days)
        res.update(job.maintain(RetentionPolicy(ages)))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
