"""Resumable tier-ladder job: the production entry point of the engine.

Work is split into per-source units (the input's natural partition key;
at 100 TB the input table is partitioned by source, so each unit's scan
is partition-pruned). Each unit is rebalanced, rolled up, written to its
own output partition directory (idempotent overwrite), and checkpointed
in the manifest with lineage + metrics. A re-run skips units whose
checkpoint matches the current input snapshot — kill the job after k
units and the next run completes only the missing ones, yielding the
identical table (tests/test_resume.py).

Skew is handled explicitly (north_rule): the Zipf-heavy source holds
~35% of rows. Every unit is its own shuffle, a ``rebalance`` hint on
``doc_id`` before the rollup, and states no partition count: AQE sizes
it from the bytes the unit actually carries, coalescing a small unit's
partitions and splitting a hot one's, so a hot source still rolls and
writes through many parallel tasks. A row is a whole series, so any
split keeps every window whole. A cluster run bounds the shuffle with
``spark.sql.shuffle.partitions``.

Incremental mode realizes the continuous-aggregate semantics as
restartable batch (SURVEY.md §2.9): sequences are append-only with
monotonically increasing doc_id, so each unit's rollup watermark is its
high-water doc_id; the next run processes only ``doc_id > watermark``
and appends the new windows.

A unit's manifest metrics (``windows_out``, ``points``,
``bytes_compressed``) and its new watermark are what this run wrote —
in append mode the increment, not the unit's running total. They are
observed on the write itself (``DataFrame.observe``), so recording them
costs no extra scan of the output or the input.

``run`` only writes. The rebalanced and incremental writes leave many
small files per leaf; ``maintain`` is the one pass that cleans up after
them: retention drops, then a file-level compaction that rewrites each
multi-file leaf as one file (no Spark job), each rewrite logged in the
manifest.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.rollup import (
    RollupConfig,
    assemble,
    rollup_sequences,
    tier_table_schema,
)
from .checkpoint import Manifest, UnitRecord, snapshot_id


class LadderJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        out_root: str,
        cfg: RollupConfig | None = None,
    ):
        self.spark = spark
        self.input_path = input_path
        self.out_root = out_root
        self.cfg = cfg or RollupConfig()
        self.manifest = Manifest(out_root)

    def _unit_stats(self, df: DataFrame) -> list[tuple[str, int]]:
        """Pre-pass histogram: (source, rows) — the units, and each
        unit's ``rows_in``."""
        rows = df.groupBy("source").count().collect()
        return sorted((r["source"], r["count"]) for r in rows)

    def run(
        self,
        incremental: bool = False,
        max_units: int | None = None,
    ) -> dict:
        """Process all pending units; returns run metrics. ``max_units``
        stops early (used by resume tests to simulate a crash)."""
        run_id = uuid.uuid4().hex[:8]
        snap = snapshot_id(self.input_path)
        seq = self.spark.read.parquet(self.input_path)
        units = self._unit_stats(seq)
        done = self.manifest.done_units(snap)
        watermarks = self.manifest.watermarks() if incremental else {}
        dangling = self.manifest.dangling_units()

        processed, skipped = [], []
        for source, n_rows in units:
            unit = f"source={source}"
            if unit in done:
                skipped.append(unit)
                continue
            if max_units is not None and len(processed) >= max_units:
                break
            t0 = time.time()
            part = seq.where(F.col("source") == source)
            wm = watermarks.get(unit)
            mode = "overwrite"
            # a dangling 'started' tombstone means a prior run died after
            # (possibly partially) appending this unit's increment — the
            # only safe resume is a full rebuild of the unit (idempotent
            # overwrite), never another append on top of unknown state
            if incremental and wm is not None and unit not in dangling:
                part = part.where(F.col("doc_id") > wm)
                mode = "append"
            # record intent BEFORE mutating output: crash between the data
            # write and the 'done' record leaves this tombstone behind
            self.manifest.append(
                UnitRecord(
                    run_id=run_id,
                    unit=unit,
                    input_snapshot_id=snap,
                    partition_range=f"{source}",
                    rollup_watermark=str(wm or ""),
                    rows_in=n_rows,
                    status="started",
                )
            )
            # the unit's metrics and its new watermark are observed while
            # the write runs: no re-read of the output, no second scan
            seen, wrote = Observation(), Observation()
            part = part.observe(seen, F.max("doc_id").alias("hi"))
            flat = rollup_sequences(part.hint("rebalance", "doc_id"), self.cfg)
            # window_day partition level makes retention a directory/
            # Iceberg-partition DROP instead of a data rewrite
            out = (
                assemble(flat, self.cfg)
                .drop("source")
                .withColumn(
                    "window_day",
                    F.floor(F.unix_millis("window_start") / F.lit(86_400_000))
                    .cast("long"),
                )
                .observe(
                    wrote,
                    F.count(F.lit(1)).alias("w"),
                    F.sum("count").alias("p"),
                    F.sum(
                        F.coalesce(F.length("val_gorilla"), F.lit(0))
                        + F.coalesce(F.length("ts_gorilla"), F.lit(0))
                    ).alias("b"),
                )
            )
            out.write.mode(mode).partitionBy("tier", "window_day").parquet(
                f"{self.out_root}/source={source}"
            )
            stats = wrote.get
            hi = seen.get["hi"] or wm or ""
            rec = UnitRecord(
                run_id=run_id,
                unit=unit,
                input_snapshot_id=snap,
                partition_range=f"{source}",
                rollup_watermark=str(hi),
                rows_in=n_rows,
                windows_out=stats["w"],
                points=stats["p"] or 0,
                bytes_compressed=stats["b"] or 0,
                wall_ms=int((time.time() - t0) * 1000),
            )
            self.manifest.append(rec)
            processed.append(unit)

        return {
            "run_id": run_id,
            "snapshot": snap,
            "processed": processed,
            "skipped": skipped,
            "pending": len(units) - len(processed) - len(skipped),
        }

    def maintain(self, policy=None, now_ms: int | None = None) -> dict:
        """One maintenance pass over the output table: retention first
        (pure window_day partition drops — cheaper to delete before
        rewriting), then small-file compaction of every multi-file leaf
        to one file. Both steps are idempotent and manifest-logged;
        this is the cron-able entry point a deployment schedules between
        runs, and the only compaction path."""
        from .compaction import compact_all
        from .retention import RetentionPolicy, enforce_retention

        policy = policy or RetentionPolicy()
        now = int(time.time() * 1000) if now_ms is None else now_ms
        ret = enforce_retention(self.out_root, policy, now)
        comp = compact_all(self.out_root)
        return {"retention": ret, "compaction": comp}

    def read_output(self) -> DataFrame:
        """The whole tier table, read with the schema declared by
        ``tier_table_schema(self.cfg)``, not inferred from the files:
        planning the read opens no parquet footer and launches no Spark
        job, a digit-only source name stays a string, and a table with
        no data files yet (before the first run, or after retention
        dropped every partition) reads as 0 rows of that schema. The
        ``feat`` struct follows ``self.cfg.features``, so open the table
        with the config it was written with: a feature its files lack
        reads as null."""
        return (
            self.spark.read.schema(tier_table_schema(self.cfg))
            .option("basePath", self.out_root)
            .parquet(self.out_root)
        )

    def read_tier_range(
        self,
        tier: str,
        start_ms: int,
        end_ms: int,
        sources: list[str] | None = None,
    ) -> DataFrame:
        """Windows of one tier whose window_start falls in
        [start_ms, end_ms). The time bound is applied TWICE: once on the
        `window_day` PARTITION column (resolved against the directory
        listing at planning time — days outside the range are never
        opened; at 100 TB this is the difference between reading two
        days and scanning a year) and once exactly on window_start.
        `sources` adds source-partition pruning the same way. The read
        is ``read_output``'s, so its schema is declared, not inferred,
        and building this DataFrame launches no Spark job."""
        lo_day = start_ms // 86_400_000
        hi_day = (end_ms - 1) // 86_400_000
        df = self.read_output().where(
            (F.col("tier") == tier)
            & F.col("window_day").between(lo_day, hi_day)
            & (F.unix_millis("window_start") >= start_ms)
            & (F.unix_millis("window_start") < end_ms)
        )
        if sources is not None:
            df = df.where(F.col("source").isin(sources))
        return df
