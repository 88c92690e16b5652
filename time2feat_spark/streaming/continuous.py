"""Continuous aggregates over streams (SURVEY.md §2.9).

``ContinuousRollup`` is the engine's exactness-preserving path:
foreachBatch appends raw points to a staging table partitioned by the
coarsest-tier chunk, then idempotently RE-ROLLS exactly the chunk
partitions the batch touched (dynamic partition overwrite). Holistic
statistics (quantiles, autocorrelation, streaks) are recomputed from
the chunk's raw points, so late/out-of-order data converges to the
same tier tables a batch run over the full input produces — "drop
late" would break tier-exact equality, reprocessing is the design.
Restart safety comes from the streaming checkpoint (source offsets)
plus idempotent partition overwrites.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..operators.rollup import RollupConfig, rollup_points


class ContinuousRollup:
    def __init__(
        self,
        staging_path: str,
        out_root: str,
        key_cols: list[str],
        ts_col: str,
        val_col: str,
        cfg: RollupConfig | None = None,
    ):
        self.staging_path = staging_path
        self.out_root = out_root
        self.key_cols = key_cols
        self.ts_col = ts_col
        self.val_col = val_col
        self.cfg = cfg or RollupConfig(include_raw=False)
        self.coarsest_ms = max(sec for _, sec in self.cfg.tiers) * 1000

    def _chunk(self, ms) -> Column:
        # F.floor, not a truncating cast: floors toward -inf like the
        # kernel-side window ids, so a pre-1970 window keeps its own chunk
        return F.floor(ms / F.lit(self.coarsest_ms)).cast("long")

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        staged = batch_df.withColumn(
            "_stage_chunk",
            self._chunk(F.unix_millis(F.col(self.ts_col).cast("timestamp"))),
        )
        staged.write.mode("append").partitionBy("_stage_chunk").parquet(
            self.staging_path
        )
        touched = [r[0] for r in staged.select("_stage_chunk").distinct().collect()]
        if not touched:
            return
        # re-roll only the touched chunk partitions, from ALL staged points
        pts = (
            spark.read.option("basePath", self.staging_path)
            .parquet(self.staging_path)
            .where(F.col("_stage_chunk").isin(touched))
            .drop("_stage_chunk")
        )
        rolled = rollup_points(
            pts, self.key_cols, self.ts_col, self.val_col, self.cfg
        ).withColumn("_out_chunk", self._chunk(F.col("window_start_ms")))
        # dynamic overwrite for this write only, not the whole session
        rolled.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_out_chunk").parquet(self.out_root)

    def start(self, stream: DataFrame, checkpoint: str, available_now: bool = True):
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def read_output(self, spark) -> DataFrame:
        return (
            spark.read.option("basePath", self.out_root)
            .parquet(self.out_root)
            .drop("_out_chunk")
        )
