"""SparkSession factory with the engine's standard configuration.

Scale posture (SURVEY.md §4): AQE on (runtime coalescing + skew-join
splitting), Arrow on with a batch size tuned for array columns, UTC
session timezone so window arithmetic is timezone-free, and shuffle
partitions sized for the local harness (overridable for a real cluster
via normal --conf flags; nothing here hard-codes local mode for the
engine itself).
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batches are bounded by BYTES (Spark 4's direct knob), not a
    # row count: token arrays average ~4 KB, so a 4 MB cap yields the
    # same ~1k-row batches that keep each kernel's padded window
    # matrices ~100-150 MB (the old maxRecordsPerBatch=1024 invariant),
    # while SCALAR point rows (~16-40 B) now cross in ~100-250k-row
    # batches instead of 1024 — the row-count cap made every 1M-point
    # rollup pay ~1000 tiny Arrow batch round-trips per partition
    "spark.sql.execution.arrow.maxBytesPerBatch": str(4 * 1024 * 1024),
    "spark.sql.execution.arrow.maxRecordsPerBatch": "1048576",
    "spark.sql.shuffle.partitions": "32",
    # small scan splits by default: the harness's inputs are single-file
    # tables whose parallelism is row-group-bound (~21 MB row groups in
    # the largest), so 16m splits give each row group its own task
    # (pricing_summary 0.59 -> 0.40 s at sf1.0). For production-scale
    # sequential scans the guide's 512m-1g advice applies — override via
    # SPARK_GRAFT_MAX_PARTITION_BYTES (or --conf) on a real cluster.
    "spark.sql.files.maxPartitionBytes": os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"
    ),
    # snappy, not zstd (r6): the engine's dominant write payload is
    # Gorilla-compressed binary columns — already high-entropy, so zstd
    # doubled the ladder write wall for a ~25% file-size win (measured
    # /dev/shm, 313 MB raw: zstd 15.5 s/216 MB vs snappy 7.4 s/298 MB).
    # Gorilla IS the compression layer; the parquet codec is a wrapper.
    "spark.sql.parquet.compression.codec": "snappy",
    "spark.driver.memory": "8g",
}


def get_spark(app: str = "time2feat_spark", master: str | None = None,
              extra: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        b = b.master(master)
    elif not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        b = b.master(f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    if extra:
        conf.update(extra)
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def cache_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    directory only when the archive's (mtime_ns, size) changed.

    A Python worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Before 3.12 each
    zipimporter then eagerly re-reads its whole archive directory, and
    there is one importer per package dir of pyspark.zip and py4j: most
    of a reused worker's fixed CPU cost per task outside the UDF. Here
    each archive's directory is read once per process and shared by its
    importers; a rewritten archive is still picked up. Idempotent.
    """
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_keyed", False):
        return
    read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        key = (st.st_mtime_ns, st.st_size)
        hit = read.get(self.archive)
        if hit is not None and hit[0] == key:
            self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        original(self)
        if self.archive in zipimport._zip_directory_cache:  # read succeeded
            read[self.archive] = (key, self._files)

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
