"""Retention-policy enforcement over the tier ladder output.

north_rule: the engine is a rollup + downsample + RETENTION engine —
coarser tiers live longer than finer ones (e.g. raw 7d, 1m 90d, 1h 2y,
1d forever). The ladder output is partitioned `source=*/tier=*/
window_day=*`, so enforcement is pure partition-level deletion: no data
is read or rewritten, which is the only retention mechanic that holds
at 100 TB (the Iceberg equivalent is `ALTER TABLE ... DROP PARTITION`
/ delete-matching-partitions + `expire_snapshots`; this filesystem
version carries the identical semantics for the parquet backend).

Every enforcement appends a `retention` record to the checkpoint
manifest, so lineage shows WHEN data expired and under which policy.

The `raw` tier's windows all start at the series epoch (whole-series
blocks), so its age is governed by the data's own window_day like every
other tier — a policy can also pin `raw: None` to keep it forever.
"""

from __future__ import annotations

import glob
import os
import shutil
from dataclasses import dataclass, field

from .checkpoint import Manifest, UnitRecord

MS_PER_DAY = 86_400_000


@dataclass
class RetentionPolicy:
    """tier -> max age in days (None = keep forever)."""

    max_age_days: dict[str, int | None] = field(
        default_factory=lambda: {"raw": 7, "1m": 90, "1h": 730, "1d": None}
    )

    def cutoff_day(self, tier: str, now_ms: int) -> int | None:
        age = self.max_age_days.get(tier)
        if age is None:
            return None
        return now_ms // MS_PER_DAY - age


def enforce_retention(
    out_root: str,
    policy: RetentionPolicy,
    now_ms: int,
    run_id: str = "retention",
) -> dict:
    """Drop every tier=*/window_day=* partition older than its tier's
    cutoff. Pure directory deletes — idempotent, no data scan. Returns
    {dropped: [...], kept: n} and records the action in the manifest."""
    dropped: list[str] = []
    kept = 0
    for tier_dir in sorted(glob.glob(f"{out_root}/source=*/tier=*")):
        tier = tier_dir.rsplit("tier=", 1)[1]
        cutoff = policy.cutoff_day(tier, now_ms)
        for day_dir in sorted(glob.glob(f"{tier_dir}/window_day=*")):
            day = int(day_dir.rsplit("=", 1)[1])
            if cutoff is not None and day < cutoff:
                shutil.rmtree(day_dir)
                dropped.append(os.path.relpath(day_dir, out_root))
            else:
                kept += 1
    if dropped:
        Manifest(out_root).append(
            UnitRecord(
                run_id=run_id,
                unit="retention",
                partition_range=f"{len(dropped)} partitions",
                rollup_watermark=str(now_ms),
                status="retention",
            )
        )
    return {"dropped": dropped, "kept": kept}
