"""Per-partition checkpoint manifests with lineage + metrics.

north_rule: "resumable from per-partition checkpoints carrying lineage
(input snapshot-id, partition range, rollup watermark) and emitted
metrics". The reference's crash-safety mechanic is per-batch CSV spill
(/root/reference/t2f/extraction/extractor.py:68-83); here it becomes a
JSONL manifest of work units, each carrying the input snapshot it was
computed from, the unit's key range, the rollup watermark (high-water
doc_id / timestamp), and throughput metrics.

The snapshot id is a content fingerprint of the input's file listing
(path, size, mtime) — the parquet-backed stand-in for an Iceberg
snapshot-id (no Iceberg runtime jar in this sandbox; the TableIO layer
keeps the interface so an Iceberg catalog can slot in, SURVEY.md §7.0).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class UnitRecord:
    """One manifest line. ``windows_out``, ``points`` (sum of window
    counts) and ``bytes_compressed`` (Gorilla block bytes) are what this
    run wrote for the unit: in append mode the increment, not the
    unit's cumulative totals."""

    run_id: str
    unit: str  # partition unit key, e.g. "source=src_3"
    input_snapshot_id: str
    partition_range: str  # e.g. doc_id min..max processed in this unit
    rollup_watermark: str  # high-water mark for incremental resume
    rows_in: int
    windows_out: int
    points: int
    bytes_compressed: int
    wall_ms: int
    status: str = "done"
    ts: float = field(default_factory=time.time)


def snapshot_id(path: str) -> str:
    """Content fingerprint of a parquet dataset's file listing."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            st = os.stat(os.path.join(root, f))
            h.update(f"{os.path.join(root, f)}|{st.st_size}|{int(st.st_mtime)}".encode())
    return h.hexdigest()[:16]


class Manifest:
    """Append-only JSONL checkpoint manifest for one output table."""

    def __init__(self, out_root: str):
        self.path = os.path.join(out_root, "_checkpoints", "manifest.jsonl")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)

    def records(self) -> list[UnitRecord]:
        if not os.path.exists(self.path):
            return []
        out = []
        with open(self.path) as f:
            for line in f:
                if line.strip():
                    out.append(UnitRecord(**json.loads(line)))
        return out

    def done_units(self, input_snapshot: str) -> dict[str, UnitRecord]:
        """Latest record per unit that is done AND matches the snapshot."""
        latest: dict[str, UnitRecord] = {}
        for r in self.records():
            latest[r.unit] = r
        return {
            u: r
            for u, r in latest.items()
            if r.status == "done" and r.input_snapshot_id == input_snapshot
        }

    def watermarks(self) -> dict[str, str]:
        """Latest done watermark per unit regardless of snapshot (used by
        incremental runs to process only rows past the mark)."""
        out: dict[str, str] = {}
        for r in self.records():
            if r.status == "done":
                out[r.unit] = r.rollup_watermark
        return out

    def dangling_units(self) -> set[str]:
        """Units whose LATEST record is 'started': a run crashed between
        the unit's data write and its 'done' record, so the unit's output
        directory may hold a partial (or duplicate-appended) increment.
        Resume must rebuild these units with a full overwrite."""
        latest: dict[str, UnitRecord] = {}
        for r in self.records():
            latest[r.unit] = r
        return {u for u, r in latest.items() if r.status == "started"}

    def append(self, rec: UnitRecord) -> None:
        with open(self.path, "a") as f:
            f.write(json.dumps(asdict(rec)) + "\n")
