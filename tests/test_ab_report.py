"""`scripts/ab.py`'s summary, fed synthetic perfbench results (no Spark,
no benchmark run): each side's operations attempted and failed are summed
per workload, so an A/B shows whether the change fails more operations
than its base."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ab():
    spec = importlib.util.spec_from_file_location(
        "ab", os.path.join(ROOT, "scripts", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _result(correct, attempted, failed, ingest):
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {"ingest_raw_pts_per_cpu_s": {"value": ingest}}}


def test_report_prints_summed_operation_counts(capsys):
    ops = {  # (workload, seed, side) -> (correct, attempted, failed)
        ("event_points", 1, "base"): (True, 28, 0),
        ("event_points", 1, "head"): (True, 28, 0),
        ("event_points", 2, "base"): (False, 27, 2),
        ("event_points", 2, "head"): (True, 28, 0),
        ("long_series", 1, "base"): (True, 28, 0),
        ("long_series", 1, "head"): (False, 26, 3),
    }
    rows = [
        {"workload": w, "seed": s, "side": side,
         "result": _result(*v, ingest=100.0 + s)}
        for (w, s, side), v in ops.items()
    ]
    _ab().report(rows)
    out = capsys.readouterr().out
    assert "event_points: 2 pairs; not correct: base 1, head 0" in out
    assert "operations attempted/failed: base 55/2, head 56/0" in out
    assert "long_series: 1 pairs; not correct: base 0, head 1" in out
    assert "operations attempted/failed: base 28/0, head 26/3" in out
