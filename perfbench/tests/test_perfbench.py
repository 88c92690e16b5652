"""The benchmark's own tests: generators, spans, miniature runs of each
workload, and the output check catching a corrupted Gorilla block.

    python -m pytest perfbench/tests -q

The miniature runs start Spark, so each takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer, _jit_ticks, work_cpu_s  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_long_series_is_partitioning_invariant():
    whole = gen.long_series(5, 0, 4, 2, 1000, 3000)
    parts = [gen.long_series(5, 0, 1, 2, 1000, 3000),
             gen.long_series(5, 1, 4, 2, 1000, 3000)]
    assert whole.to_pylist() == parts[0].to_pylist() + parts[1].to_pylist()
    assert whole.to_pylist() != gen.long_series(6, 0, 4, 2, 1000, 3000).to_pylist()


def test_event_chunks_are_sorted_and_seeded():
    ts, v = gen.event_chunk(3, key=7, day=1, hot=False)
    assert np.all(np.diff(ts) > 0)
    assert ts[0] >= gen.T0_MS + gen.MS_PER_DAY
    assert ts[-1] < gen.T0_MS + 2 * gen.MS_PER_DAY
    ts2, v2 = gen.event_chunk(3, key=7, day=1, hot=False)
    assert np.array_equal(ts, ts2) and np.array_equal(v, v2)
    assert not np.array_equal(ts, gen.event_chunk(4, key=7, day=1, hot=False)[0])


def test_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = sorted(tr.spans, key=lambda s: s.name != "outer")
    selfs = tr.self_times()
    assert selfs["inner"] == pytest.approx(inner.dur)
    assert selfs["outer"] == pytest.approx(outer.dur - inner.dur)


def test_work_cpu_counts_this_process():
    assert _jit_ticks(os.getpid()) == 0  # not a JVM
    c0 = work_cpu_s()
    t_end = time.process_time() + 0.3
    while time.process_time() < t_end:
        pass
    assert work_cpu_s() - c0 >= 0.2


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--mini"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_miniature_prints_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


CORRUPT = """
import json, sys
sys.path.insert(0, {root!r})
from perfbench.run import execute, parse_args
from perfbench.checks import corrupt_one_block

args = parse_args(["--workload", "long_series", "--seed", "3",
                   "--seconds", "1", "--mini"])
result, run = execute(args, on_written=lambda r: corrupt_one_block(
    r.store, r.sample[0]))
print(json.dumps({{"result": result, "failures": run.failures}}))
"""


def test_corrupted_gorilla_block_fails_the_check():
    p = subprocess.run([sys.executable, "-c", CORRUPT.format(root=ROOT)],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["result"]["correct"] is False
    assert out["result"]["failed"] >= 1
    assert any("oracle" in f for f in out["failures"])
    assert any("roundtrip" in f for f in out["failures"])


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "long_series",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120, env=env)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
