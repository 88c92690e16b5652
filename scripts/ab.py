#!/usr/bin/env python3
"""Interleaved A/B of the rollup-engine benchmark: a git revision against
the working tree.

    python3 scripts/ab.py --rev HEAD --seeds 1-10 [--trace 1]

The revision is exported with ``git archive`` into a temporary directory
(no worktree, nothing written under ``.git``). For every seed and
every workload of ``BENCHMARK.json``, ``perfbench/run.py`` runs for the
benchmark's ``run_seconds`` once in that export (``base``) and once in
the working tree (``head``), one after the other; odd-numbered pairs
run ``base`` first and even-numbered pairs ``head`` first, so drift on
the machine does not always favour the same side.

For each workload and metric the summary prints each side's median and
quartiles, the pairs ``head`` won (ties count for neither side, the
better direction comes from ``BENCHMARK.json``), and the median of the
per-pair ``head / base`` ratios. Runs that were not ``correct`` are
counted and left out of the metric rows. Each side's operations
attempted and failed are summed over its runs.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def export(rev: str, dest: str) -> None:
    tar = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                         check=True, capture_output=True).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as t:
        t.extractall(dest, filter="data")


def run_one(tree: str, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True,
                       timeout=1800)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(rows: list[dict]) -> None:
    better = {m["name"]: m["better"]
              for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    by = defaultdict(dict)  # (workload, seed) -> side -> result
    for r in rows:
        by[(r["workload"], r["seed"])][r["side"]] = r["result"]
    for workload in sorted({w for w, _ in by}):
        pairs = [(s, by[(w, s)]) for w, s in sorted(by) if w == workload]
        pairs = [(s, p) for s, p in pairs if "base" in p and "head" in p]
        bad = {side: sum(not p[side]["correct"] for _, p in pairs)
               for side in ("base", "head")}
        ops = {side: [sum(p[side][k] for _, p in pairs)
                      for k in ("attempted", "failed")]
               for side in ("base", "head")}
        print(f"\n{workload}: {len(pairs)} pairs; not correct: base "
              f"{bad['base']}, head {bad['head']}")
        print("  operations attempted/failed: "
              f"base {ops['base'][0]}/{ops['base'][1]}, "
              f"head {ops['head'][0]}/{ops['head'][1]}")
        print(f"  {'metric':<40} {'base median [q1, q3]':>28} "
              f"{'head median [q1, q3]':>28} {'wins':>6} {'ratio':>6}")
        ok = [p for _, p in pairs if p["base"]["correct"] and p["head"]["correct"]]
        names = sorted({m for p in ok for m in p["base"]["metrics"]})
        for name in names:
            both = [(p["base"]["metrics"][name]["value"],
                     p["head"]["metrics"][name]["value"])
                    for p in ok if name in p["head"]["metrics"]
                    and name in p["base"]["metrics"]]
            if not both:
                continue
            b = [x for x, _ in both]
            h = [y for _, y in both]
            sign = 1 if better.get(name, "lower") == "higher" else -1
            wins = sum((y - x) * sign > 0 for x, y in both)
            ratios = [y / x for x, y in both if x]
            ratio = f"{statistics.median(ratios):.3f}" if ratios else "-"
            bq, hq = quartiles(b), quartiles(h)
            print(f"  {name:<40} {bq[1]:>10.4g} [{bq[0]:.4g}, {bq[2]:.4g}]"
                  f"{'':>2} {hq[1]:>10.4g} [{hq[0]:.4g}, {hq[2]:.4g}]"
                  f"{'':>2} {wins:>3}/{len(both):<2} {ratio:>6}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--rev", default="HEAD", help="base revision")
    p.add_argument("--seeds", default="1-10", help="e.g. 1-10 or 1,3,5")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    base = tempfile.mkdtemp(prefix="ab-base-")
    rows: list[dict] = []
    try:
        export(args.rev, base)
        trees = {"base": base, "head": ROOT}
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("base", "head") if i % 2 == 0 else ("head", "base")
            for workload in (w["name"] for w in BENCH["workloads"]):
                for side in order:
                    res = run_one(trees[side], workload, seed, args.trace)
                    rows.append({"workload": workload, "seed": seed,
                                 "side": side, "result": res})
                    print(f"ab: {workload} seed={seed} {side} "
                          f"correct={res['correct']}", file=sys.stderr,
                          flush=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    report(rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
