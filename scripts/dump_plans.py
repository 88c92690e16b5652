"""Dump .explain("formatted") for named driver queries to files.

Usage:
    python scripts/dump_plans.py OUTDIR SUFFIX [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query (default: every
query in queries()). Plans are built, not collected, at
$SPARK_GRAFT_SF_DIR (default sf0.1); building some queries still runs
Spark jobs (eager checkpoints, and the IVF layout and LadderJob tables
cached under .cache/ on first use). No query branches on input size,
so plan shape does not depend on sf; AQE runtime rewrites are noted in
OPTIMIZATION_r06.md where they matter.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(outdir, exist_ok=True)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as E
    from time2feat_spark.session import get_spark

    spark = get_spark(
        "plan-dump",
        master="local[4]",
        extra={"spark.ui.enabled": "false"},
    )
    qs = E.queries()
    for name in sys.argv[3:] or qs:
        if name not in qs:
            print(f"skip {name}: not a declared query")
            continue
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(f"{outdir}/{name}_{suffix}.txt", "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {outdir}/{name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
