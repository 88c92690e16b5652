"""Rollup-engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload long_series --seed 1 --seconds 3 --trace 0

Each run starts a fresh ``local[4]`` session, generates its inputs from
the seed, then drives the store's whole life through the engine's
public entry points: build, incremental append, ``maintain()``
(retention and compaction), and a closed loop of dashboard reads with
one client for ``--seconds`` seconds. Every output is checked against
the generator (see checks.py and reads.py). The last line on stdout is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The exit code
is 0 only when every operation succeeded and every check passed.

All files live in a directory under ``.perfbench_work/`` next to this
package, removed when the run ends; a traced run leaves its spans in
``.perfbench_work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import uuid
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("long_series", "event_points")
CORES = 4
GEN_REPS = 3  # input generations in set-up; setup_s takes their median
WARM_SEED_OFFSET = 0x9E3779B97F4A7C15  # inputs of the warm-up pass


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the timed read loop")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--mini", action="store_true",
                   help="miniature inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def _noop_batches(batches):
    for b in batches:
        yield b.iloc[:0]


class Run:
    """One benchmark run: session, store life cycle, checks, metrics."""

    def __init__(self, args, work: str, tracer, on_written=None):
        self.args = args
        self.work = work
        self.tracer = tracer
        self.on_written = on_written  # test hook: called after the append
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None
        self.store = None
        self.t: dict[str, float] = {}
        self.queries = []
        self.sample: list[str] = []
        self.stored = None
        self.maintain_result = None
        self.build_files = 0
        self.build_units: list[float] = []
        self.written_bytes = 0
        self.layer_metrics: dict[str, tuple[float, str]] = {}
        self.span_cost_s = 0.0
        self.cpu: dict[str, float] = {}

    # -- operations ---------------------------------------------------------
    def op(self, name: str, fn):
        """Run one counted operation; a raise or a failed check (a
        returned reason) counts as a failure."""
        self.attempted += 1
        try:
            reason = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            reason = f"{name} raised"
        if reason:
            self.failures.append(f"{name}: {reason}")
            print(f"perfbench: FAILED {name}: {reason}", file=sys.stderr)
        return reason

    @contextmanager
    def checking(self):
        with self.tracer.span("checks") as s:
            yield
        self.t["checks"] = self.t.get("checks", 0.0) + s.dur

    def timed(self, name: str, fn) -> None:
        from .trace import work_cpu_s

        def call():
            c0 = work_cpu_s()
            with self.tracer.span(name) as s:
                fn()
            self.cpu[name] = work_cpu_s() - c0
            self.t[name] = s.dur
        self.op(name, call)

    # -- phases ---------------------------------------------------------------
    def setup(self) -> None:
        import numpy as np

        from .workloads import make_store

        tr = self.tracer
        with tr.span("setup"):
            with tr.span("session.start") as s:
                self.spark = start_session(
                    self.work, f"{self.work}/events" if self.args.trace else None)
            self.t["session.start"] = s.dur
            tr.sc = self.spark.sparkContext
            with tr.span("session.warm") as s:
                self.spark.range(0, 4096, 1, CORES).mapInPandas(
                    _noop_batches, "id long").count()
            self.t["session.warm"] = s.dur
            self.store = make_store(self.args.workload, self.spark, self.work,
                                    self.args.seed,
                                    "mini" if self.args.mini else "full")
            gens = []
            for r in range(GEN_REPS):
                dest = self.work if r == GEN_REPS - 1 else f"{self.work}/gen{r}"
                with tr.span("gen") as s:
                    self.store.generate(dest)
                gens.append(s.dur)
                if dest != self.work:
                    shutil.rmtree(dest)
            with tr.span("warm.engine") as s:
                self.warm_engine()
            self.t["warm.engine"] = s.dur
        self.t["setup"] = (self.t["session.start"] + self.t["session.warm"]
                           + statistics.median(gens) + self.t["warm.engine"])
        rng = np.random.default_rng([self.args.seed, 1])
        docs = self.store.docs()
        self.sample = sorted(rng.choice(docs, size=min(2, len(docs)),
                                        replace=False).tolist())

    def warm_engine(self) -> None:
        """One untimed build, append and maintain() over inputs from a
        derived seed (sizes in workloads.SIZES). The JVM compiles the
        engine's hot paths during this pass: without it, the timed phases
        cost up to 1.5 times the CPU time of later identical ones.
        maintain() must find appended files to compact, or compaction
        stays cold."""
        from .workloads import make_store

        warm = f"{self.work}/warm"
        os.makedirs(warm)
        st = make_store(self.args.workload, self.spark, warm,
                        (self.args.seed + WARM_SEED_OFFSET) % 2**64,
                        "mini" if self.args.mini else "warm")
        st.generate(warm)
        st.build()
        st.append()
        st.maintain()
        shutil.rmtree(warm)

    def write(self) -> None:
        st = self.store
        self.timed("build", st.build)
        if st.job is not None:
            self.build_units = [r.wall_ms / 1e3 for r in st.job.manifest.records()
                                if r.status == "done"]
        self.build_files = len(st.parquet_files())
        self.timed("append", st.append)
        if self.on_written:
            self.on_written(self)
        self.written_bytes = st.stored_bytes()
        with self.checking():
            from . import checks

            self.op("check_tiers", lambda: checks.check_tiers(st))

            def oracle():
                self.stored = st.stored_rows(self.sample)
                return checks.check_oracle(st, self.sample, self.stored)

            self.op("check_oracle", oracle)
            self.op("check_roundtrip",
                    lambda: checks.check_roundtrip(st, self.stored))

    def maintain(self) -> None:
        from . import checks

        def run():
            self.maintain_result = self.store.maintain()

        self.timed("maintain", run)
        with self.checking():
            self.op("check_retention", lambda: checks.check_retention(self.store))

    def reads(self) -> None:
        import numpy as np

        from .reads import CYCLE, KINDS, check_query, make_query, run_query

        rng = np.random.default_rng([self.args.seed, 2])

        def cycle(into: list, kinds: list) -> None:  # in seeded order
            for kind in rng.permutation(kinds):
                q = make_query(self.store, str(kind), rng)
                if self.op(f"read_{kind}",
                           lambda: run_query(self.store, q, self.tracer)) is None:
                    into.append(q)

        warm: list = []
        with self.tracer.span("reads.warm"):
            cycle(warm, KINDS)  # the first plans of each kind are not timed
        with self.tracer.span("reads") as s:
            deadline = time.perf_counter() + self.args.seconds
            while True:
                cycle(self.queries, CYCLE)
                if time.perf_counter() >= deadline:
                    break
        self.t["reads"] = s.dur
        with self.checking():
            for q in warm + self.queries:  # a wrong answer fails its read
                reason = check_query(self.store, q)
                if reason:
                    self.failures.append(reason)
                    print(f"perfbench: FAILED read: {reason}", file=sys.stderr)

    # -- metrics --------------------------------------------------------------
    def end_to_end(self) -> dict:
        """The bounded metrics: CPU time of the whole process tree, which
        other load on the machine does not inflate, and stored bytes."""
        st, cpu = self.store, self.cpu
        return {
            "setup_s": (self.t["setup"], "s"),
            "ingest_raw_pts_per_cpu_s": (st.build_pts / cpu["build"], "pts/cpu_s"),
            "append_raw_pts_per_cpu_s": (st.append_pts / cpu["append"],
                                         "pts/cpu_s"),
            "maintain_cpu_s": (cpu["maintain"], "cpu_s"),
            "stored_bytes_per_raw_pt": (
                self.written_bytes / (st.build_pts + st.append_pts), "B/pt"),
            "read_agg_cpu_ms": (self._read_median("agg", "cpu"), "cpu_ms"),
        }

    def wall(self) -> dict:
        """The same phases in wall time, as a user on an idle machine
        sees them; the traced run reports these."""
        st, t = self.store, self.t
        return {
            "wall.ingest_raw_pts_per_s": (st.build_pts / t["build"], "pts/s"),
            "wall.append_raw_pts_per_s": (st.append_pts / t["append"], "pts/s"),
            "wall.maintain_s": (t["maintain"], "s"),
            "wall.read_agg_p50_ms": (self._read_median("agg", "wall"), "ms"),
            "wall.read_decode_p50_ms": (self._read_median("decode", "wall"), "ms"),
            "wall.read_qps": (len(self.queries) / t["reads"], "1/s"),
        }

    def _read_median(self, cls: str, clock: str) -> float:
        from .reads import CLASS

        return statistics.median(
            (q.cpu_s if clock == "cpu" else q.plan_s + q.exec_s) * 1e3
            for q in self.queries if CLASS[q.kind] == cls)

    def layers(self) -> None:
        """Single-layer timings; they need the live session."""
        from . import layers

        st, m = self.store, self.layer_metrics
        with self.tracer.span("layers"):
            m.update(layers.kernels_and_codec(st, self.sample, self.stored))
            m.update(layers.operator_sinks(st))
            m["checkpoint.snapshot_id_s"] = (layers.snapshot_id_s(st), "s")
        self.span_cost_s = _span_cost_s(self.tracer)

    def per_layer(self, e2e: dict, events: list) -> dict:
        from . import trace

        tr, t = self.tracer, self.t
        by_span = trace.stats_by_span(events)
        ids_of = {}
        for s in tr.spans:
            ids_of.setdefault(s.name, set()).update(
                str(i) for i in tr.descendants(s.id))

        def stats(*names) -> trace.JobStats:
            tot = trace.JobStats()
            for sid in set().union(*(ids_of.get(n, set()) for n in names)):
                if sid in by_span:
                    tot.add(by_span[sid])
            return tot

        m: dict[str, tuple[float, str]] = {
            "session.start_s": (t["session.start"], "s"),
            "session.warm_s": (t["session.warm"], "s"),
            **self.layer_metrics,
        }

        write = stats("build", "append")
        m["rollup.py_init_s"] = (write.py_init_s, "s")
        m["rollup.py_run_s"] = (write.py_run_s, "s")
        m["rollup.arrow_bytes_in"] = (write.arrow_bytes_in, "B")
        m["rollup.arrow_bytes_out"] = (write.arrow_bytes_out, "B")

        build = stats("build")
        units = self.build_units or [t["build"]]
        m["build.s"] = (t["build"], "s")
        m["build.units"] = (len(units), "count")
        m["build.unit_s.p50"] = (statistics.median(units), "s")
        m["build.unit_s.max"] = (max(units), "s")
        m["build.core_util"] = (build.task_s / (t["build"] * CORES), "ratio")
        m["build.spark_jobs"] = (build.jobs, "count")
        m["build.shuffle_write_bytes"] = (build.shuffle_write_bytes, "B")
        m["build.files_written"] = (self.build_files, "count")

        ret = self.maintain_result or {"retention": {"dropped": []},
                                       "compaction": {}}
        comp = ret["compaction"].values()
        m["retention.s"] = (_span_s(tr, "retention", "maintain"), "s")
        m["retention.partitions_dropped"] = (len(ret["retention"]["dropped"]),
                                             "count")
        m["compaction.s"] = (_span_s(tr, "compaction", "maintain"), "s")
        m["compaction.files_before"] = (sum(c["files_before"] for c in comp),
                                        "count")
        m["compaction.files_after"] = (sum(c["files_after"] for c in comp),
                                       "count")
        m["compaction.bytes_rewritten"] = (self._rewritten_bytes(ret), "B")

        from .reads import KINDS, _call

        for call in sorted({_call(k) for k in KINDS}):
            qs = [q for q in self.queries if _call(q.kind) == call]
            m[f"router.{call}.plan_ms"] = (
                statistics.median(q.plan_s for q in qs) * 1e3, "ms")
            m[f"router.{call}.exec_ms"] = (
                statistics.median(q.exec_s for q in qs) * 1e3, "ms")
        reads = stats("reads")
        rows_out = sum(len(q.rows) for q in self.queries)
        m["router.files_read_per_query"] = (
            reads.files_read / len(self.queries), "count")
        m["router.rows_read_per_row_out"] = (
            reads.records_read / max(rows_out, 1), "ratio")

        every = trace.JobStats()
        for s in by_span.values():
            every.add(s)
        m["spark.gc_s"] = (every.gc_s, "s")
        m["spark.spill_bytes"] = (every.spill_bytes, "B")

        selfs = tr.self_times()
        for name in SELF_TIMED:
            m[f"self_s.{name}"] = (selfs.get(name, 0.0), "s")
        m["trace.span_overhead_ms"] = (self.span_cost_s * len(tr.spans) * 1e3,
                                       "ms")
        for k, v in e2e.items():
            if k != "setup_s":
                m[f"traced.{k}"] = v
        # too unsteady across runs to bound (see README), so reported here
        m["read.decode_cpu_ms"] = (self._read_median("decode", "cpu"), "cpu_ms")
        m.update(self.wall())
        return m

    def _rewritten_bytes(self, ret: dict) -> int:
        total = 0
        for src, c in ret["compaction"].items():
            if c["rows"] is not None:
                d = f"{self.store.out_root}/source={src}"
                for dp, _, fs in os.walk(d):
                    total += sum(os.path.getsize(os.path.join(dp, f))
                                 for f in fs if f.endswith(".parquet"))
        return total


#: span names whose self time the traced run reports
SELF_TIMED = [
    "setup", "session.start", "session.warm", "gen", "warm.engine", "build",
    "append", "checkpoint.snapshot_id", "maintain", "retention", "compaction",
    "reads.warm", "reads",
    "router.aggregate_range.plan", "router.aggregate_range.exec",
    "router.route_range_tiered.plan", "router.route_range_tiered.exec",
    "router.quantile_range.plan", "router.quantile_range.exec",
    "router.route_points.plan", "router.route_points.exec", "checks",
]
def _span_s(tr, name: str, parent: str) -> float:
    """Summed duration of the `name` spans directly inside `parent` spans
    (the warm-up pass makes the same calls)."""
    names = {s.id: s.name for s in tr.spans}
    return sum(s.dur for s in tr.spans
               if s.name == name and names.get(s.parent) == parent)


def _span_cost_s(tr) -> float:
    """Bookkeeping cost of one span, from a thousand empty ones."""
    from .trace import Tracer

    probe = Tracer(tr.run_id, enabled=True)
    probe.sc = tr.sc
    t0 = time.perf_counter()
    for _ in range(1000):
        with probe.span("probe"):
            pass
    return (time.perf_counter() - t0) / 1000


# ---------------------------------------------------------------- session

def start_session(work: str, event_dir: str | None):
    from time2feat_spark.session import get_spark

    extra = {
        # the repository's local harness setting (bench.py, tests): two
        # shuffle partitions per core instead of the engine default of 32
        "spark.sql.shuffle.partitions": str(2 * CORES),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # A fixed set of JIT compiler threads, so that their CPU time can
        # be told apart from the work's (trace.work_cpu_s). C1 only: the
        # optimising C2 compiler kept improving the code for minutes, so
        # the timed phases measured how far it had got, which followed
        # the load on the machine.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp"
            " -XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1"
            # the heap starts at its working size: grown on demand from
            # the JVM's small default, it settled at sizes where G1 ran
            # collections throughout some runs and not others
            " -Xms2g"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{CORES}]", extra=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap(pids) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.time() + 20
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------------- main

@contextmanager
def layer_spans(tracer):
    """In a traced run, record spans around the engine calls that the
    benchmark does not make itself: LadderJob's input fingerprint and
    maintain()'s retention and compaction passes."""
    if not tracer.enabled:
        yield
        return
    from time2feat_spark.plans import compaction, ladder_job, retention

    targets = [(ladder_job, "snapshot_id", "checkpoint.snapshot_id"),
               (retention, "enforce_retention", "retention"),
               (compaction, "compact_all", "compaction")]
    originals = [getattr(mod, attr) for mod, attr, _ in targets]

    def wrap(fn, name):
        def call(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)
        return call

    for (mod, attr, name), fn in zip(targets, originals):
        setattr(mod, attr, wrap(fn, name))
    try:
        yield
    finally:
        for (mod, attr, _), fn in zip(targets, originals):
            setattr(mod, attr, fn)


def prepare_env(workload: str, seed: int) -> str:
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    tempfile.tempdir = None
    # Python workers are started by the JVM and import the engine (and
    # this package) by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return work


def execute(args, on_written=None) -> tuple[dict, Run]:
    """Run one workload; returns the result object and the run."""
    from .trace import RssSampler, Tracer

    work = prepare_env(args.workload, args.seed)
    tracer = Tracer(uuid.uuid4().hex[:8], enabled=bool(args.trace))
    run = Run(args, work, tracer, on_written)
    # also records every process the run starts; peak memory is only
    # reported by the traced run, so the untraced one samples rarely
    rss = RssSampler(interval_s=0.1 if args.trace else 1.0)
    try:
        with rss, layer_spans(tracer):
            try:
                run.setup()
                run.write()
                run.maintain()
                run.reads()
                if args.trace:
                    run.layers()
            finally:
                if run.spark is not None:
                    t0 = time.perf_counter()
                    stop_session(run.spark)
                    tracer.sc = None
                    run.t["teardown"] = time.perf_counter() - t0
        try:
            metrics = run.end_to_end()
            if args.trace:
                from .trace import read_event_log

                # spans outlive the run directory, next to it
                tracer.write(f"{os.path.dirname(work)}/spans-{args.workload}-"
                             f"{args.seed}.jsonl")
                metrics = run.per_layer(metrics, read_event_log(f"{work}/events"))
                jvm, py = rss.peak_parts
                metrics["process.peak_rss_mb"] = (rss.peak / 2**20, "MB")
                metrics["process.peak_jvm_rss_mb"] = (jvm / 2**20, "MB")
                metrics["process.peak_python_rss_mb"] = (py / 2**20, "MB")
        except (KeyError, ZeroDivisionError, statistics.StatisticsError):
            if not run.failures:
                raise
            metrics = {}  # a failed operation left nothing to measure
    finally:
        reap(rss.seen)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, run


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import time2feat_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.run import execute as run_workload

    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace}", flush=True)
    result, run = run_workload(args)
    print("perfbench: phase seconds " + json.dumps(
        {k: round(v, 3) for k, v in run.t.items()}), file=sys.stderr)
    print("perfbench: phase cpu seconds " + json.dumps(
        {k: round(v, 3) for k, v in run.cpu.items()}), file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
