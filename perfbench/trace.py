"""Spans, process-memory sampling and Spark event-log reading.

Spans are recorded from the benchmark's own files around calls into the
engine; nothing inside the engine is instrumented. They are kept in
memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; when `enabled`, also keeps the spans and tags
    the Spark jobs submitted inside each one with its id, so the event
    log can be attributed to spans."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self.sc = None  # SparkContext, once a session exists

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self._stack.append(sid)
        self._tag(str(sid))
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            self._tag(str(self._stack[-1]) if self._stack else None)
            if self.enabled:
                self.spans.append(rec)

    def _tag(self, value: str | None) -> None:
        if self.enabled and self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, value)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span
        that its child spans cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "run_id": s.run_id,
                }) + "\n")

    def descendants(self, sid: int) -> set[int]:
        out, frontier = {sid}, [sid]
        while frontier:
            p = frontier.pop()
            for s in self.spans:
                if s.parent == p and s.id not in out:
                    out.add(s.id)
                    frontier.append(s.id)
        return out


# ------------------------------------------------------------ process RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendant_pids(root: int) -> list[int]:
    kids = _children_map()
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        for c in kids.get(p, []):
            out.append(c)
            frontier.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


#: thread-name prefixes (as /proc truncates them) of the JVM's JIT compilers
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JIT compiler threads of process `pid`; 0 for a
    process that is not a JVM. The session keeps these threads alive
    for the life of the JVM (see run.start_session), so their whole CPU
    time is here."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime stime
    return total


def work_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    driver JVM, the Python workers), including children they have
    already reaped, such as retired Python workers, but without the
    JVM's JIT compiler threads. Those compile in the background whenever
    their queue fills, so their share of a phase depends on how warm the
    JVM happens to be rather than on the work; it was more than half of
    a cold `maintain()`."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    me = os.getpid()
    for pid in [me] + descendant_pids(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        total -= _jit_ticks(pid)
    return total / tick


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers it forks), sampled from /proc."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: tuple[int, int] = (0, 0)  # JVM, Python at the peak
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = descendant_pids(me)
            self.seen.update(pids)
            rss = {p: _rss_bytes(p) for p in pids}
            jvm = max(rss.values(), default=0)  # the JVM is the largest child
            total = _rss_bytes(me) + sum(rss.values())
            if total > self.peak:
                self.peak = total
                self.peak_parts = (jvm, total - jvm)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.strip():
                    events.append(json.loads(line))
    return events


@dataclass
class JobStats:
    task_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    records_read: int = 0
    jobs: int = 0
    py_init_s: float = 0.0
    py_run_s: float = 0.0
    arrow_bytes_in: int = 0
    arrow_bytes_out: int = 0
    files_read: int = 0

    def add(self, o: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


_PY_ACCUMS = {
    "time to initialize Python workers": ("py_init_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("arrow_bytes_in", 1),
    "data returned from Python workers": ("arrow_bytes_out", 1),
}


def stats_by_span(events: list[dict]) -> dict[str, JobStats]:
    """Event-log totals keyed by the span id each job was submitted in."""
    stage_span: dict[int, str] = {}
    exec_span: dict[str, str] = {}
    out: dict[str, JobStats] = {}
    files_accums: dict[int, str] = {}  # accumulator id -> execution id
    files_by_exec: dict[str, int] = {}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = props.get(SPAN_PROPERTY)
            if sid is None:
                continue
            out.setdefault(sid, JobStats()).jobs += 1
            for st in e.get("Stage IDs", []):
                stage_span[st] = sid
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_span[str(ex)] = sid
        elif ev == "SparkListenerTaskEnd":
            sid = stage_span.get(e.get("Stage ID"))
            m = e.get("Task Metrics")
            if sid is None or not m:
                continue
            s = out[sid]
            s.task_s += m.get("Executor Run Time", 0) / 1e3
            s.gc_s += m.get("JVM GC Time", 0) / 1e3
            s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            s.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            s.records_read += m.get("Input Metrics", {}).get("Records Read", 0)
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = stage_span.get(info["Stage ID"])
            if sid is None:
                continue
            for a in info.get("Accumulables", []):
                key = _PY_ACCUMS.get(a.get("Name"))
                if key:
                    attr, scale = key
                    setattr(out[sid], attr,
                            getattr(out[sid], attr) + float(a["Value"]) * scale)
        elif ev.endswith(("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate")):
            ex = str(e["executionId"])
            for acc in _plan_metric_ids(e.get("sparkPlanInfo", {}),
                                        "number of files read"):
                files_accums[acc] = ex
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            # posted while planning, before the execution's first job
            for acc, val in e.get("accumUpdates", []):
                ex = files_accums.get(acc)
                if ex is not None:
                    files_by_exec[ex] = files_by_exec.get(ex, 0) + int(val)
    for ex, n in files_by_exec.items():
        if ex in exec_span:
            out[exec_span[ex]].files_read += n
    for s in out.values():  # accumulators above are summed as floats
        s.arrow_bytes_in = int(s.arrow_bytes_in)
        s.arrow_bytes_out = int(s.arrow_bytes_out)
    return out


def _plan_metric_ids(node: dict, name: str) -> list[int]:
    ids = [m["accumulatorId"] for m in node.get("metrics", [])
           if m.get("name") == name]
    for c in node.get("children", []):
        ids += _plan_metric_ids(c, name)
    return ids
