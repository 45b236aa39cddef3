"""Measurement helpers: spans and self time, percentiles, the process-tree
memory sampler, host steal, Spark job counts and the Spark event log.

Everything here observes the program from outside: spans wrap calls into
the engine's public functions, memory and steal come from ``/proc``, job
and task counts from Spark's ``statusTracker`` and event log.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# ---------------------------------------------------------------- spans


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op.

    A span's parent is the innermost open span of the same thread, or
    ``remote_parent`` when a thread has none open: the benchmark sets it
    to the client's request span while that request is in flight, so the
    server thread's spans nest under it (one closed-loop client means at
    most one request is in flight)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.remote_parent: Span | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.remote_parent
        sid = next(self._ids)
        s = Span(sid, name, parent.op if parent else sid,
                 parent.id if parent else None, time.perf_counter())
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """span id -> its duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end)
            for s in spans}


def layer_self_seconds(spans: list[Span], op: int) -> dict[str, float]:
    """Self time per span name within one operation."""
    own = [s for s in spans if s.op == op]
    st = self_times(own)
    out: dict[str, float] = {}
    for s in own:
        out[s.name] = out.get(s.name, 0.0) + st[s.id]
    return out


# ---------------------------------------------------------- percentiles


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (``statistics.quantiles`` inclusive
    method) of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int, candidates=(99.9, 99.0, 90.0, 75.0)) -> float | None:
    """Highest percentile with at least ten of ``n`` samples beyond it,
    or None when even the lowest candidate has fewer."""
    for p in candidates:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return None


def median(values) -> float:
    return float(statistics.median(values))


# --------------------------------------------------------- /proc readers

PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss_bytes) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        comm = st[st.index("(") + 1:st.rindex(")")]
        fields = st[st.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), comm, int(fields[21]) * PAGE)
    return out


def tree_rss(root: int) -> dict[str, object]:
    """RSS of ``root`` and its descendants, split into the driver (root),
    the JVM (``java`` processes) and Python workers (other descendants)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _c, _r) in table.items():
        kids.setdefault(ppid, []).append(pid)
    groups = {"driver": 0, "jvm": 0, "workers": 0}
    workers = set()
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid not in table:
            continue
        _pp, comm, rss = table[pid]
        if pid == root:
            groups["driver"] += rss
        elif comm == "java":
            groups["jvm"] += rss
        else:
            groups["workers"] += rss
            workers.add(pid)
        stack.extend(kids.get(pid, []))
    return {**groups, "total": sum(groups.values()), "worker_pids": workers}


class MemSampler:
    """Samples the summed RSS of this process tree every ``period`` s on a
    daemon thread; keeps the peak of each group, the series of totals
    since the last ``reset_peak()`` and every worker pid seen (between
    ``mark()`` calls, for spawn counts)."""

    def __init__(self, root: int | None = None, period: float = 0.05):
        self.root = root or os.getpid()
        self.period = period
        self.peak = {"driver": 0, "jvm": 0, "workers": 0, "total": 0}
        self.totals: list[int] = []
        self.seen_workers: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()

    def sample(self) -> None:
        m = tree_rss(self.root)
        with self._lock:
            for k in self.peak:
                self.peak[k] = max(self.peak[k], m[k])
            self.totals.append(m["total"])
            self.seen_workers |= m["worker_pids"]

    def reset_peak(self) -> None:
        with self._lock:
            self.peak = dict.fromkeys(self.peak, 0)
            self.totals = []

    def sustained_peak(self, seconds: float = 1.0) -> int:
        """Highest total held for ``seconds``: the maximum over time of the
        median of the samples in a sliding window of that length. Python
        workers come and go within a fraction of a second, so the plain
        maximum of their summed RSS depends on how two of them overlapped."""
        with self._lock:
            xs = list(self.totals)
        w = max(1, min(len(xs), round(seconds / self.period)))
        return max((statistics.median(xs[i:i + w])
                    for i in range(len(xs) - w + 1)), default=0)

    def mark(self) -> set[int]:
        """Worker pids seen since the last mark (and those alive now)."""
        with self._lock:
            seen, self.seen_workers = self.seen_workers, set()
        return seen

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "MemSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else 0.0


# ------------------------------------------------------------------ Spark


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


@contextmanager
def job_group(sc, group: str):
    """Tag the Spark jobs this thread starts with ``group``."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: summed task metrics and the run times of tasks in
    stages that ran Python (``py_task_s``), from Spark's JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p) and "appstatus" not in p)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g or ""
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "")
                    agg = out.setdefault(g, {
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_mb": 0.0, "spill_mb": 0.0, "py_sent_mb": 0.0,
                        "py_back_mb": 0.0, "py_task_s": [],
                    })
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    run_s = tm.get("Executor Run Time", 0) / 1e3
                    agg["tasks"] += 1
                    agg["run_s"] += run_s
                    agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    agg["shuffle_mb"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0)
                                          + sw.get("Shuffle Bytes Written", 0)) / 1e6
                    agg["spill_mb"] += (tm.get("Memory Bytes Spilled", 0)
                                        + tm.get("Disk Bytes Spilled", 0)) / 1e6
                    py = False
                    for acc in info.get("Accumulables", []):
                        name, upd = acc.get("Name"), acc.get("Update")
                        if name in (PY_SENT, PY_BACK) and upd is not None:
                            key = "py_sent_mb" if name == PY_SENT else "py_back_mb"
                            agg[key] += int(upd) / 1e6
                            py = True
                    if py:
                        agg["py_task_s"].append(run_s)
    return out
