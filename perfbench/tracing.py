"""Measurement from outside the library: spans, Spark counters, /proc.

- ``SpanStore`` records (name, start, end, parent) spans around the
  library's public entry points, patched in from here (``instrument``)
  and restored afterwards. It is thread-safe: the streaming label fold
  runs on ``absorb_delta``'s worker thread.
- ``job_records`` / ``executor_totals`` read Spark's status store over
  py4j, the route ``bench.py``'s ``failed_tasks_total`` uses.
- ``ProcMonitor`` samples the process tree's RSS and CPU from /proc
  with ``bench.py``'s method (own CPU + reaped children, machine busy
  time from /proc/stat), with the hypervisor's steal apart.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import os
import sys
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SAMPLE_S = 0.2   # RSS sampling period


class SpanStore:
    """In-memory spans; ``span`` is a context manager usable from any
    thread. A span opened on a thread with no open span takes as parent
    the most recently opened span still open on another thread (the
    caller that handed work to a pool)."""

    def __init__(self):
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._open: dict[int, float] = {}   # open span id → start
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = next(self._ids)
            if stack:
                parent = stack[-1]
            elif self._open:
                parent = max(self._open, key=self._open.get)
            else:
                parent = None
            start = self._open[sid] = time.time()
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec = {"id": sid, "name": name, "parent": parent, "start": start,
                   "end": time.time()}
            with self._lock:
                del self._open[sid]
                self.spans.append(rec)

    def summary(self) -> dict[str, dict]:
        """Per span name: calls, total duration and total self time
        (duration minus the union of its children's intervals)."""
        with self._lock:
            spans = list(self.spans)
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in spans:
            dur = s["end"] - s["start"]
            covered = _union_length(
                [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in kids.get(s["id"], ())])
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0,
                                             "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def interval_overlap(a: tuple[float, float], others) -> float:
    """Length of interval ``a`` covered by the union of ``others``."""
    return _union_length([(max(x, a[0]), min(y, a[1])) for x, y in others])


@contextlib.contextmanager
def instrument(store: SpanStore, targets: dict):
    """Wrap library functions for the duration of the block.

    ``targets`` maps ``(module_name, attr)`` to a span name. Every
    library module that bound the original function (``from m import
    f``) gets the wrapper too, so calls through either name are seen.
    """
    patched = []
    try:
        for (mod_name, attr), span_name in targets.items():
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = wrap(store, span_name, orig)
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith(
                        "last_minute_legends_spark")
                        and getattr(mod, attr, None) is orig):
                    setattr(mod, attr, wrapped)
                    patched.append((mod, attr, orig))
        yield store
    finally:
        for mod, attr, orig in reversed(patched):
            setattr(mod, attr, orig)


def wrap(store: SpanStore, name: str, fn):
    """``fn`` recording a span named ``name`` around every call."""
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with store.span(name):
            return fn(*args, **kwargs)
    return wrapper


# --- Spark status store -------------------------------------------------

def executor_totals(spark) -> dict:
    """Cumulative executor-side totals (task time, GC, bytes, tasks)."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    keys = ("totalTasks", "failedTasks", "totalDuration", "totalGCTime",
            "totalInputBytes", "totalShuffleRead", "totalShuffleWrite")
    tot = dict.fromkeys(keys, 0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for k in keys:
            tot[k] += getattr(e, k)()
    return tot


def last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def job_records(spark, after_id: int) -> list[dict]:
    """Jobs with id > ``after_id``: submit/end wall times (s since the
    epoch), stage count and description."""
    from py4j.protocol import Py4JJavaError

    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for jid in range(after_id + 1, last_job_id(spark) + 1):
        try:
            j = store.job(jid)
        except Py4JJavaError:  # evicted from the store (retainedJobs)
            continue
        sub, comp, desc = j.submissionTime(), j.completionTime(), j.description()
        out.append({
            "submit": sub.get().getTime() / 1000 if sub.isDefined() else None,
            "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
            "stages": j.numCompletedStages(),
            "desc": desc.get() if desc.isDefined() else "",
        })
    return out


# --- /proc --------------------------------------------------------------

def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    cpu = sum(int(x) for x in rest[11:15]) / _CLK_TCK
    return cpu, int(rest[1]), int(rest[21]) * _PAGE


def _tree(root: int) -> list[tuple]:
    procs = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            info = _stat(int(ent))
            if info is not None:
                procs[int(ent)] = info
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
            stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds() -> float:
    return sum(p[0] for p in _tree(os.getpid()))


def machine_cpu_seconds() -> tuple[float, float]:
    """Machine-wide process CPU (user, nice, system) and the
    hypervisor's steal, in seconds. Interrupt time is left out: most of
    it serves the run's own loopback traffic."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return (fields[0] + fields[1] + fields[2]) / _CLK_TCK, steal / _CLK_TCK


class ProcMonitor:
    """Peak RSS of the process tree, sampled on a daemon thread until
    ``stop``; ``cpu_window`` gives own and foreign cores over a block."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes,
                                  sum(p[2] for p in _tree(os.getpid())))
            self._stop.wait(_SAMPLE_S)

    def start(self) -> "ProcMonitor":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @contextlib.contextmanager
    def cpu_window(self, out: dict):
        """Cores used over the block by the run's process tree, by other
        processes, and by the hypervisor (steal)."""
        self0, t0 = tree_cpu_seconds(), time.perf_counter()
        mach0, steal0 = machine_cpu_seconds()
        yield
        wall = time.perf_counter() - t0
        own = max(tree_cpu_seconds() - self0, 0.0)
        mach1, steal1 = machine_cpu_seconds()
        out["self_cores"] = own / wall
        out["other_cores"] = max(mach1 - mach0 - own, 0.0) / wall
        out["steal_cores"] = (steal1 - steal0) / wall
