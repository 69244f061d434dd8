"""Spans recorded around calls into the package's layers, and the
Spark event log read back per job.

Spans are kept in memory and written out when the run ends.  Each has
a name, start, end, parent and op id (one id per HTTP op or catalog
query).  Times are epoch seconds so that spans line
up with the event log's millisecond timestamps.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
import types
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op")

    def __init__(self, sid, name, start, parent, op):
        self.id = sid
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.op = op

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op}


class Tracer:
    """Thread-aware span recorder.  A disabled tracer records nothing
    and its ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, *, op=None, parent: int | None = None):
        """Record ``name`` around the block.  ``op`` and ``parent``
        default to the enclosing span on this thread; pass them to link
        a span to one started on another thread."""
        if not self.enabled:
            yield None
            return
        st = self._stack()
        up = st[-1] if st else None
        if parent is None and up is not None:
            parent = up.id
        if op is None and up is not None:
            op = up.op
        s = Span(next(self._ids), name, time.time(), parent, op)
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            st.pop()
            with self._lock:
                self.spans.append(s)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.as_dict()) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    that its child spans cover (children on other threads may overlap
    each other, so the covered part is a union, clipped to the parent)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, ()) if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.dur - covered
    return out


class _Traced:
    """A function with a span around each call.  Works as a method
    (``__get__``) and pickles to the bare function, so a wrapped name
    that ends up inside a Spark UDF closure ships without the tracer."""

    def __init__(self, tracer: Tracer, func, name: str):
        functools.update_wrapper(self, func)
        self._tracer = tracer
        self._func = func
        self._name = name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._func(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return _unwrapped, (self._func,)


def _unwrapped(func):
    return func


def wrap_function(tracer: Tracer, func, name: str,
                  prefix: str = "loudml_spark") -> int:
    """Replace ``func`` with a span-recording wrapper in every loaded
    module under ``prefix`` that holds it: ``from x import f`` binds
    the name in the importing module, so wrapping only the defining
    module would miss those callers.  Returns the number of bindings
    replaced."""
    wrapper = _Traced(tracer, func, name)
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == prefix
                               or mod_name.startswith(prefix + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is func:
                setattr(mod, attr, wrapper)
                n += 1
    return n


def wrap_method(tracer: Tracer, cls, attr: str, name: str) -> None:
    """Wrap a method on its class (callers look it up on the class at
    call time, so one binding covers them all)."""
    setattr(cls, attr, _Traced(tracer, cls.__dict__[attr], name))


def span_cost_s(n: int = 20000) -> float:
    """Measured cost of recording one span on this host."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


# ---------------------------------------------------------------- event log

class EventLog:
    """Jobs, stages and task metrics from an uncompressed Spark event
    log (``spark.eventLog.compress=false``)."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: set[int] = set()
        self.stage_tasks: dict[int, dict] = {}

    @classmethod
    def read_app(cls, path: str, app_id: str) -> "EventLog":
        """The log of one application (one SparkContext) in ``path``:
        a single file, or the rolling layout ``eventlog_v2_<app>/
        events_<n>_<app>``."""
        log = cls()
        rolling = os.path.join(path, "eventlog_v2_" + app_id)
        if os.path.isdir(rolling):
            parts = [f for f in os.listdir(rolling) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            files = [os.path.join(rolling, f) for f in parts]
        else:
            files = [os.path.join(path, f) for f in sorted(os.listdir(path))
                     if f.startswith(app_id)]
        for f in files:
            log._read(f)
        return log

    def _read(self, path: str) -> None:
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a line cut short by a stopped writer
                self._event(ev)

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            self.jobs[jid] = {
                "desc": props.get("spark.job.description") or "",
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "stages": ev.get("Stage IDs", []),
            }
            for sid in ev.get("Stage IDs", []):
                self.stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            self.stages_done.add(ev["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self._task(ev)

    def _task(self, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        agg = self.stage_tasks.setdefault(ev["Stage ID"], {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "sched_ms": 0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "input": 0, "output": 0,
        })
        launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
        got = info.get("Getting Result Time", 0)
        run = m.get("Executor Run Time", 0)
        fetch = (finish - got) if got else 0
        sched = (finish - launch) - run - m.get("Executor Deserialize Time", 0) \
            - m.get("Result Serialization Time", 0) - fetch
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        agg["tasks"] += 1
        agg["run_ms"] += run
        agg["cpu_ns"] += m.get("Executor CPU Time", 0)
        agg["sched_ms"] += max(0, sched)
        agg["gc_ms"] += m.get("JVM GC Time", 0)
        agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) \
            + sr.get("Local Bytes Read", 0)
        agg["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
        agg["spill"] += m.get("Memory Bytes Spilled", 0) \
            + m.get("Disk Bytes Spilled", 0)
        agg["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        agg["output"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)

    def job_ids(self, pred=None, window=None) -> list[int]:
        """Jobs whose description satisfies ``pred`` and, with
        ``window=(t0, t1)``, were submitted inside it."""
        out = []
        for jid, job in self.jobs.items():
            if pred is not None and not pred(job["desc"]):
                continue
            if window is not None and not (
                    window[0] <= job["start"] <= window[1]):
                continue
            out.append(jid)
        return sorted(out)

    def metrics(self, job_ids, wall_s: float | None = None) -> dict:
        """The spark.* layer metrics over a set of jobs.  ``wall_s`` is
        the wall time the jobs were part of; the driver gap is the part
        of it during which none of them ran."""
        ids = set(job_ids)
        sums = {k: 0 for k in ("tasks", "run_ms", "cpu_ns", "sched_ms",
                               "gc_ms", "shuffle_read", "shuffle_write",
                               "spill", "input", "output")}
        stages = 0
        for sid, jid in self.stage_job.items():
            if jid not in ids or sid not in self.stages_done:
                continue
            stages += 1
            for k, v in self.stage_tasks.get(sid, {}).items():
                sums[k] += v
        busy = union_length(
            (self.jobs[j]["start"], self.jobs[j]["end"]) for j in ids
            if self.jobs[j]["end"] is not None)
        return {
            "spark.jobs": len(ids),
            "spark.stages": stages,
            "spark.tasks": sums["tasks"],
            "spark.executor_run_s": sums["run_ms"] / 1e3,
            "spark.executor_cpu_s": sums["cpu_ns"] / 1e9,
            "spark.scheduler_delay_s": sums["sched_ms"] / 1e3,
            "spark.driver_gap_s": max(0.0, (wall_s or 0.0) - busy),
            "spark.shuffle_read_bytes": sums["shuffle_read"],
            "spark.shuffle_write_bytes": sums["shuffle_write"],
            "spark.spill_bytes": sums["spill"],
            "spark.input_bytes": sums["input"],
            "spark.output_bytes": sums["output"],
            "spark.gc_s": sums["gc_ms"] / 1e3,
        }

    def jobs_between(self, start: float, end: float) -> int:
        return sum(1 for j in self.jobs.values()
                   if start <= j["start"] <= end)


def eventlog_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total
