"""Outside-in layer spans: wrap the engine's public functions at run time
and attribute Spark jobs to the wrapping span.

Each span sets a Spark job group, so every job it launches carries the
span's id in the event log. After the session stops, the log is replayed
(as tools/qprofile.py does) to give each span its jobs, job wall time and
executor task time. No engine source is changed: wrappers replace module
and class attributes and ``restore()`` puts the originals back.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)  # (start_ms, end_ms, task_ms)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[int, Span] = {}
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans) + 1
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, parent, name, time.time(), 0.0)
        self.spans[sid] = s
        if parent is not None:
            self.spans[parent].children.append(sid)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{PREFIX}{sid}", name)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{PREFIX}{top.sid}", top.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _wrapper(self, func, name):
        @functools.wraps(func)
        def traced(*args, **kwargs):
            with self.span(name):
                return func(*args, **kwargs)

        return traced

    def wrap_function(self, func, name: str) -> None:
        """Replace ``func`` in every loaded engine module that binds it
        (``__spark_entry__`` imports several functions by name)."""
        traced = self._wrapper(func, name)
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not (mname.startswith("econdatapipeline_spark") or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self._patches.append((mod, attr, func))
                    setattr(mod, attr, traced)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        func = cls.__dict__[attr]
        self._patches.append((cls, attr, func))
        setattr(cls, attr, self._wrapper(func, name))

    def wrap_module(self, mod, name: str) -> None:
        """Wrap every public function defined in ``mod``."""
        for attr, val in list(vars(mod).items()):
            if (callable(val) and not attr.startswith("_") and not isinstance(val, type)
                    and getattr(val, "__module__", None) == mod.__name__):
                self.wrap_function(val, name)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- event-log replay ----------------------------------------------------
    def attach_jobs(self, event_dir: str) -> None:
        """Give each span the jobs launched under its group."""
        jobs, stage_job, task_ms = {}, {}, {}
        for line in _event_lines(event_dir):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jobs[ev["Job ID"]] = [group, ev["Submission Time"], None]
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, ev["Job ID"])
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                task_ms[job] = task_ms.get(job, 0) + run
        for jid, (group, start, end) in jobs.items():
            sid = int(group[len(PREFIX):]) if group.startswith(PREFIX) else None
            if sid in self.spans:
                self.spans[sid].jobs.append((start, end or start, task_ms.get(jid, 0)))

    # -- roll-ups ------------------------------------------------------------
    def subtree(self, sid: int):
        yield self.spans[sid]
        for c in self.spans[sid].children:
            yield from self.subtree(c)

    def outermost(self, name: str) -> list[Span]:
        """Spans named ``name`` with no ancestor of the same name."""
        out = []
        for s in self.spans.values():
            if s.name != name:
                continue
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out.append(s)
        return out

    def layer(self, name: str) -> dict:
        """Wall seconds, calls, jobs, job seconds and task seconds of a layer."""
        tops = self.outermost(name)
        jobs = [j for s in tops for d in self.subtree(s.sid) for j in d.jobs]
        return {
            "s": sum(s.t1 - s.t0 for s in tops),
            "calls": len(tops),
            "jobs": len(jobs),
            "job_s": sum(e - b for b, e, _ in jobs) / 1000.0,
            "task_s": sum(t for _, _, t in jobs) / 1000.0,
        }

    def self_seconds(self, prefix: str) -> dict[str, float]:
        """Self time (duration minus child spans) summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans.values():
            if s.name.startswith(prefix):
                kids = sum(self.spans[c].t1 - self.spans[c].t0 for c in s.children)
                out[s.name] = out.get(s.name, 0.0) + (s.t1 - s.t0) - kids
        return out

    def uncovered(self, t0: float, t1: float) -> float:
        """Seconds of [t0, t1] that no top-level span covers."""
        ivs = sorted(
            (max(s.t0, t0), min(s.t1, t1)) for s in self.spans.values()
            if s.parent is None and s.t1 > t0 and s.t0 < t1
        )
        covered, end = 0.0, t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return (t1 - t0) - covered


def span_cost(spark, n: int = 200) -> float:
    """Seconds one span entry and exit costs (two job-group updates)."""
    tracer = Tracer(spark)
    t0 = time.perf_counter()
    for _ in range(n):
        with tracer.span("cost"):
            pass
    return (time.perf_counter() - t0) / n


def _event_lines(event_dir: str):
    for name in sorted(os.listdir(event_dir)):
        path = os.path.join(event_dir, name)
        parts = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.startswith("events_")]
            if os.path.isdir(path) else [path]
        )
        for p in parts:
            with open(p) as fh:
                yield from fh
