"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent and request id, in memory.
Untraced runs record the same spans but touch Spark for none of them.
A traced run also gives every span its own Spark job group; after the
measured window it reads each job's stages back from the status store to
charge tasks, executor time and bytes to the span, and it writes the
spans out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str | None
    start: float
    end: float = 0.0
    group: str = ""
    counts: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    # filled by Tracer.account()
    stages: list = field(default_factory=list)  # (start, end) epoch s
    tasks: int = 0
    busy_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered((s.start, s.end), kids.get(s.sid, []))
        for s in spans
    }


class Tracer:
    """Collects spans from any number of threads. ``sc`` is the
    SparkContext for a traced run, None for an untraced one."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        t = time.perf_counter()
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)
        dt = time.perf_counter() - t
        with self._lock:
            self.bookkeeping_s += dt

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        if rid is None and parent is not None:
            rid = parent.rid
        s = Span(sid, name, parent.sid if parent else None, rid, 0.0,
                 group=f"perfbench-{sid}")
        if self.sc is not None:
            self._set_group(s)
        stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if self.sc is not None:
                self._set_group(parent)
            with self._lock:
                self.spans.append(s)

    # -- after the measured window ------------------------------------
    def account(self) -> None:
        """Charge every Spark job to a span: by job group, and jobs
        started from threads the engine spawns itself (which inherit no
        group) to the innermost span open when they were submitted."""
        from py4j.protocol import Py4JJavaError

        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.jobs = list(tracker.getJobIdsForGroup(s.group))
        for j in tracker.getJobIdsForGroup(None):
            try:
                sub = store.job(j).submissionTime()
            except Py4JJavaError:
                continue
            if not sub.isDefined():
                continue
            t = sub.get().getTime() / 1000.0
            inner = [s for s in self.spans if s.start <= t <= s.end]
            if inner:
                min(inner, key=lambda s: s.duration).jobs.append(j)
        for s in self.spans:
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                for st in info.stageIds if info else []:
                    try:
                        sd = store.lastStageAttempt(st)
                    except Py4JJavaError:  # never ran (skipped, or evicted)
                        continue
                    if str(sd.status()) not in ("COMPLETE", "FAILED"):
                        continue
                    s.tasks += int(sd.numTasks())
                    s.busy_s += sd.executorRunTime() / 1000.0
                    s.input_bytes += int(sd.inputBytes())
                    s.shuffle_bytes += int(sd.shuffleReadBytes()) + int(
                        sd.shuffleWriteBytes()
                    )
                    a, b = sd.submissionTime(), sd.completionTime()
                    if a.isDefined() and b.isDefined():
                        s.stages.append(
                            (a.get().getTime() / 1000.0, b.get().getTime() / 1000.0)
                        )

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.<call>.{self_s,driver_s,tasks,busy_s,input_bytes,
        shuffle_bytes}`` summed over every span of that name, plus the
        span counts summed the same way (``<name>.<count>``)."""
        selfs = self_times(self.spans)
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)

        def stage_intervals(s: Span) -> list[tuple[float, float]]:
            out = list(s.stages)
            for k in kids.get(s.sid, []):
                out.extend(stage_intervals(k))
            return out

        out: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        for s in self.spans:
            add(f"{s.name}.self_s", selfs[s.sid])
            if self.sc is not None:
                add(
                    f"{s.name}.driver_s",
                    s.duration - covered((s.start, s.end), stage_intervals(s)),
                )
                add(f"{s.name}.tasks", s.tasks)
                add(f"{s.name}.busy_s", s.busy_s)
                add(f"{s.name}.input_bytes", s.input_bytes)
                add(f"{s.name}.shuffle_bytes", s.shuffle_bytes)
            for k, v in s.counts.items():
                add(f"{s.name.split('.')[0]}.{k}", v)
        return out

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.sid):
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "request": s.rid, "start": s.start, "end": s.end,
                    "jobs": s.jobs, "tasks": s.tasks, "busy_s": s.busy_s,
                    "input_bytes": s.input_bytes,
                    "shuffle_bytes": s.shuffle_bytes, "counts": s.counts,
                }) + "\n")
