"""Layer spans recorded from outside the package, and the event-log fold.

A ``Tracer`` keeps one span per call into a layer: name, layer, start, end,
parent and the operation it belongs to, in memory until ``write``. Spans are
taken on the main thread only; a call into a layer made from a worker thread
(the package loads tables and writes collections from thread pools) is
covered by the main-thread span that started the pool. A call into a layer
from inside a span of the same layer (``load_tables`` calling
``load_table``) adds no span.

Spark jobs and stages are assigned to the innermost span whose interval holds
their submission time, read from an uncompressed Spark event log. That needs
no job group, so jobs submitted from pool threads are still attributed; the
job group each span sets is the label a reader of the event log sees, and
jobs that carry none are counted as unlabelled.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Per-span figures folded from the event log (task metrics summed per stage).
FOLD_KEYS = ("stages", "executor_run_s", "shuffle_write_bytes",
             "shuffle_read_bytes", "spill_bytes", "gc_s")


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    op: int | None
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``spark_context`` (optional) is used to
    label each span's jobs with a job group named after the span."""

    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._sc = spark_context
        self._patched: list[tuple[object, str, object]] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str, layer: str | None = None, op: int | None = None):
        layer = layer or name
        if threading.current_thread() is not threading.main_thread():
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is not None and self.spans[parent].layer == layer:
            yield self.spans[parent]
            return
        if op is not None:
            self._op = op
        idx = len(self.spans)
        s = Span(name, layer, time.time(), parent, self._op)
        self.spans.append(s)
        self._stack.append(idx)
        self._label(idx)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def _label(self, idx: int | None) -> None:
        if self._sc is None:
            return
        if idx is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            s = self.spans[idx]
            self._sc.setJobGroup(f"{s.layer}#{idx}", s.name)

    def wrap(self, module, attr: str, layer: str, on_result=None) -> None:
        """Replace ``module.attr`` with a wrapper that runs each call in a
        span of ``layer``; ``on_result(span, result)`` may record counts."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(f"{layer}:{attr}", layer) as s:
                result = orig(*args, **kwargs)
                if on_result is not None and s is not None:
                    on_result(s, result)
                return result

        wrapper.__wrapped__ = orig
        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def self_time(self, idx: int) -> float:
        """Duration minus the part covered by child spans (children run
        one after another on the main thread, so coverage is their sum)."""
        covered = sum(c.duration for c in self.spans if c.parent == idx)
        return self.spans[idx].duration - covered

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "layer": s.layer, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": self.self_time(i), **s.counters}) + "\n")


# --- event log ---------------------------------------------------------------

def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Parse the (uncompressed) event log(s) in ``log_dir``.

    Returns (jobs, stages): jobs as {submit_s, labelled}, stages as
    {stage_id: {submit_s, <FOLD_KEYS>}} with task metrics summed."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(sid, {"submit_s": None, **{k: 0 for k in FOLD_KEYS}})

    # Spark writes a rolling log: a directory per application holding
    # events_<n>_<app> files (plus an empty appstatus marker).
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({"submit_s": ev["Submission Time"] / 1000.0,
                                 "labelled": "spark.jobGroup.id" in props})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stage(info["Stage ID"])
                    st["submit_s"] = info.get("Submission Time", 0) / 1000.0
                    st["stages"] = 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stage(ev["Stage ID"])
                    st["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                          + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                 + sr.get("Local Bytes Read", 0))
    return jobs, {k: v for k, v in stages.items() if v["submit_s"] is not None}


def _innermost(spans: list[Span], t: float) -> int | None:
    # Spans nest, so the latest-started span holding t is the innermost.
    # Event-log times have millisecond resolution: allow 1 ms at both ends.
    best = None
    for i, s in enumerate(spans):
        if s.start - 0.001 <= t <= s.end + 0.001:
            if best is None or s.start >= spans[best].start:
                best = i
    return best


def fold(tracer: Tracer, log_dir: str) -> dict:
    """Fold jobs and stage metrics into the tracer's spans as counters:
    ``jobs``, ``unlabelled_jobs`` (jobs without a job group) and FOLD_KEYS,
    each self-only (a child's work is not its parent's). Jobs and stages
    outside every span are dropped."""
    jobs, stages = read_event_log(log_dir)
    for s in tracer.spans:
        for k in ("jobs", "unlabelled_jobs") + FOLD_KEYS:
            s.counters.setdefault(k, 0)
    for job in jobs:
        i = _innermost(tracer.spans, job["submit_s"])
        if i is not None:
            tracer.spans[i].counters["jobs"] += 1
            tracer.spans[i].counters["unlabelled_jobs"] += not job["labelled"]
    for st in stages.values():
        i = _innermost(tracer.spans, st["submit_s"])
        if i is not None:
            for k in FOLD_KEYS:
                tracer.spans[i].counters[k] += st[k]
