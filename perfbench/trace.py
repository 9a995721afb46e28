"""Spans around the calls into each engine layer, and Spark task metrics
folded onto them from the event log.

A span records name, start, end and parent. While a span is open on the
calling thread its id is the Spark job group, so the jobs it submits are
attributed to it. Jobs submitted from the runner's own pool threads carry
no group (a job group is a thread-local property), so a job without a
known group is attributed to the innermost span open when it was
submitted. Spans are sequential on the benchmark's thread, so the two
rules never disagree.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    task_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0
    children: list = field(default_factory=list)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` is the SparkContext whose job group
    follows the open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[str, Span] = {}
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"perfbench-{len(self.spans)}", name,
                  parent.id if parent else None, time.time())
        self.spans[sp.id] = sp
        if parent:
            parent.children.append(sp.id)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp: Span | None):
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(sp.id, sp.name)

    def by_name(self, name: str) -> Span:
        return next(s for s in self.spans.values() if s.name == name)

    def self_s(self, sp: Span) -> float:
        """The span's duration minus the part its children cover."""
        covered, edge = 0.0, sp.start
        for c in sorted((self.spans[c] for c in sp.children),
                        key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, sp.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return sp.s - covered

    def innermost(self, t: float) -> Span | None:
        best = None
        for sp in self.spans.values():
            if sp.start <= t <= sp.end and (best is None or
                                            sp.start >= best.start):
                best = sp
        return best

    def records(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end, "self_s": self.self_s(s),
                 "jobs": s.jobs, "task_cpu_s": s.task_cpu_s,
                 "shuffle_write_mb": s.shuffle_write_mb,
                 "spill_mb": s.spill_mb, "gc_s": s.gc_s}
                for s in self.spans.values()]

    def fold_event_log(self, log_dir: str) -> int:
        """Add each task's metrics to the span that submitted its job, and
        count jobs per span. Returns the number of tasks folded. The log
        must be complete, i.e. the SparkContext already stopped."""
        stage_span, tasks = {}, 0
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"),
                                     recursive=True)):
            if not os.path.isfile(path):
                continue
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        sp = self.spans.get(group) or self.innermost(
                            ev["Submission Time"] / 1000)
                        if sp is None:
                            continue
                        sp.jobs += 1
                        for sid in ev["Stage IDs"]:
                            stage_span.setdefault(sid, sp)
                    elif kind == "SparkListenerTaskEnd":
                        sp = stage_span.get(ev["Stage ID"])
                        m = ev.get("Task Metrics")
                        if sp is None or not m:
                            continue
                        tasks += 1
                        sp.task_cpu_s += m["Executor CPU Time"] / 1e9
                        sp.gc_s += m["JVM GC Time"] / 1e3
                        sp.spill_mb += (m["Memory Bytes Spilled"]
                                        + m["Disk Bytes Spilled"]) / 2**20
                        sp.shuffle_write_mb += m["Shuffle Write Metrics"][
                            "Shuffle Bytes Written"] / 2**20
        return tasks

    def totals(self, sp: Span) -> dict:
        """Task CPU and shuffle writes of a span and all its descendants.
        GC time and spill stay in the span records only: at the
        benchmark's sizes nothing spills, and GC pauses are JVM-wide and
        seldom fall inside a small layer's tasks."""
        out = {"task_cpu_s": sp.task_cpu_s,
               "shuffle_write_mb": sp.shuffle_write_mb}
        for c in sp.children:
            for k, v in self.totals(self.spans[c]).items():
                out[k] += v
        return out
