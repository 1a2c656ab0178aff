"""Spans around the benchmark's calls into each layer, joined to the Spark
event log.

A span has a name, start, end, parent and request id. While it is open
its id is the Spark job group, so the jobs it launches carry it. Jobs
launched from threads the library starts itself carry no group; those go
to the innermost span open when they were submitted (one closed-loop
client, so spans never overlap except by nesting). Task metrics come from
the event log, which Spark writes when ``spark.eventLog.enabled`` is set
(``run.py`` does that only for traced runs). Spans stay in memory and are
written out once at the end.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

import procstat


class Span:
    __slots__ = ("id", "name", "parent", "request", "start", "end", "cpu0", "cpu1",
                 "attrs", "jobs", "stages", "agg")

    def __init__(self, sid, name, parent, request, attrs):
        self.id, self.name, self.parent, self.request = sid, name, parent, request
        self.attrs = dict(attrs)
        self.start = self.end = 0.0
        self.cpu0 = self.cpu1 = (0.0, 0.0)
        self.jobs: list[int] = []
        self.stages: set[int] = set()
        self.agg: dict = {}

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled`` is set; otherwise ``span`` only yields."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._n += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"pb-{self._n}", name, parent.id if parent else None,
                  parent.request if parent else f"pb-{self._n}", attrs)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.id, name)
        sp.cpu0 = procstat.cpu_split()
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.cpu1 = procstat.cpu_split()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.id, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    # -- event log ----------------------------------------------------

    def attach_event_log(self, log_dir: str) -> None:
        """Join every job, stage and task in the event log(s) under
        ``log_dir`` to the spans. Call after the SparkContext stopped."""
        jobs, stage_jobs, stages = {}, {}, {}
        tasks = defaultdict(lambda: defaultdict(float))
        files = sorted(os.path.join(d, fn) for d, _, fs in os.walk(log_dir) for fn in fs
                       if not fn.startswith((".", "appstatus")))
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = (props.get("spark.jobGroup.id"),
                                              ev["Submission Time"] / 1000.0)
                        for s in ev["Stage IDs"]:
                            stage_jobs.setdefault(s, ev["Job ID"])
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        if "Completion Time" in info and "Submission Time" in info:
                            stages[info["Stage ID"]] = (info["Submission Time"] / 1000.0,
                                                        info["Completion Time"] / 1000.0)
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        t = tasks[ev["Stage ID"]]
                        t["tasks"] += 1
                        t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                        t["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                        sw = m.get("Shuffle Write Metrics") or {}
                        t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        t["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                             + m.get("Disk Bytes Spilled", 0))
        by_id = {s.id: s for s in self.spans}
        for job, (group, submitted) in jobs.items():
            owner = by_id.get(group) or self._innermost(submitted)
            if owner is not None:
                owner.jobs.append(job)
        for stage, job in stage_jobs.items():
            if stage not in stages:
                continue  # skipped (reused shuffle output) or never finished
            for s in self.spans:
                if job in s.jobs:
                    s.stages.add(stage)
                    break
        for s in self.spans:
            agg = defaultdict(float)
            for st in s.stages:
                for k, v in tasks[st].items():
                    agg[k] += v
            agg["jobs"] = len(s.jobs)
            agg["stages"] = len(s.stages)
            agg["outside_stages_s"] = s.wall_s - _covered(
                [stages[st] for st in s.stages], s.start, s.end)
            s.agg = dict(agg)
        # inclusive totals: a parent span also owns its children's work
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent:
                kids[s.parent].append(s)
        for s in sorted(self.spans, key=lambda x: -x.start):
            for c in kids[s.id]:
                for k in ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s", "input_rows",
                          "shuffle_write_bytes", "spill_bytes"):
                    s.agg[k] = s.agg.get(k, 0.0) + c.agg.get(k, 0.0)

    def _innermost(self, t: float):
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def self_time(self, span: Span) -> float:
        """Duration minus the part covered by the span's children."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.wall_s - _covered(kids, span.start, span.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda x: x.start):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "request": s.request,
                    "start": s.start, "end": s.end, "wall_s": s.wall_s,
                    "self_s": self.self_time(s), "jvm_cpu_s": s.cpu1[0] - s.cpu0[0],
                    "python_cpu_s": s.cpu1[1] - s.cpu0[1], "jobs": s.jobs,
                    "stages": sorted(s.stages), "metrics": s.agg, "attrs": s.attrs,
                }) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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
