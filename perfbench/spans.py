"""Layer spans for the traced run, and attribution of Spark task metrics
to them.

Every span sets its own Spark job group, and the traced session writes a
local event log. After the session stops, the log's job, stage and task
events are joined back to the spans by job group, so each layer gets the
jobs, tasks, task time, GC time, shuffle, spill and output bytes that its
calls caused.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYERS = ("session", "sources", "parser", "extract", "publish",
          "graph", "dedup", "similarity")
BASE = ("wall_s", "jobs", "tasks", "task_s", "gc_s",
        "shuffle_write_bytes", "spill_bytes", "output_bytes")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder. ``span`` sets the Spark job group
    ``pb-<span id>`` for the duration of the block."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, layer: str, name: str = ""):
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        self._sc.setJobGroup(f"pb-{sid}", f"{layer}:{name}")
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, layer, name, start, end, parent))
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(f"pb-{parent}", "")

    def self_wall(self) -> dict[int, float]:
        """Each span's duration minus the part its child spans cover."""
        own = {s.id: s.end - s.start for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own


@dataclass
class JobStats:
    span: int
    duration_s: float
    tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task totals of every job that ran under a ``pb-`` group.
    Read it after the SparkContext has stopped, when the log is complete."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    submitted: dict[int, int] = {}
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if not group.startswith("pb-"):
                        continue
                    jid = ev["Job ID"]
                    jobs[jid] = JobStats(int(group[3:]), 0.0)
                    submitted[jid] = ev["Submission Time"]
                    for st in ev["Stage IDs"]:
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jid = ev["Job ID"]
                    jobs[jid].duration_s = (ev["Completion Time"] - submitted[jid]) / 1e3
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    j = jobs[stage_job[ev["Stage ID"]]]
                    j.tasks += 1
                    j.task_s += m["Executor Run Time"] / 1e3
                    j.gc_s += m["JVM GC Time"] / 1e3
                    j.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    j.spill_bytes += m["Disk Bytes Spilled"]
                    j.output_bytes += m["Output Metrics"]["Bytes Written"]
    return list(jobs.values())


def layer_metrics(tracer: Tracer, jobs: list[JobStats], per: int) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in LAYERS, each a total over
    the traced spans divided by ``per`` (the number of traced operations).
    ``wall_s`` is self time, so nested spans are not counted twice.
    Also returns ``<layer>.job_wall_s``, the summed duration of the
    layer's jobs, for callers that derive driver-side time."""
    layer_of = {s.id: s.layer for s in tracer.spans}
    out = {f"{l}.{m}": 0.0 for l in LAYERS for m in BASE}
    out.update({f"{l}.job_wall_s": 0.0 for l in LAYERS})
    for sid, own in tracer.self_wall().items():
        out[f"{layer_of[sid]}.wall_s"] += own
    for j in jobs:
        layer = layer_of.get(j.span)
        if layer is None:
            continue
        out[f"{layer}.jobs"] += 1
        out[f"{layer}.job_wall_s"] += j.duration_s
        for m in ("tasks", "task_s", "gc_s", "shuffle_write_bytes",
                  "spill_bytes", "output_bytes"):
            out[f"{layer}.{m}"] += getattr(j, m)
    return {k: v / max(per, 1) for k, v in out.items()}
