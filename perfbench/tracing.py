"""Spans around calls into the engine's layers, and the Spark event log
folded into per-span task figures.

A span is timed from the benchmark's side of a public call. While it is
open, its name is the thread's Spark job group, so every job the call
runs is counted with ``statusTracker`` and every stage it submits can be
found again in the event log. Jobs under a job group the benchmark did
not set (streaming micro-batches run under their query's run id) belong
to the innermost span open when the stage was submitted.

Spans stay in memory; ``fold_event_log`` and the caller's report writer
run once, after the last iteration.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field

# RDD scope names of the operators that cross into Python workers
_PY_SCOPES = ("Pandas", "Python", "InArrow")
EVENT_FIELDS = (
    "task_s", "python_task_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "tasks", "failed_tasks",
)
_GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    counts: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        sp = Span(name, self._stack[-1] if self._stack else None, time.time())
        self.spans.append(sp)
        self._stack.append(idx)
        group = f"{_GROUP_PREFIX}{idx}"
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sp.jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self._stack.pop()
            if self._stack:
                outer = self._stack[-1]
                self.sc.setJobGroup(f"{_GROUP_PREFIX}{outer}", self.spans[outer].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def totals(self) -> dict[str, dict]:
        """Per span name: wall seconds summed over its occurrences, plus
        job counts including those of nested spans."""
        jobs_incl = [sp.jobs for sp in self.spans]
        for i in range(len(self.spans) - 1, -1, -1):
            p = self.spans[i].parent
            if p is not None:
                jobs_incl[p] += jobs_incl[i]
        out: dict[str, dict] = {}
        for sp, jobs in zip(self.spans, jobs_incl):
            agg = out.setdefault(sp.name, {"s": 0.0, "n": 0, "jobs": 0})
            agg["s"] += sp.end - sp.start
            agg["n"] += 1
            agg["jobs"] += jobs
            for k, v in sp.counts.items():
                agg[k] = agg.get(k, 0) + v
        return out

    def _owner(self, group: str | None, submitted: float) -> int | None:
        if group and group.startswith(_GROUP_PREFIX):
            return int(group[len(_GROUP_PREFIX):])
        best = None
        for i, sp in enumerate(self.spans):
            if sp.start <= submitted <= sp.end:
                best = i  # later spans nest inside earlier ones
        return best

    def fold_event_log(self, log_dir: str) -> dict[str, dict]:
        """Event-log figures per span name, inclusive of nested spans."""
        stage_owner: dict[int, int | None] = {}
        stage_python: dict[int, bool] = {}
        per_span = [dict.fromkeys(EVENT_FIELDS, 0.0) for _ in self.spans]
        # input rows of the tasks that wrote output: what a sink scanned
        scanned = [0] * len(self.spans)
        for path in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, path)) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerStageSubmitted":
                        info = ev["Stage Info"]
                        sid = info["Stage ID"]
                        props = ev.get("Properties") or {}
                        stage_owner[sid] = self._owner(
                            props.get("spark.jobGroup.id"),
                            info.get("Submission Time", 0) / 1000.0,
                        )
                        stage_python[sid] = any(
                            p in _scope_name(r.get("Scope"))
                            for r in info.get("RDD Info", [])
                            for p in _PY_SCOPES
                        )
                    elif kind == "SparkListenerTaskEnd":
                        owner = stage_owner.get(ev["Stage ID"])
                        if owner is None:
                            continue
                        acc = per_span[owner]
                        m = ev.get("Task Metrics") or {}
                        run_s = m.get("Executor Run Time", 0) / 1000.0
                        acc["tasks"] += 1
                        acc["failed_tasks"] += int(ev["Task Info"].get("Failed", False))
                        acc["task_s"] += run_s
                        if stage_python.get(ev["Stage ID"]):
                            acc["python_task_s"] += run_s
                        sw = m.get("Shuffle Write Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                        acc["shuffle_read_mb"] += (
                            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                        ) / 1e6
                        acc["spill_mb"] += (
                            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                        ) / 1e6
                        if (m.get("Output Metrics") or {}).get("Records Written", 0):
                            scanned[owner] += (m.get("Input Metrics") or {}).get(
                                "Records Read", 0
                            )
        # inclusive: children add into their parents, deepest first
        for i in range(len(self.spans) - 1, -1, -1):
            p = self.spans[i].parent
            if p is not None:
                for k in EVENT_FIELDS:
                    per_span[p][k] += per_span[i][k]
                scanned[p] += scanned[i]
        out: dict[str, dict] = {}
        for sp, acc, rows in zip(self.spans, per_span, scanned):
            agg = out.setdefault(sp.name, dict.fromkeys(EVENT_FIELDS, 0.0) | {"rows_scanned": 0})
            for k in EVENT_FIELDS:
                agg[k] += acc[k]
            agg["rows_scanned"] += rows
        return out


def _scope_name(scope) -> str:
    if not scope:
        return ""
    try:
        return json.loads(scope).get("name", "")
    except (TypeError, ValueError):
        return ""
