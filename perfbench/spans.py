"""Spans around calls into the engine's layers, and what Spark says they cost.

A span records name, start, end, parent and run id.  Spans stay in memory
until the run ends.  With tracing on, every Spark job a span starts runs
under a job group named after the span, so the event log (uncompressed,
single file) attributes jobs, stages and task metrics to it.  Nothing in
the engine is instrumented: spans wrap its public calls from outside.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional

#: Spark SQL metric names of the Python UDF runners (task accumulables).
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    run: str
    start: float
    end: float = 0.0
    wall_s: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.run}:{self.id}"


class Tracer:
    """Records spans; with ``jobs=True`` also tags Spark jobs per span."""

    def __init__(self, sc, run_id: str, jobs: bool) -> None:
        self.sc = sc
        self.run_id = run_id
        self.jobs = jobs
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.jobs:
            self.sc.setJobGroup(s.group, name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if self.jobs:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def subtree(self, root: Span) -> List[Span]:
        """``root`` and every span nested under it."""
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1:]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def named(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> List[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
             "start": s.start, "end": s.end, "wall_s": s.wall_s}
            for s in self.spans
        ]


@dataclass
class Cost:
    """Spark's account of a set of job groups."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    python_s: float = 0.0
    to_python_bytes: int = 0
    from_python_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    gc_s: float = 0.0
    intervals: List[tuple] = field(default_factory=list)


class EventLog:
    """Jobs, stages and tasks of one application's event log, by job group."""

    def __init__(self, path: str) -> None:
        self.job_group: Dict[int, Optional[str]] = {}
        self.job_span: Dict[int, list] = {}
        self.stage_group: Dict[int, Optional[str]] = {}
        self.completed_stages: Dict[int, int] = {}
        self.tasks: List[tuple] = []  # (group, failed_or_retried, metrics, accums)
        with open(path, encoding="utf-8") as f:
            for line in f:
                self._read(json.loads(line))

    def _read(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.job_group[jid] = group
            self.job_span[jid] = [e["Submission Time"], e["Submission Time"]]
            for sid in e["Stage IDs"]:
                self.stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            self.job_span[e["Job ID"]][1] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            self.completed_stages[sid] = self.completed_stages.get(sid, 0) + 1
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            bad = (
                info.get("Failed", False)
                or info.get("Killed", False)
                or info.get("Attempt", 0) > 0
                or e["Task End Reason"]["Reason"] != "Success"
            )
            accums = {
                a["Name"]: a.get("Update", 0)
                for a in info.get("Accumulables", [])
                if a.get("Name") in (PY_RUN, PY_SENT, PY_RECEIVED)
            }
            self.tasks.append(
                (self.stage_group.get(e["Stage ID"]), bad,
                 e.get("Task Metrics") or {}, accums)
            )

    def cost(self, groups: Iterable[str]) -> Cost:
        groups = set(groups)
        c = Cost()
        for jid, g in self.job_group.items():
            if g in groups:
                c.jobs += 1
                c.intervals.append(tuple(self.job_span[jid]))
        c.stages = sum(
            n for sid, n in self.completed_stages.items()
            if self.stage_group.get(sid) in groups
        )
        for g, _bad, m, accums in self.tasks:
            if g not in groups:
                continue
            c.tasks += 1
            c.python_s += float(accums.get(PY_RUN, 0)) / 1e3
            c.to_python_bytes += int(accums.get(PY_SENT, 0))
            c.from_python_bytes += int(accums.get(PY_RECEIVED, 0))
            c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            c.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
        c.busy_s = union_seconds(c.intervals)
        return c


def union_seconds(intervals_ms: List[tuple]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total = 0
    end = None
    for s, e in sorted(intervals_ms):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e3


def descendants(pid: int) -> List[int]:
    """Live processes under ``pid``: the driver JVM that the Python driver
    launched, and the Python worker daemon and workers under that JVM."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out: List[int] = []
    todo = list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pid`` and every live
    descendant."""
    total_kb = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
