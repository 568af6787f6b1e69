"""Spans around calls into the program's layers, joined to Spark's event log.

A span is opened by the benchmark around one call into a layer's public
function. When tracing is on, each span runs under its own Spark job group,
so every job the call triggers carries the span's id in the event log.
After the session stops, ``EventLog`` reads the log and attributes jobs,
stages and tasks to spans. A span's ``jobs_s`` is the union of its jobs'
wall intervals and its ``driver_s`` is the rest of its duration: plan
building, py4j traffic and driver-side actions with no job running.

Spark is lazy, so a span around a call that returns a DataFrame measures
plan building plus any jobs the call runs eagerly; the executed work of
the returned plan lands in the span of the action that consumes it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    op: int
    start: float
    end: float = 0.0
    group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans in memory. With ``enabled=False`` a span does nothing,
    so untraced runs carry no job-group traffic.

    Spans nest: each operation is one ``op`` span whose children are the
    layer spans. Layer spans have no children, so a layer span's duration
    is its self time; the ``op`` span's self time is the benchmark's own
    glue between layer calls."""

    sc: object
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    #: time spent in the tracer's own bookkeeping (job-group calls)
    overhead_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        t = time.perf_counter()
        idx = len(self.spans)
        sp = Span(layer, name, self.op, 0.0, group=f"pb{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, f"{layer}:{sp.name}")
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]].group, "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - sp.end


@dataclass
class JobStats:
    group: str | None
    submit_ms: int = 0
    end_ms: int = 0
    stages: set = field(default_factory=set)


@dataclass
class GroupStats:
    jobs: int = 0
    jobs_wall_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    task_busy_s: float = 0.0
    sched_delay_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0


def _union_s(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


class EventLog:
    """Per-job-group totals from one application's event log."""

    def __init__(self, log_dir: str, app_id: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
        if len(paths) != 1 or not os.path.isfile(paths[0]):
            raise FileNotFoundError(f"no single event log file for {app_id} in {log_dir}")
        self.jobs: dict[int, JobStats] = {}
        stage_job: dict[int, int] = {}
        tasks: list[dict] = []
        with open(paths[0], encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = JobStats(props.get("spark.jobGroup.id"), submit_ms=ev.get("Submission Time", 0))
                    for st in ev.get("Stage Infos", []):
                        job.stages.add(st["Stage ID"])
                    for sid in ev.get("Stage IDs", []):
                        job.stages.add(sid)
                    for sid in job.stages:
                        stage_job.setdefault(sid, ev["Job ID"])
                    self.jobs[ev["Job ID"]] = job
                elif kind == "SparkListenerJobEnd":
                    job = self.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end_ms = ev.get("Completion Time", job.submit_ms)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        self.groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
        intervals: dict[str | None, list] = defaultdict(list)
        ran_stages: dict[str | None, set] = defaultdict(set)
        for job in self.jobs.values():
            g = self.groups[job.group]
            g.jobs += 1
            intervals[job.group].append((job.submit_ms, job.end_ms or job.submit_ms))
        for ev in tasks:
            job = self.jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            group = job.group if job else None
            g = self.groups[group]
            ran_stages[group].add(ev.get("Stage ID"))
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.tasks_failed += bool(info.get("Failed")) or bool(info.get("Killed"))
            run_ms = m.get("Executor Run Time", 0)
            g.task_busy_s += run_ms / 1000.0
            finish = info.get("Finish Time", 0)
            dur = finish - info.get("Launch Time", 0)
            # "Getting Result Time" is a timestamp, 0 unless the result
            # was fetched from the block manager
            fetching = finish - info["Getting Result Time"] if info.get("Getting Result Time") else 0
            overheads = (run_ms + m.get("Executor Deserialize Time", 0)
                         + m.get("Result Serialization Time", 0) + fetching)
            g.sched_delay_s += max(0, dur - overheads) / 1000.0
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g.bytes_written += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        for group, g in self.groups.items():
            g.jobs_wall_s = _union_s(intervals[group])
            g.stages = len(ran_stages[group])

    def group(self, gid: str) -> GroupStats:
        return self.groups.get(gid) or GroupStats()
