"""Operation timing, spans and the Spark event-log fold.

`Recorder` times every measured operation (closed loop, one client
thread) and every layer call inside it. With tracing on it also tags
each operation's Spark jobs with `setJobGroup("<workload>/<op>/<i>")`
and keeps one span per operation and per layer call (name, start, end,
parent, run id); the spans are written out when the run ends.

`read_jobs` reads Spark's uncompressed JSON event log into per-job
stage and task totals; `attribute` matches jobs to operations by their
job group or, for jobs an operation started from its own worker threads
under another group, by submission time inside the operation's span;
`fold` sums them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, comparable with Spark's event times
    end: float = 0.0
    parent: int | None = None
    group: str | None = None
    rows: int = 0
    label: str = ""

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Op:
    kind: str
    ms: float
    cpu_ms: float
    span: Span


@dataclass
class Recorder:
    workload: str
    run_id: str
    sc: object = None  # SparkContext when tagging jobs, else None
    spans: list[Span] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    program_steps: list[float] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    def _open(self, name: str, group: str | None = None) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.time(), parent=parent, group=group)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()

    @contextmanager
    def op(self, kind: str, label: str = ""):
        """One measured operation of `kind` (`label`: its template)."""
        i = sum(1 for o in self.ops if o.kind == kind)
        group = f"{self.workload}/{kind}/{i}"
        if self.sc is not None:
            self.sc.setJobGroup(group, group)
        s = self._open(kind, group)
        s.label = label or kind
        c0 = time.process_time()
        try:
            yield s
        finally:
            self._close(s)
            self.ops.append(Op(kind, s.ms, (time.process_time() - c0) * 1000.0, s))
            if self.sc is not None:
                self.sc.setJobGroup("bench/idle", "bench/idle")

    @contextmanager
    def layer(self, name: str):
        """One call into an engine layer, nested in the current span."""
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    # -- summaries --------------------------------------------------------

    def op_ms(self, kind: str | None = None) -> list[float]:
        return [o.ms for o in self.ops if kind is None or o.kind == kind]

    def layer_ms(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.name == name]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.ms - child.get(s.sid, 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "run_id": self.run_id,
                    "self_ms": self.self_ms(),
                    "spans": [
                        {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                         "parent": s.parent, "group": s.group, "run": self.run_id}
                        for s in self.spans
                    ],
                },
                f,
                indent=1,
            )


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class JobAgg:
    job_id: int
    group: str | None
    submit_s: float
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: float = 0.0
    task_wait_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_jobs(log_dir: str) -> list[JobAgg]:
    """Per-job totals from the one plain event-log file in `log_dir`."""
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    jobs: dict[int, JobAgg] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = JobAgg(ev["Job ID"], props.get("spark.jobGroup.id"),
                           ev["Submission Time"] / 1000.0)
                jobs[j.job_id] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = j.job_id
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                stage_submit[sid] = info.get("Submission Time", 0)
                if sid in stage_job:
                    jobs[stage_job[sid]].stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                if sid not in stage_job:
                    continue
                j = jobs[stage_job[sid]]
                ti = ev.get("Task Info") or {}
                tm = ev.get("Task Metrics") or {}
                j.tasks += 1
                if ti.get("Failed"):
                    j.failed_tasks += 1
                j.executor_run_ms += tm.get("Executor Run Time", 0)
                j.gc_ms += tm.get("JVM GC Time", 0)
                if sid in stage_submit and ti.get("Launch Time"):
                    j.task_wait_ms += max(0, ti["Launch Time"] - stage_submit[sid])
                sr = tm.get("Shuffle Read Metrics") or {}
                j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                j.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                j.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[JobAgg], ops: list[Op]) -> dict[int, list[JobAgg]]:
    """Map each operation span id to the jobs it ran."""
    by_group = {o.span.group: o.span.sid for o in ops}
    out: dict[int, list[JobAgg]] = {o.span.sid: [] for o in ops}
    for j in jobs:
        sid = by_group.get(j.group)
        if sid is None:
            sid = next((o.span.sid for o in ops
                        if o.span.start <= j.submit_s <= o.span.end), None)
        if sid is not None:
            out[sid].append(j)
    return out


def fold(jobs: list[JobAgg]) -> dict[str, float]:
    return {
        "jobs": len(jobs),
        "stages": sum(len(j.stages) for j in jobs),
        "tasks": sum(j.tasks for j in jobs),
        "failed_tasks": sum(j.failed_tasks for j in jobs),
        "executor_run_ms": sum(j.executor_run_ms for j in jobs),
        "task_wait_ms": sum(j.task_wait_ms for j in jobs),
        "gc_ms": sum(j.gc_ms for j in jobs),
        "shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spill_bytes": sum(j.spill_bytes for j in jobs),
    }
