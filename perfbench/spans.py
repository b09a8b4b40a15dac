"""In-memory spans around the benchmark's calls into the engine, and the
Spark event-log attribution of jobs, stages, shuffle and input to them.

A span is (id, name, start, end, parent, op). While a span is open in a
thread, Spark jobs submitted from that thread carry its id as their job
group and its name as their description, so the event log maps every job
to the innermost span that caused it. Jobs submitted from threads the
benchmark does not control (the streaming engine's) are attributed by time.
With tracing off, ``span`` records nothing and touches no Spark state.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.sc = None  # SparkContext that receives job groups

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(len(self.spans), name, time.time(), parent=parent.id if parent else None,
                      op=op if op is not None else (parent.op if parent else None), attrs=dict(attrs))
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sp.id}", sp.name)

    def wrap(self, name: str, fn):
        """``fn`` with a span around each call (for engine functions the
        benchmark reaches only through another engine function)."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ":")]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    execution: int | None = None


@dataclass
class Stage:
    id: int
    tasks: int
    run_s: float
    shuffle_write: int
    spill: int
    input_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # SQL execution -> {metric: value} for the file-scan metrics in SCAN_METRICS
    scans: dict[int, dict[str, int]] = field(default_factory=dict)
    # SQL execution -> its root execution (a micro-batch's scan metrics are
    # posted to the root, its jobs run under nested executions)
    roots: dict[int, int] = field(default_factory=dict)

    def jobs_for(self, spans: list[Span], tracer: Tracer, by_time: bool = False) -> list[Job]:
        """Jobs caused by ``spans`` or any span nested in them; with
        ``by_time``, every job submitted inside a span's interval."""
        if by_time:
            return [j for j in self.jobs.values()
                    if any(s.start <= j.submit <= s.end for s in spans)]
        ids = {s.id for s in spans}
        changed = True
        while changed:
            changed = False
            for s in tracer.spans:
                if s.parent in ids and s.id not in ids:
                    ids.add(s.id)
                    changed = True
        groups = {f"span-{i}" for i in ids}
        return [j for j in self.jobs.values() if j.group in groups]

    def totals(self, jobs: list[Job]) -> dict:
        stages = [self.stages[s] for j in jobs for s in j.stages if s in self.stages]
        executions = {j.execution for j in jobs if j.execution is not None}
        executions |= {self.roots.get(e, e) for e in executions}
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s.tasks for s in stages),
            "executor_run_s": sum(s.run_s for s in stages),
            "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
            "spill_bytes": sum(s.spill for s in stages),
            "input_bytes": sum(s.input_bytes for s in stages),
            **{k: sum(self.scans.get(e, {}).get(k, 0) for e in executions) for k in SCAN_METRICS},
        }


#: file-scan SQL metrics summed per execution: our key -> Spark's metric name
SCAN_METRICS = {"files_read": "number of files read", "files_bytes": "size of files read"}


def _plan_metric_ids(info: dict, out: dict[int, str]) -> None:
    names = {v: k for k, v in SCAN_METRICS.items()}
    for m in info.get("metrics", ()):
        if m.get("name") in names:
            out[int(m["accumulatorId"])] = names[m["name"]]
    for c in info.get("children", ()):
        _plan_metric_ids(c, out)


def read_event_log(directory: str) -> EventLog:
    """Parse every (uncompressed, possibly rolled) event log under
    ``directory``."""
    log = EventLog()
    scan_ids: dict[int, str] = {}
    accum: list[tuple[int, list]] = []
    paths = sorted(glob.glob(os.path.join(directory, "**", "events_*"), recursive=True))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    log.jobs[e["Job ID"]] = Job(
                        e["Job ID"], props.get("spark.jobGroup.id"), e["Submission Time"] / 1000.0,
                        stages=list(e["Stage IDs"]), execution=int(ex) if ex is not None else None,
                    )
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in log.jobs:
                        log.jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    acc = {a["Name"]: a.get("Value", 0) for a in si.get("Accumulables", ())}

                    def n(key: str) -> int:
                        return int(acc.get("internal.metrics." + key, 0) or 0)

                    log.stages[si["Stage ID"]] = Stage(
                        si["Stage ID"], si["Number of Tasks"], n("executorRunTime") / 1000.0,
                        n("shuffle.write.bytesWritten"),
                        n("memoryBytesSpilled") + n("diskBytesSpilled"), n("input.bytesRead"),
                    )
                elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metric_ids(e.get("sparkPlanInfo", {}), scan_ids)
                    if e.get("rootExecutionId") is not None:
                        log.roots[e["executionId"]] = e["rootExecutionId"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    accum.append((e["executionId"], e["accumUpdates"]))
    for ex, updates in accum:
        for acc_id, value in updates:
            if acc_id in scan_ids:
                d = log.scans.setdefault(ex, {})
                d[scan_ids[acc_id]] = d.get(scan_ids[acc_id], 0) + int(value)
    return log
