"""Spans around calls into the package's layers, Spark job groups, and
event-log parsing for the traced run.

A span records name, start, end, parent, op id and op name. Each span runs
under its own Spark job group, so ``statusTracker().getJobIdsForGroup``
counts the jobs the call started, including jobs run eagerly while a
DataFrame is built. Spans stay in memory and are written out at the end.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    label: str = ""
    group: str = ""
    jobs: int = 0


class Tracer:
    """Records spans while ``enabled``. Disabled (the default), ``span``
    is a no-op context manager, so untraced ops pay nothing but the
    call."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1
        self.label = ""
        self.counters: dict[str, int] = defaultdict(int)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.id if parent else None, time.time(), label=self.label)
        s.group = f"perfbench-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            s.jobs = len(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a version that runs in a span;
        returns a callable that restores the original."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the time its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return {s.id: (s.end - s.start) - child[s.id] for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, tasks, task run time, shuffle write and
    spill bytes, and plan time (SQL execution start to its first job).

    Reads the single application log Spark wrote under ``log_dir``;
    call after the session has stopped so the file is complete.
    """
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    exec_start: dict[int, int] = {}
    exec_first_job: dict[int, tuple[int, str]] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(paths[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                out[group]["jobs"] += 1
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    eid = int(eid)
                    t = ev["Submission Time"]
                    if eid not in exec_first_job or t < exec_first_job[eid][0]:
                        exec_first_job[eid] = (t, group)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                g = out[stage_group.get(ev["Stage ID"], "")]
                g["tasks"] += 1
                g["task_run_ms"] += m.get("Executor Run Time", 0)
                g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_start[int(ev["executionId"])] = ev["time"]
    for eid, (t, group) in exec_first_job.items():
        if eid in exec_start:
            out[group]["plan_ms"] += max(0, t - exec_start[eid])
    return {k: dict(v) for k, v in out.items()}
