"""Spans and counts recorded from the benchmark's side of each layer.

A span is ``(name, start, end, parent, op)``: the benchmark opens one
around each call it makes into a layer's public function, and every
span of one client op shares the op's id.  Spans and counts stay in
memory and are written out when the run ends.  With tracing off the
recorder keeps nothing, so the untraced runs pay one branch per call.

Also here: self-time arithmetic, the py4j round-trip counter, Catalyst
phase times, per-op job/stage/task counts from Spark's status tracker,
and the event-log parser for executor-side totals.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder; a no-op when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    children cover (children of one parent may overlap each other;
    their union is subtracted once)."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for j in sorted(children[i], key=lambda k: spans[k].start):
            a, b = max(spans[j].start, s.start), min(spans[j].end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append((s.end - s.start) - covered)
    return out


class Py4JCounter:
    """Counts gateway round-trips made by this process while active.

    Wraps ``send_command`` of both py4j connection classes (pinned-thread
    ClientServer, which PySpark uses by default, and the classic
    gateway) and restores them on ``close``."""

    def __init__(self):
        from py4j import clientserver, java_gateway

        self.n = 0
        self._patched = []
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def counted(conn, command, *a, _orig=orig, **kw):
                self.n += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = counted
            self._patched.append((cls, orig))

    def close(self) -> None:
        for cls, orig in self._patched:
            cls.send_command = orig
        self._patched = []


PHASES = ("analysis", "optimization", "planning")


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s last execution, from
    ``QueryExecution.tracker().phases()``."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return {p: float(phases[p].durationMs()) if p in phases else 0.0 for p in PHASES}


def sched_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) that ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return len(jobs), len(stages), tasks


def persisted_rdds(sc) -> int:
    return int(sc._jsc.getPersistentRDDs().size())


# SQL metrics (ms) of Python-worker evaluation (Arrow/pandas UDFs).
PYWORKER_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: executor run ms, shuffle bytes written, bytes
    spilled (memory + disk) and Python-worker ms, from the Spark event
    log files under ``log_dir``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"run_ms": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0, "pyworker_ms": 0.0}
    )
    files = sorted(
        os.path.join(root, name)
        for root, _dirs, names in os.walk(log_dir)
        for name in names
        if name.startswith(("events_", "local-"))
    )
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics")
                    if group is None or not metrics:
                        continue
                    rec = out[group]
                    rec["run_ms"] += metrics.get("Executor Run Time", 0)
                    rec["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    rec["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYWORKER_METRICS:
                            rec["pyworker_ms"] += float(acc.get("Update") or 0)
    return dict(out)
