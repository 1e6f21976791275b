"""Spans around the engine's public calls, and per-module counters
derived from Spark's event log.

Every span sets the Spark job group to its module name, so each job
the engine launches inside it carries ``spark.jobGroup.id = <module>``
in the event log; stages and tasks are attributed to a module through
their job. Spans nest (a ``superstep`` span inside ``pagerank``); a
module's self time is its span time minus the time its child spans
cover.

The event log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=
false``): Spark 4 defaults to zstd, and no zstd reader is assumed.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

MODULES = (
    "session",
    "edges",
    "cc",
    "triangles",
    "pagerank",
    "lpa",
    "grids",
    "components",
    "superstep",
)
COUNTERS = (
    "wall_s",
    "self_s",
    "jobs",
    "tasks",
    "task_s",
    "busy_frac",
    "driver_gap_s",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "skew",
    "failed_tasks",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock the event log uses
    end: float
    parent: str | None


@dataclass
class Tracer:
    """Records spans in memory. ``spark_context`` is looked up per span
    because the benchmark restarts sessions within one process."""

    spark_context: Callable[[], object]
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.attach()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append(Span(name, start, end, parent))
            self.attach()

    def attach(self) -> None:
        """Set the innermost open span as the job group of the current
        SparkContext (needed after a span starts a new session)."""
        sc = self.spark_context()
        if sc is None:
            return
        if self._stack:
            sc.setJobGroup(self._stack[-1], self._stack[-1], False)
        else:
            sc._jsc.clearJobGroup()  # no Python-side clearJobGroup


# -- interval arithmetic ------------------------------------------------


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _length(iv: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in _union(iv))


def _intersect(x: list[tuple[float, float]], y: list[tuple[float, float]]):
    out, uy = [], _union(y)
    for a, b in _union(x):
        for c, d in uy:
            lo, hi = max(a, c), min(b, d)
            if lo < hi:
                out.append((lo, hi))
    return out


def _subtract(x: list[tuple[float, float]], y: list[tuple[float, float]]):
    out, uy = [], _union(y)
    for a, b in _union(x):
        cur = a
        for c, d in uy:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


# -- event log ----------------------------------------------------------


@dataclass
class _Task:
    seconds: float
    ok: bool
    shuffle_write: int
    spill: int
    gc_ms: int


@dataclass
class EventLog:
    job_group: dict[int, str] = field(default_factory=dict)
    stage_group: dict[int, str] = field(default_factory=dict)
    stage_span: dict[int, tuple[float, float]] = field(default_factory=dict)
    tasks: dict[int, list[_Task]] = field(default_factory=lambda: defaultdict(list))


def read_event_log(path: str) -> EventLog:
    """Parse one application's log. Job and stage ids restart with each
    SparkContext, so logs of different applications are never merged."""
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                log.job_group[ev["Job ID"]] = group
                for sid in ev["Stage IDs"]:
                    log.stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    log.stage_span[info["Stage ID"]] = (
                        info["Submission Time"] / 1000.0,
                        info["Completion Time"] / 1000.0,
                    )
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                log.tasks[ev["Stage ID"]].append(
                    _Task(
                        seconds=(info["Finish Time"] - info["Launch Time"]) / 1000.0,
                        ok=ev["Task End Reason"]["Reason"] == "Success",
                        shuffle_write=m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        spill=m.get("Disk Bytes Spilled", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                    )
                )
    return log


def module_metrics(
    logs: list[EventLog], spans: list[Span], cores: int, reps: dict[str, int]
) -> dict[str, float]:
    """``<module>.<counter>`` for every module in MODULES. Counts and
    times are per repetition of the work the module's spans cover
    (totals / ``reps[module]``, 1 when absent);
    ``busy_frac`` is task time over self time x cores, ``driver_gap_s``
    the self time during which no stage of the module was running, and
    ``skew`` max/median task time in the module's largest stage."""
    out: dict[str, float] = {}
    for mod in MODULES:
        own = [(s.start, s.end) for s in spans if s.name == mod]
        kids = [(s.start, s.end) for s in spans if s.parent == mod]
        self_iv = _subtract(own, kids)
        wall, self_s = _length(own), _length(self_iv)
        jobs = tasks = failed = shuffle = spill = gc_ms = 0
        task_s = 0.0
        stage_iv: list[tuple[float, float]] = []
        biggest: list[float] = []
        for log in logs:
            jobs += sum(1 for g in log.job_group.values() if g == mod)
            for sid, group in log.stage_group.items():
                if group != mod:
                    continue
                if sid in log.stage_span:
                    stage_iv.append(log.stage_span[sid])
                ts = log.tasks.get(sid, [])
                tasks += len(ts)
                failed += sum(not t.ok for t in ts)
                shuffle += sum(t.shuffle_write for t in ts)
                spill += sum(t.spill for t in ts)
                gc_ms += sum(t.gc_ms for t in ts)
                secs = [t.seconds for t in ts]
                task_s += sum(secs)
                if sum(secs) > sum(biggest):
                    biggest = secs
        covered = _length(_intersect(self_iv, stage_iv))
        med = statistics.median(biggest) if biggest else 0.0
        vals = {
            "wall_s": wall,
            "self_s": self_s,
            "jobs": jobs,
            "tasks": tasks,
            "task_s": task_s,
            "busy_frac": task_s / (self_s * cores) if self_s > 0 else 0.0,
            "driver_gap_s": max(self_s - covered, 0.0),
            "shuffle_write_mb": shuffle / 1e6,
            "spill_mb": spill / 1e6,
            "gc_s": gc_ms / 1000.0,
            "skew": (max(biggest) / med if med > 0 else 1.0) if biggest else 0.0,
            "failed_tasks": failed,
        }
        for k in COUNTERS:
            v = vals[k]
            if k not in ("busy_frac", "skew"):
                v = v / reps.get(mod, 1)
            out[f"{mod}.{k}"] = v
    return out
