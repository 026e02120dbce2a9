"""Span tree for the traced run, and the per-layer Spark figures of its event log.

Spans are opened by the benchmark around its calls into each layer, so the
program under test carries no probes.  Every span also names the Spark job
group of the jobs it submits, which is how the event log's stages map back
to layers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    cpu0: dict = field(default_factory=dict)
    cpu1: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans of one traced pass.

    `group_prefix` makes the job groups of this pass unique in the event log.
    """

    def __init__(self, sc=None, group_prefix: str = ""):
        self.sc = sc
        self.group_prefix = group_prefix
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _set_group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group_prefix + name, name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.monotonic(), cpu0=procstat.cpu_seconds())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self._set_group(name)
        try:
            yield s
        finally:
            s.cpu1 = procstat.cpu_seconds()
            s.end = time.monotonic()
            self._stack.pop()
            self._set_group(self.spans[parent].name if parent is not None else None)

    def self_times(self) -> list[tuple[str, float]]:
        """(name, self seconds) per span: its wall minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.wall
        return [(s.name, s.wall - child[i]) for i, s in enumerate(self.spans)]

    def by_name(self) -> dict[str, Span]:
        return {s.name: s for s in self.spans}


def _median_floor(xs: list[float], floor: float) -> float:
    return max(statistics.median(xs), floor)


def event_log_groups(log_dir: str) -> dict[str, dict]:
    """{job group: {'shuffle_mb', 'task_skew', 'stages'}} from the event logs
    under log_dir.

    shuffle_mb is shuffle bytes written by the group's tasks.  task_skew is
    max / median executor run time over the tasks of the group's busiest
    stage (the one with the most summed run time), the median floored at
    1 ms so stages of empty tasks do not divide by zero."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[float]] = {}
    shuffle: dict[int, int] = {}
    # Spark 4 writes rolling logs: a directory per app of events_<n>_* files
    files = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names if n.startswith("events")]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(sid, []).append(float(m.get("Executor Run Time", 0)))
                    w = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    shuffle[sid] = shuffle.get(sid, 0) + int(w)
    out: dict[str, dict] = {}
    for sid, group in stage_group.items():
        if sid not in tasks:  # skipped stage: its shuffle output was reused
            continue
        g = out.setdefault(group, {"shuffle_mb": 0.0, "stages": 0, "_busiest": (-1.0, 1.0)})
        g["shuffle_mb"] += shuffle.get(sid, 0) / 2**20
        g["stages"] += 1
        run = tasks[sid]
        busy = sum(run)
        if busy > g["_busiest"][0]:
            g["_busiest"] = (busy, max(run) / _median_floor(run, 1.0))
    for g in out.values():
        g["task_skew"] = g.pop("_busiest")[1]
    return out
