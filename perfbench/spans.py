"""Spans recorded around calls into the program, and Spark's event log read
back into per-span engine counters.

A span is (id, name, start, end, parent, run id), kept in memory and written
to one JSON file when the run ends.  While a span is open its id is the
Spark job group, so every job the call launches is attributed to it in the
uncompressed event log (``spark.eventLog.compress=false``), which
:func:`parse_event_log` folds into counters per job group.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROPERTY = "spark.jobGroup.id"


@dataclass
class Span:
    id: str
    name: str
    start: float
    end: float | None
    parent: str | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Collects spans; when given a SparkContext, sets each open span's id
    as the job group so Spark jobs map back to the call that caused them."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty(GROUP_PROPERTY, None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"s{len(self.spans)}",
            name=name,
            start=time.time(),
            end=None,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner: object, attr: str, name: str) -> bool:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span
        named ``name``.  Returns False (and wraps nothing) when the program
        no longer has that attribute."""
        fn = getattr(owner, attr, None)
        if not callable(fn):
            return False

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))
        return True

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span opened beneath it."""
        ids = {root.id}
        out = [root]
        for s in self.spans:  # parents always precede their children
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def dump(self, path: str, extra: dict | None = None) -> None:
        doc = {
            "run_id": self.run_id,
            "spans": [
                {
                    "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "attrs": s.attrs,
                }
                for s in self.spans
            ],
        }
        doc.update(extra or {})
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1, default=str)


@dataclass
class StageTasks:
    group: str | None
    durations_ms: list[float] = field(default_factory=list)


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "GroupCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    groups: dict[str | None, GroupCounters]
    stages: dict[int, StageTasks]

    def total(self, groups: set[str]) -> GroupCounters:
        out = GroupCounters()
        for g in groups:
            if g in self.groups:
                out.add(self.groups[g])
        return out

    def task_skew(self, groups: set[str]) -> float:
        """Max over median task time in the widest stage (most tasks; ties
        go to the longer stage) among the stages of ``groups``; 0 when those
        groups ran no task."""
        cands = [s for s in self.stages.values() if s.group in groups and s.durations_ms]
        if not cands:
            return 0.0
        widest = max(cands, key=lambda s: (len(s.durations_ms), sum(s.durations_ms)))
        med = statistics.median(widest.durations_ms)
        return max(widest.durations_ms) / max(med, 1.0)


_MB = 1e6


def parse_event_log(lines) -> EventLog:
    """Fold a Spark event log (one JSON event per line) into counters per
    job group.  A stage belongs to the first job that lists it; stages a
    later job reuses (skipped stages) run no tasks there."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupCounters] = {}
    stages: dict[int, StageTasks] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROPERTY)
            groups.setdefault(group, GroupCounters()).jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            group = stage_group.get(sid)
            c = groups.setdefault(group, GroupCounters())
            st = stages.get(sid)
            if st is None:
                st = stages[sid] = StageTasks(group)
                c.stages += 1
            c.tasks += 1
            info = ev.get("Task Info") or {}
            if info.get("Finish Time") and info.get("Launch Time"):
                st.durations_ms.append(float(info["Finish Time"] - info["Launch Time"]))
            m = ev.get("Task Metrics") or {}
            c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            c.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            c.gc_s += m.get("JVM GC Time", 0) / 1e3
            c.spill_mb += m.get("Disk Bytes Spilled", 0) / _MB
            sw = m.get("Shuffle Write Metrics") or {}
            c.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / _MB
            sr = m.get("Shuffle Read Metrics") or {}
            c.shuffle_read_mb += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / _MB
    return EventLog(groups, stages)


def read_event_log(path: str) -> EventLog:
    with open(path) as fh:
        return parse_event_log(fh)
