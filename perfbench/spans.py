"""Spans around layer calls, and a reader for Spark's JSON event log.

Spans are taken from outside the program: ``Tracer.wrap`` replaces a name in
a module's namespace with a wrapper that records a span around each call
and tags the Spark jobs it starts with ``setJobDescription(<span>@<key>)``,
where the key names the benchmark operation, so stages in the event log
attach to the span and operation that caused them. Spans are
kept in memory; the benchmark reduces them to per-layer numbers at the end.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    key: str | None = None  # the operation the span belongs to
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._sc = spark.sparkContext
        self._restore: list = []
        self.key: str | None = None  # set by the caller per operation

    def _description(self, span: Span) -> str:
        return span.name if span.key is None else f"{span.name}@{span.key}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        span = Span(name, time.perf_counter(), parent=parent, key=self.key)
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._open.append(idx)
        self._sc.setJobDescription(self._description(span))
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._open.pop()
            self._sc.setJobDescription(
                self._description(self.spans[parent]) if parent is not None else None
            )

    def wrap(self, module, attr: str, name: str | None = None) -> None:
        """Record a span around every call of ``module.attr`` made through
        that module's namespace. ``name`` may be a callable of the call's
        arguments, for one function serving several layers' calls."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else (name or attr)
            with self.span(label):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)
        self._restore.append((module, attr, fn))

    def unwrap(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)

    def self_time(self, span: Span) -> float:
        """Duration minus the time its children cover (children of one span
        run one after another on the calling thread)."""
        return span.duration - sum(self.spans[c].duration for c in span.children)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a plain, uncompressed, single-file JSON event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class StageStats:
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    skews: list[float] = field(default_factory=list)  # max / median task time


@dataclass
class SqlPlan:
    description: str | None
    nodes: list[tuple[str, str, str]]  # (nodeName, simpleString, Location)


class EventLog:
    """The parts of one application's event log the benchmark reads:
    completed stages and their tasks grouped by job description, and the
    initial physical plan of every SQL execution."""

    def __init__(self, log_dir: str):
        (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
        self._stage_desc: dict[int, str | None] = {}
        self._task_times: dict[int, list[float]] = {}
        self._stage_io: dict[int, list[int]] = {}  # stage -> [shuffle bytes, spill bytes]
        self._completed: set[int] = set()
        self.sql: list[SqlPlan] = []
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description")
                    for sid in e["Stage IDs"]:
                        self._stage_desc.setdefault(sid, desc)
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    m = e.get("Task Metrics") or {}
                    self._task_times.setdefault(sid, []).append(m.get("Executor Run Time", 0))
                    io = self._stage_io.setdefault(sid, [0, 0])
                    io[0] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    io[1] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                elif kind == "SparkListenerStageCompleted":
                    self._completed.add(e["Stage Info"]["Stage ID"])
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    nodes: list[tuple[str, str, str]] = []
                    todo = [e["sparkPlanInfo"]]
                    while todo:
                        n = todo.pop()
                        loc = (n.get("metadata") or {}).get("Location", "")
                        nodes.append((n["nodeName"], n["simpleString"], loc))
                        todo.extend(n["children"])
                    self.sql.append(SqlPlan(e.get("description"), nodes))

    def stage_stats(self, match) -> StageStats:
        """Totals over completed stages whose job description satisfies
        ``match`` (a predicate on the description string)."""
        out = StageStats()
        for sid in sorted(self._completed):
            desc = self._stage_desc.get(sid)
            if desc is None or not match(desc):
                continue
            times = self._task_times.get(sid, [])
            out.stages += 1
            out.tasks += len(times)
            shuffle, spill = self._stage_io.get(sid, [0, 0])
            out.shuffle_write_bytes += shuffle
            out.spill_bytes += spill
            if len(times) > 1 and statistics.median(times) > 0:
                out.skews.append(max(times) / statistics.median(times))
        return out

    def plans(self, match) -> list[SqlPlan]:
        return [p for p in self.sql if p.description is not None and match(p.description)]
