"""Spans around calls into the program's layers, for the traced run.

The benchmark wraps public functions of the program's modules (the
program's files are not changed; the wrappers live only in the benchmark
process). Each span records name, start, end, parent and run id in memory,
and tags the Spark jobs it submits with a job group of its own, so the
event log attributes jobs, stages, CPU, shuffle and spill to the innermost
span. Spark is lazy, so a wrapped call's DataFrame results are
materialized (``localCheckpoint``) before the span closes; that changes
the plan, which is why traced numbers come from a run of their own.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.run_id}-{self.id}"


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``module.attr`` with a spanned call that materializes
        its DataFrame results. ``before(args, kwargs)`` and
        ``after(result, args, kwargs)`` return counts recorded on the span; they run in
        ``bench.*`` child spans, so their jobs and time are not the
        layer's."""
        fn = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name) as s:
                if before:
                    with self.span("bench.count"):
                        s.counts.update(before(args, kwargs))
                out = materialize(fn(*args, **kwargs))
                if after:
                    with self.span("bench.count"):
                        s.counts.update(after(out, args, kwargs))
                return out

        self._patches.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for st, en in kids:
            if cur_e is None or st > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = st, en
            else:
                cur_e = max(cur_e, en)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.id]
        while todo:
            pid = todo.pop()
            for c in self.spans:
                if c.parent == pid:
                    out.append(c)
                    todo.append(c.id)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def materialize(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return out.localCheckpoint(eager=True)
    if isinstance(out, dict):
        return {k: materialize(v) for k, v in out.items()}
    if isinstance(out, tuple):
        return tuple(materialize(v) for v in out)
    return out


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    longest_stage_ms: int = 0
    longest_stage_tasks: int = 0

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.cpu_ns += other.cpu_ns
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        if other.longest_stage_ms > self.longest_stage_ms:
            self.longest_stage_ms = other.longest_stage_ms
            self.longest_stage_tasks = other.longest_stage_tasks


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, completed stages, executor CPU, shuffle bytes
    written, spill, and the longest stage. Read after ``spark.stop()``,
    when the (uncompressed, unrolled) log is complete."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stats.setdefault(g, GroupStats()).jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stats.setdefault(stage_group.get(info["Stage ID"], ""), GroupStats())
                    g.stages += 1
                    ms = (info.get("Completion Time") or 0) - (info.get("Submission Time") or 0)
                    if ms > g.longest_stage_ms:
                        g.longest_stage_ms = ms
                        g.longest_stage_tasks = info.get("Number of Tasks", 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    g = stats.setdefault(stage_group.get(ev.get("Stage ID"), ""), GroupStats())
                    g.cpu_ns += m.get("Executor CPU Time", 0)
                    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return stats
