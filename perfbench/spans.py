"""Spans around the calls the benchmark makes into each engine layer,
and Spark event-log accounting per span.

A span is (id, layer, name, start, end, parent, run id).  Spans are
kept in memory and written as JSON lines when the run ends.  While a
span is open its id is the Spark job group, so every job, stage and
task in the event log can be attributed to the innermost span that
submitted it.

With tracing off, ``Tracer.span`` yields None: no job group is set and
nothing is recorded.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: str
    layer: str
    name: str
    start: float
    parent: str | None
    run_id: str
    end: float = 0.0
    group: bool = True

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.sc = None
        #: seconds spent inside span bookkeeping (job-group calls
        #: included): the tracer's own share of the traced run
        self.overhead_s = 0.0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    def _set_group(self) -> None:
        """Make the innermost open span that owns a job group current."""
        if self.sc is None:
            return
        owner = next((s for s in reversed(self._stack) if s.group), None)
        if owner is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(owner.id, f"{owner.layer}:{owner.name}")

    @contextlib.contextmanager
    def span(self, layer: str, name: str = "", group: bool = True):
        """Record a span; with ``group`` its id becomes the Spark job
        group, otherwise its jobs stay with the enclosing span."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}-{len(self.spans)}", layer, name, 0.0,
                 parent.id if parent else None, self.run_id, group=group)
        self.spans.append(s)
        self._stack.append(s)
        if group:
            self._set_group()
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            if group:
                self._set_group()
            self.overhead_s += time.perf_counter() - t1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "layer": s.layer, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "run_id": s.run_id,
                }) + "\n")

    # -- derived numbers -------------------------------------------------

    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_seconds(self, subset: list[Span]) -> dict[str, float]:
        """Per layer, over ``subset``: span time minus the part of it
        that child spans cover."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in subset:
            covered = _union_length([(c.start, c.end) for c in kids.get(s.id, [])],
                                    s.start, s.end)
            out[s.layer] = out.get(s.layer, 0.0) + s.seconds - covered
        return out

    def coverage(self, parent: Span) -> float:
        """Share of ``parent``'s wall time covered by its child spans."""
        kids = self.children().get(parent.id, [])
        if parent.seconds <= 0:
            return 0.0
        return _union_length([(c.start, c.end) for c in kids],
                             parent.start, parent.end) / parent.seconds


def _union_length(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- event log ------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    task_seconds: list = field(default_factory=list)
    plans: list = field(default_factory=list)


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group: jobs, tasks and task metrics, plus the physical
    plans of the SQL executions whose jobs ran in that group."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    stats: dict[str, GroupStats] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    if not group:
                        continue
                    st = stats.setdefault(group, GroupStats())
                    st.jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    st = stats[group]
                    st.tasks += 1
                    st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.run_s += m.get("Executor Run Time", 0) / 1e3
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    st.task_seconds.append(m.get("Executor Run Time", 0) / 1e3)
                    sr = m.get("Shuffle Read Metrics", {})
                    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    im = m.get("Input Metrics", {})
                    st.input_rows += im.get("Records Read", 0)
                    st.input_bytes += im.get("Bytes Read", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[int(ev["executionId"])] = ev.get("sparkPlanInfo") or {}
    for eid, group in exec_group.items():
        if eid in plans and group in stats:
            stats[group].plans.append(plans[eid])
    return stats


def count_scans(plan: dict, path_part: str) -> int:
    """Parquet scan nodes in a plan tree whose location names ``path_part``."""
    n = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.get("nodeName", "").startswith("Scan parquet"):
            if path_part in str(node.get("metadata", {}).get("Location", "")):
                n += 1
        stack.extend(node.get("children", []))
    return n


def task_skew(seconds: list[float]) -> float:
    """Max over median task time (1.0 = perfectly even)."""
    med = statistics.median(seconds) if seconds else 0.0
    return max(seconds) / med if med > 0 else 0.0
