"""In-memory spans around layer calls, joined with Spark's event log.

A span records (id, name, start, end, parent, run).  While a span is
open its Spark jobs run under the job group ``pb<span id>``, so after
the session stops every job, stage and task in the event log can be
attributed to the innermost span that submitted it.  Plan nodes are
recovered from the SQL execution events (initial and adaptive plans),
which lets task accumulables be summed per node kind: MapInPandas
Python time and bytes, join output rows, the beam-prune filter.

Nothing here runs when tracing is off: ``span`` then only yields.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

GROUP_PREFIX = "pb"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans for one benchmark run.  A disabled tracer records nothing
    and never touches the job group."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None
        self.run: int | None = None
        self._stack: list[Span] = []

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.run, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{sp.id}", sp.name)

    # -- queries over recorded spans ----------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    deserialize_ms: float = 0.0
    gc_ms: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    # (node kind, metric name) -> summed task updates
    node_metrics: dict = field(default_factory=lambda: defaultdict(float))

    def add(self, other: "GroupStats") -> None:
        for k in (
            "jobs", "stages", "tasks", "failed_tasks", "deserialize_ms", "gc_ms",
            "spill_bytes", "shuffle_write_bytes",
        ):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        for k, v in other.node_metrics.items():
            self.node_metrics[k] += v

    def node(self, kind: str, metric: str) -> float:
        return self.node_metrics.get((kind, metric), 0.0)


def _node_kind(node: dict) -> str:
    name = node["nodeName"]
    if name == "Filter" and "__rn" in node.get("simpleString", ""):
        return "BeamPrune"
    if name.endswith("Join") or name == "BroadcastNestedLoopJoin":
        return "Join"
    return name


def _walk_plan(node: dict, acc_kind: dict[int, tuple[str, str]]) -> None:
    kind = _node_kind(node)
    for m in node.get("metrics", []):
        acc_kind[int(m["accumulatorId"])] = (kind, m["name"])
    for c in node.get("children", []):
        _walk_plan(c, acc_kind)


def read_event_log(log_dir: Path) -> dict[str, GroupStats]:
    """Job group id -> stats, over every application logged in log_dir."""
    acc_kind: dict[int, tuple[str, str]] = {}
    stage_group: dict[tuple[str, int], str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    task_events = []
    files = sorted(p for p in log_dir.rglob("*") if p.is_file() and p.name.startswith("events"))
    for path in files:
        app = path.parent.name
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stats[group].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    stage_group[(app, info["Stage ID"])] = group
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stats[stage_group.get((app, info["Stage ID"]), "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    task_events.append((app, ev))
                elif "sparkPlanInfo" in ev:
                    _walk_plan(ev["sparkPlanInfo"], acc_kind)
    for app, ev in task_events:
        st = stats[stage_group.get((app, ev["Stage ID"]), "")]
        st.tasks += 1
        info = ev["Task Info"]
        if info.get("Failed") or info.get("Killed"):
            st.failed_tasks += 1
        tm = ev.get("Task Metrics") or {}
        st.deserialize_ms += tm.get("Executor Deserialize Time", 0)
        st.gc_ms += tm.get("JVM GC Time", 0)
        st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        st.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for a in info.get("Accumulables", []):
            key = acc_kind.get(int(a["ID"]))
            if key is None or "Update" not in a:
                continue
            try:
                st.node_metrics[key] += float(a["Update"])
            except (TypeError, ValueError):
                continue
    return dict(stats)


def span_stats(groups: dict[str, GroupStats], spans: list[Span]) -> GroupStats:
    """Stats of every job submitted under the given spans (not their
    children: pass the descendants explicitly to include them)."""
    out = GroupStats()
    for s in spans:
        g = groups.get(f"{GROUP_PREFIX}{s.id}")
        if g is not None:
            out.add(g)
    return out
