"""Spans around calls into the engine, and Spark's task accounting folded
per span.

A traced op opens one span per layer.  Each span sets a Spark job group
(``op<id>/<layer>``) for its duration, so every job the layer starts is
tagged; after the session stops, :func:`fold_event_log` reads Spark's
uncompressed JSON event log and folds task-end metrics by job group.
Nothing inside the engine is instrumented: the spans sit in the benchmark,
around the engine's public functions.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench.stats import median

# Spark-derived fields every Spark span reports, in output order.
SPARK_FIELDS = (
    "task_cpu_s", "task_run_s", "shuffle_write_bytes", "spill_bytes",
    "tasks", "jobs", "task_skew",
)
SPAN_FIELDS = ("wall_s", *SPARK_FIELDS)


@dataclass
class Span:
    name: str
    op_id: int
    start: float
    end: float = 0.0
    parent: str | None = None
    group: str | None = None
    extra: dict = field(default_factory=dict)
    # job groups Spark set itself for work this span started (a streaming
    # query tags its micro-batch jobs with its run id)
    other_groups: list[str] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and tags Spark jobs with the span's job group.

    Disabled, ``span`` yields a scratch dict and touches no Spark state, so
    an untraced op runs exactly the calls it would run without the
    benchmark around it.
    """

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name, op_id=op_id, start=time.perf_counter(),
            parent=parent.name if parent else None,
            group=f"op{op_id}/{name}",
        )
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp.extra
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)

    def add_group(self, group: str) -> None:
        """Fold the jobs of ``group`` into the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1].other_groups.append(group)

    def dump(self) -> list[dict]:
        return [{**asdict(s), "wall_s": s.wall_s} for s in self.spans]


def _empty_fold() -> dict:
    return {
        "task_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "tasks": 0, "jobs": 0, "_run_ms": [],
    }


def fold_events(events) -> dict[str, dict]:
    """Fold Spark listener events (parsed JSON dicts) by job group.

    A stage belongs to the group of the first job that lists it; a task
    belongs to its stage's group.  Per group: summed executor CPU and run
    time, shuffle bytes written, spill (memory + disk), task and job
    counts, and task skew = max ÷ median task run time (the median is
    floored at 1 ms, the event log's resolution).
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if not group:
                continue
            out.setdefault(group, _empty_fold())["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            m = ev.get("Task Metrics") or {}
            g = out[group]
            g["tasks"] += 1
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            g["_run_ms"].append(m.get("Executor Run Time", 0))
    for g in out.values():
        runs = g.pop("_run_ms")
        g["task_skew"] = (
            max(runs) / max(median(runs), 1.0) if runs else 0.0
        )
    return out


def fold_event_log(path: str) -> dict[str, dict]:
    """:func:`fold_events` over one uncompressed, non-rolling event log."""
    with open(path) as f:
        return fold_events(json.loads(line) for line in f if line.strip())


def layer_summary(spans: list[Span], folded: dict[str, dict]) -> dict:
    """Per layer, the median over traced ops of each span field.

    A layer that ran more than once inside one op (none does today) is
    summed within that op first, so every figure is per op.
    """
    per_op: dict[str, dict[int, dict]] = {}
    for sp in spans:
        acc = per_op.setdefault(sp.name, {}).setdefault(
            sp.op_id, {f: 0.0 for f in SPAN_FIELDS}
        )
        acc["wall_s"] += sp.wall_s
        for group in (sp.group, *sp.other_groups):
            g = folded.get(group, {})
            for f in SPARK_FIELDS:
                if f == "task_skew":
                    acc[f] = max(acc[f], g.get(f, 0.0))
                else:
                    acc[f] += g.get(f, 0)
    return {
        name: {f: median([op[f] for op in ops.values()]) for f in SPAN_FIELDS}
        for name, ops in per_op.items()
    }

