"""Spans around the benchmark's calls into kgc, and the Spark event-log
reader that charges each job's tasks to the span that submitted it.

A span sets the Spark job group to its own id, so every job started
inside it carries that id in the event log (``spark.jobGroup.id``).
After the session stops, :func:`aggregate_event_log` sums task metrics
per job group, :func:`layer_metrics` joins them back to spans and
:func:`by_layer` sums the spans of each layer.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# task-level SQL accumulables written by Arrow-evaluated Python UDFs
# (milliseconds for the times, bytes for the data)
PY_ACCUMS = {
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_mb",
    "data returned from Python workers": "py_mb",
}
_SCALE = {"py_init_s": 1e-3, "py_run_s": 1e-3, "py_mb": 1e-6}

#: per job group, in the order they are reported
GROUP_FIELDS = (
    "jobs", "tasks", "task_s", "cpu_s", "sched_wait_s", "shuffle_mb",
    "spill_mb", "gc_s", "py_init_s", "py_run_s", "py_mb",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory.  With a SparkContext, each span
    is also the job group of the jobs submitted inside it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(s.id), s.name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its
    children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.duration - covered
    return out


def event_log_path(log_dir: str, app_id: str) -> str:
    """The rolling event-log directory of ``app_id`` (Spark 4's default
    layout)."""
    path = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path


def read_events(path: str):
    """Yield the JSON events of an uncompressed rolling event log, its
    ``events_<n>_*`` files in order of n."""
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    for f in sorted(parts, key=lambda f: int(f.split("_")[1])):
        with open(os.path.join(path, f), encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def aggregate_event_log(events) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group.

    A stage is charged to the job group in the properties it was
    submitted with; its tasks follow the stage.  ``sched_wait_s`` sums,
    over tasks, launch time minus the stage's submission time.
    """
    stage_group: dict[tuple[int, int], str | None] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str | None) -> dict[str, float]:
        return out.setdefault(group or "", dict.fromkeys(GROUP_FIELDS, 0.0))

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            acc(_group(e.get("Properties")))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            stage_group[key] = _group(e.get("Properties"))
            stage_submit[key] = info.get("Submission Time") or 0
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            a = acc(stage_group.get(key))
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            a["tasks"] += 1
            a["task_s"] += tm.get("Executor Run Time", 0) / 1e3
            a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            a["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) / 1e6
            a["shuffle_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            if key in stage_submit:
                a["sched_wait_s"] += max(info["Launch Time"] - stage_submit[key], 0) / 1e3
            for ac in info.get("Accumulables", []):
                f = PY_ACCUMS.get(ac.get("Name"))
                if f is not None:
                    a[f] += float(ac.get("Update") or 0) * _SCALE[f]
    return out


def layer_of(name: str) -> str:
    """A span named ``<layer>:<call>`` belongs to ``<layer>``."""
    return name.split(":", 1)[0]


def layer_metrics(
    spans: list[Span], groups: dict[str, dict[str, float]]
) -> dict[int, dict[str, float]]:
    """Per span: busy_s (self time), the span's own counts, and the
    event-log sums of the jobs submitted directly inside it."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        m = {"busy_s": selfs[s.id]}
        m.update(groups.get(str(s.id), dict.fromkeys(GROUP_FIELDS, 0.0)))
        m.update(s.counts)
        out[s.id] = m
    return out


def by_layer(
    spans: list[Span], groups: dict[str, dict[str, float]]
) -> dict[str, dict[str, float]]:
    """:func:`layer_metrics` summed over the spans of each layer."""
    lm = layer_metrics(spans, groups)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(layer_of(s.name), {})
        for k, v in lm[s.id].items():
            acc[k] = acc.get(k, 0.0) + v
    return out
