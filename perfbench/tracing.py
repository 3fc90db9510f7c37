"""Spans around the package's public calls, and the Spark event-log
parser that turns a traced session into per-layer metrics.

Everything here runs outside the package. A span tags the Spark jobs
its thread submits through a local property (``perfbench.layer``),
which Spark copies into every job's and stage's properties in the
event log, so each task can be charged to the layer that caused it.
Local properties are per thread, so the CV fold threads set their own
tag inside the harness's fit/score wrappers.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

TAG = "perfbench.layer"

# Layers are named after the package modules whose public calls they
# wrap. Every traced run reports every layer, so a layer a workload
# never calls reads 0.
LAYERS = (
    "ml.normalization",
    "operators.filters",
    "ml.pipeline.assemble",
    "ml.pipeline.prepare",
    "ml.cv",
    "ml.models",
    "ml.metrics",
    "llm.text",
    "llm.dedup",
    "llm.mixture",
)
# Layers whose public calls return a model or a score, not a
# DataFrame, so there is no output to drain.
UNDRAINED = frozenset({"ml.cv", "ml.models", "ml.metrics"})
LAYER_METRICS = (
    ("call_s", "s"),
    ("drain_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("tasks_failed", "count"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("task_wait_s", "s"),
    ("useful_task_share", "ratio"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    drain_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """In-memory span recorder. ``span`` nests per thread; a span
    opened on a worker thread names its parent explicitly."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                Span(
                    name,
                    time.perf_counter(),
                    parent=stack[-1] if stack else parent,
                    thread=threading.get_ident(),
                )
            )
        prev = self.sc.getLocalProperty(TAG)
        self.sc.setLocalProperty(TAG, name)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.sc.setLocalProperty(TAG, prev)
            self.spans[idx].end = time.perf_counter()

    def drain(self, df, collect: bool = False):
        """Run ``df`` to the ``noop`` sink, or collect it, inside the
        current span, charging the time to its ``drain_s``."""
        t0 = time.perf_counter()
        rows = df.collect() if collect else df.write.format("noop").mode("overwrite").save()
        self.spans[self.current()].drain_s += time.perf_counter() - t0
        return rows


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


@dataclass
class LayerCounts:
    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    useful_tasks: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_wait_ms: int = 0


def event_lines(path: Path):
    """JSON events of one application's log: a single file, or a
    rolling-log directory of ``events_<n>_<app>`` files."""
    files = [path]
    if path.is_dir():
        files = sorted(path.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    for f in files:
        with open(f) as fh:
            yield from fh


def parse_event_log(path: Path) -> dict[str, LayerCounts]:
    """Per-tag job and task counts from one Spark JSON event log.

    A task is useful when it read at least one record, from input or
    shuffle. Task wait is launch time minus its stage's submission
    time. Jobs and stages without a tag are left out."""
    out: dict[str, LayerCounts] = {}
    stage_tag: dict[tuple[int, int], str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    for line in event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            tag = (ev.get("Properties") or {}).get(TAG)
            if tag:
                out.setdefault(tag, LayerCounts()).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            tag = (ev.get("Properties") or {}).get(TAG)
            if tag:
                stage_tag[key] = tag
                stage_submit[key] = info.get("Submission Time", 0)
        elif kind == "SparkListenerTaskEnd":
            key = (ev["Stage ID"], ev["Stage Attempt ID"])
            tag = stage_tag.get(key)
            if tag is None:
                continue
            c = out.setdefault(tag, LayerCounts())
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            c.tasks += 1
            c.tasks_failed += bool(info.get("Failed"))
            read = (m.get("Input Metrics") or {}).get("Records Read", 0) + (
                m.get("Shuffle Read Metrics") or {}
            ).get("Total Records Read", 0)
            c.useful_tasks += read > 0
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
            c.task_wait_ms += max(0, info["Launch Time"] - stage_submit[key])
    return out


def layer_metrics(spans: list[Span], counts: dict[str, LayerCounts]) -> dict[str, float]:
    """``<layer>.<metric>`` for every layer in :data:`LAYERS`."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    mb = 1024.0 * 1024.0
    for layer in LAYERS:
        mine = [i for i, s in enumerate(spans) if s.name == layer]
        c = counts.get(layer, LayerCounts())
        drain = sum(spans[i].drain_s for i in mine)
        values = {
            "call_s": sum(spans[i].duration for i in mine) - drain,
            "drain_s": drain,
            "self_s": sum(selfs[i] for i in mine),
            "jobs": c.jobs,
            "tasks": c.tasks,
            "tasks_failed": c.tasks_failed,
            "shuffle_write_mb": c.shuffle_write_bytes / mb,
            "spill_mb": c.spill_bytes / mb,
            "task_wait_s": c.task_wait_ms / 1000.0,
            "useful_task_share": c.useful_tasks / c.tasks if c.tasks else 0.0,
        }
        for name, _ in layer_metric_units(layer):
            out[f"{layer}.{name}"] = values[name]
    return out


def layer_metric_units(layer: str) -> list[tuple[str, str]]:
    return [(m, u) for m, u in LAYER_METRICS if not (m == "drain_s" and layer in UNDRAINED)]


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
