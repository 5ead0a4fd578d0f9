"""Spans around layer calls, and per-layer metrics from a Spark event log.

The benchmark tags the Spark jobs each layer call starts with a job
description ``perfbench:<workload>:<layer>`` (see ``Tracer``), writes the
event log uncompressed, and after the session stops folds the log's
job -> stage -> task records into one row of counters per layer.

Time attribution: a layer's wall time is the summed duration of its spans;
its in-job time is the length of the union of its jobs' [submit, complete]
intervals clipped to those spans; the rest is ``driver_gap_s``, time the
driver spent planning, collecting or waiting between Spark jobs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG = "perfbench"

# the per-layer counters every traced run reports, per layer
LAYER_FIELDS = (
    "wall_s",
    "jobs",
    "stages",
    "tasks",
    "task_cpu_s",
    "cpu_util",
    "driver_gap_s",
    "gc_s",
    "deser_s",
    "shuffle_write_mb",
    "output_mb",
    "task_failures",
)


def job_description(workload: str, layer: str) -> str:
    return f"{TAG}:{workload}:{layer}"


def layer_of(description: str | None) -> str | None:
    """Layer name from a job description set by ``Tracer``, else None."""
    if not description or not description.startswith(TAG + ":"):
        return None
    parts = description.split(":")
    return parts[2] if len(parts) >= 3 else None


class Tracer:
    """In-memory spans (name, start, end, parent) around layer calls.

    Entering a span also tags every Spark job the SparkContext `sc` starts
    inside it, so the event log can be attributed to the span's layer. The
    spans are only written out by ``dump`` when the benchmark ends.
    """

    def __init__(self, workload: str, sc):
        self.workload = workload
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "start": time.time(), "end": None,
               "parent": parent}
        self.spans.append(rec)
        self._stack.append(sid)
        self._tag(name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._tag(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def _tag(self, layer: str | None) -> None:
        if layer is None:
            self.sc.setJobDescription(None)
            return
        self.sc.setJobGroup(f"{TAG}:{self.workload}", job_description(self.workload, layer))

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(s["start"], s["end"]) for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


@dataclass
class LayerStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    deser_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    task_failures: int = 0
    job_intervals: list = field(default_factory=list)


def read_events(path: str):
    """One dict per event-log line (an uncompressed JSON-lines file)."""
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def aggregate(events) -> dict[str, LayerStats]:
    """Fold job, stage and task events into counters per tagged layer.

    Jobs are attributed by the description on their JobStart, stages by the
    description on their StageSubmitted (a stage runs under the job that
    submitted it), tasks through their stage. Jobs without a benchmark tag
    are ignored.
    """
    stats: dict[str, LayerStats] = {}
    job_layer: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_layer: dict[tuple[int, int], str] = {}

    def get(layer: str) -> LayerStats:
        return stats.setdefault(layer, LayerStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_of((ev.get("Properties") or {}).get("spark.job.description"))
            if layer is not None:
                job_layer[ev["Job ID"]] = layer
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                get(layer).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_layer:
                get(job_layer[jid]).job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            layer = layer_of((ev.get("Properties") or {}).get("spark.job.description"))
            if layer is not None:
                stage_layer[(info["Stage ID"], info["Stage Attempt ID"])] = layer
                get(layer).stages += 1
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if layer is None:
                continue
            s = get(layer)
            s.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                s.task_failures += 1
            m = ev.get("Task Metrics") or {}
            s.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            s.gc_s += m.get("JVM GC Time", 0) / 1000.0
            s.deser_s += m.get("Executor Deserialize Time", 0) / 1000.0
            s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return stats


def covered_length(intervals, windows) -> float:
    """Length of the union of `intervals`, restricted to the union of
    `windows` (both lists of (start, end))."""
    clipped = []
    for a, b in intervals:
        for wa, wb in windows:
            lo, hi = max(a, wa), min(b, wb)
            if hi > lo:
                clipped.append((lo, hi))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def layer_metrics(layer: str, stats: LayerStats | None, windows, cores: int) -> dict:
    """The LAYER_FIELDS of one layer, keyed ``<layer>.<field>``."""
    s = stats or LayerStats()
    wall = sum(b - a for a, b in windows)
    busy = covered_length(s.job_intervals, windows)
    out = {
        "wall_s": wall,
        "jobs": s.jobs,
        "stages": s.stages,
        "tasks": s.tasks,
        "task_cpu_s": s.task_cpu_s,
        "cpu_util": s.task_cpu_s / (wall * cores) if wall > 0 else 0.0,
        "driver_gap_s": max(0.0, wall - busy),
        "gc_s": s.gc_s,
        "deser_s": s.deser_s,
        "shuffle_write_mb": s.shuffle_write_bytes / 1e6,
        "output_mb": s.output_bytes / 1e6,
        "task_failures": s.task_failures,
    }
    return {f"{layer}.{k}": out[k] for k in LAYER_FIELDS}
