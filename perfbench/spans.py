"""Spans recorded around calls into the package, and Spark's own task
metrics read back from its event log.

Spans live in memory while the benchmark runs and are written out once
at the end, each with its self time: its duration minus the part of it
that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: int


class Tracer:
    """Nested spans; ``run_id`` groups the spans of one iteration."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = 0

    def new_run(self) -> None:
        self.run_id += 1

    @contextmanager
    def span(self, name: str):
        span = Span(
            id=len(self.spans),
            name=name,
            start=time.perf_counter(),
            end=float("nan"),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
        )
        self.spans.append(span)
        self._stack.append(span.id)
        try:
            yield span
        finally:
            self._stack.pop()
            span.end = time.perf_counter()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: duration minus the union of its children's
    intervals, each clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        reach = s.start
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def write_spans(path: str, spans: list[Span]) -> None:
    own = self_times(spans)
    with open(path, "w") as fh:
        json.dump(
            [dict(asdict(s), duration=s.end - s.start, self_time=own[s.id]) for s in spans],
            fh,
            indent=1,
        )


SPARK_METRICS = {
    # name: unit
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.deser_s": "s",
    "spark.sched_delay_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes",
}


def spark_metrics(event_log: str, groups: set[str]) -> dict[str, float]:
    """Sum Spark's task metrics over the jobs whose job group is in
    ``groups``, from an uncompressed event log."""
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    stages: set[int] = set()
    with open(event_log) as fh:
        events = [json.loads(line) for line in fh if line.strip()]
    for ev in events:
        if ev["Event"] == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                out["spark.jobs"] += 1
                stages.update(ev["Stage IDs"])
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stages:
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stages:
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            out["spark.tasks"] += 1
            out["spark.failed_tasks"] += bool(info.get("Failed"))
            run_ms = m.get("Executor Run Time", 0)
            deser_ms = m.get("Executor Deserialize Time", 0)
            duration_ms = info["Finish Time"] - info["Launch Time"]
            out["spark.task_run_s"] += run_ms / 1e3
            out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spark.deser_s"] += deser_ms / 1e3
            # Spark UI's definition of scheduler delay.
            out["spark.sched_delay_s"] += max(
                0,
                duration_ms - run_ms - deser_ms
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            ) / 1e3
            out["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out["spark.output_bytes"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0
            )
    return out
