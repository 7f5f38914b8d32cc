"""Spark event-log reader that folds jobs, stages and tasks into spans.

A span is a named wall-clock interval recorded by the benchmark around one
call into a layer. Each Spark job is attributed to the innermost span whose
interval contains the job's submission time. (``run_pipeline`` submits jobs
from pool threads, and PySpark does not pass local properties such as the
job group on to those threads, so the group cannot be used.) A job's stages
and tasks follow the job.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    trace_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class SpanCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executor run time, summed over tasks
    cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # bytes spilled to disk
    output_bytes: int = 0
    first_job_s: float | None = None  # epoch seconds
    last_job_end_s: float | None = None
    # per-stage task durations (ms), for the heaviest-stage skew
    stage_tasks: dict = field(default_factory=dict)
    stage_run_ms: dict = field(default_factory=dict)

    def task_skew(self) -> float:
        """max / median task duration in the span's heaviest stage (the one
        with the largest summed executor run time); 1.0 without tasks."""
        if not self.stage_run_ms:
            return 1.0
        heaviest = max(self.stage_run_ms, key=lambda s: (self.stage_run_ms[s], s))
        times = self.stage_tasks[heaviest]
        med = statistics.median(times)
        return max(times) / med if med > 0 else 1.0


def read_events(path: str):
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.seconds < best.seconds):
            best = s
    return best


def fold(events, spans: list[Span]) -> dict[str, SpanCounts]:
    """Per-span counts from an iterable of event-log records."""
    out = {s.name: SpanCounts() for s in spans}
    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            span = _innermost(spans, t)
            if span is None:
                continue
            c = out[span.name]
            c.jobs += 1
            c.first_job_s = t if c.first_job_s is None else min(c.first_job_s, t)
            job_span[ev["Job ID"]] = span.name
            for sid in ev.get("Stage IDs", []):
                stage_span[sid] = span.name
        elif kind == "SparkListenerJobEnd":
            name = job_span.get(ev["Job ID"])
            if name is not None:
                c = out[name]
                t = ev["Completion Time"] / 1000.0
                c.last_job_end_s = t if c.last_job_end_s is None else max(c.last_job_end_s, t)
        elif kind == "SparkListenerStageCompleted":
            name = stage_span.get(ev["Stage Info"]["Stage ID"])
            if name is not None:
                out[name].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            name = stage_span.get(sid)
            m = ev.get("Task Metrics")
            if name is None or m is None:
                continue
            c = out[name]
            info = ev["Task Info"]
            c.tasks += 1
            c.run_s += m["Executor Run Time"] / 1000.0
            c.cpu_s += m["Executor CPU Time"] / 1e9
            c.input_bytes += m["Input Metrics"]["Bytes Read"]
            c.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            c.spill_bytes += m["Disk Bytes Spilled"]
            c.output_bytes += m["Output Metrics"]["Bytes Written"]
            c.stage_tasks.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
            c.stage_run_ms[sid] = c.stage_run_ms.get(sid, 0) + m["Executor Run Time"]
    return out
