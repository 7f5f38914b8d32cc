"""The traced run: per-layer spans timed from outside the program, with
Spark counters folded in from the event log.

Runs after the untraced timed runs of the same invocation, in a second
SparkContext of the same JVM with ``spark.eventLog.enabled`` (so it is warm,
like the timed runs, without a second cold start). It records one span around
a whole ``run_pipeline`` call and then one span per layer call. Each layer
reads the previous layer's materialized (parquet) output; the sinks and the
aggregate layers read the stage table that the traced ``run_pipeline`` call
wrote. Spans and counts are written to a JSON trace file when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import duckdb
import eventlog
from common import NPROC, fresh_out, start_spark
from eventlog import Span


class Tracer:
    def __init__(self, trace_id: str, start: float):
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self.root = Span("trace", start, 0.0, None, trace_id)

    @contextmanager
    def span(self, name: str):
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), "trace", self.trace_id))

    def close(self) -> list[Span]:
        self.root.end = time.time()
        return [self.root] + self.spans


def parquet_files(path: str) -> dict[str, int]:
    """Data files under path -> size in bytes."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out


def parquet_rows(path: str) -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')"
    ).fetchone()[0]


def run(spec: dict, work: str, session: tuple[float, float]):
    """The traced run. ``session`` is the (start, end) epoch time of the
    invocation's cold ``get_spark`` call, recorded as the session span.
    Returns the per-layer metrics."""
    from pyspark.sql import functions as F

    from timberline_spark import aggregate as agg
    from timberline_spark import route
    from timberline_spark.enrich import enrich_turns
    from timberline_spark.parse import parse_turns
    from timberline_spark.pipeline import STAGE_CLASSIFIED, run_pipeline

    paths = {"base": spec["base"]}
    log_dir = f"{work}/eventlog"
    os.makedirs(log_dir, exist_ok=True)
    layers = f"{work}/layers"
    out, run_id = spec["out"], spec["run_id"]
    tr = Tracer(f"{spec['workload']}-{spec['seed']}", session[0])
    tr.spans.append(Span("session.start", *session, "trace", tr.trace_id))
    spark = start_spark(work, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": f"file://{log_dir}",
    })
    fresh_out(paths, out)
    before = parquet_files(out)
    with tr.span("pipeline"):
        run_pipeline(spark, "", out, run_id, input_table=spec["input"])
    new_files = {p: b for p, b in parquet_files(out).items() if p not in before}

    def write(df, name: str) -> str:
        path = f"{layers}/{name}"
        df.write.mode("overwrite").parquet(path)
        return path

    read = spark.read.parquet
    with tr.span("parse"):
        parsed = write(parse_turns(read(spec["input"])), "parse")
    with tr.span("enrich"):
        enriched = write(enrich_turns(spark, read(parsed)), "enrich")
    with tr.span("route.classify"):
        classified = write(route.classify_turns(read(enriched)), "classify")
    stage = read(f"{out}/{STAGE_CLASSIFIED}").filter(F.col("run_id") == run_id).drop("run_id")
    sinks = {
        "sink_errors": route.errors_sink,
        "sink_tool_calls": route.tool_calls_sink,
        "sink_anomalies": route.anomalies_sink,
    }
    with tr.span("route.sinks"):
        sink_dirs = [write(b(stage), s) for s, b in sinks.items()]
    with tr.span("aggregate.dedup"):
        dedup = write(
            agg.dedup_turns(route.kept_turns(stage), extra_keys=("p_date",), audit=True),
            "dedup",
        )
    with tr.span("aggregate.rollup"):
        rollup = write(agg.dedup_rollup(read(dedup), audit=True), "rollup")
    with tr.span("aggregate.report"):
        scored = agg.score_clusters(
            agg.report_buckets(read(rollup).drop("key_collision"))
        ).persist()
        agg.top_issues(scored).collect()
        agg.run_summary(scored).collect()
        scored.unpersist()
    spans = tr.close()
    app_id = spark.sparkContext.applicationId
    spark.stop()  # closes the event log; the caller shuts the JVM down

    c = eventlog.fold(eventlog.read_events(f"{log_dir}/{app_id}"), spans)
    by = {s.name: s for s in spans}
    p, ps = c["pipeline"], by["pipeline"]
    valid, kept = duckdb.sql(
        f"SELECT count(*) FILTER (WHERE is_valid), count(*) FILTER (WHERE kept)"
        f" FROM read_parquet('{classified}/*.parquet')"
    ).fetchone()
    stage_kept = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/{STAGE_CLASSIFIED}/**/*.parquet')"
        f" WHERE run_id = '{run_id}' AND kept"
    ).fetchone()[0]
    sink_files = {}
    for d in sink_dirs:
        sink_files.update(parquet_files(d))

    def m(value, unit):
        return {"value": value, "unit": unit}

    metrics = {
        "parse.s": m(by["parse"].seconds, "s"),
        "parse.cpu_s": m(c["parse"].cpu_s, "s"),
        "parse.rows_out": m(parquet_rows(parsed), "rows"),
        "parse.task_skew": m(c["parse"].task_skew(), "ratio"),
        "enrich.s": m(by["enrich"].seconds, "s"),
        "enrich.cpu_s": m(c["enrich"].cpu_s, "s"),
        "route.classify.s": m(by["route.classify"].seconds, "s"),
        "route.classify.cpu_s": m(c["route.classify"].cpu_s, "s"),
        "route.kept_ratio": m(kept / valid, "ratio"),
        "route.sinks.s": m(by["route.sinks"].seconds, "s"),
        "route.sinks.rows_out": m(sum(parquet_rows(d) for d in sink_dirs), "rows"),
        "route.sinks.out_files": m(len(sink_files), "files"),
        "route.sinks.out_bytes": m(sum(sink_files.values()), "bytes"),
        "aggregate.dedup.s": m(by["aggregate.dedup"].seconds, "s"),
        "aggregate.dedup.shuffle_write_bytes": m(c["aggregate.dedup"].shuffle_write_bytes, "bytes"),
        "aggregate.dedup.spill_bytes": m(c["aggregate.dedup"].spill_bytes, "bytes"),
        "aggregate.dedup.task_skew": m(c["aggregate.dedup"].task_skew(), "ratio"),
        "aggregate.dedup.ratio": m(parquet_rows(dedup) / stage_kept, "ratio"),
        "aggregate.rollup.s": m(by["aggregate.rollup"].seconds, "s"),
        "aggregate.report.s": m(by["aggregate.report"].seconds, "s"),
        "aggregate.report.jobs": m(c["aggregate.report"].jobs, "jobs"),
        "pipeline.s": m(ps.seconds, "s"),
        "pipeline.jobs": m(p.jobs, "jobs"),
        "pipeline.stages": m(p.stages, "stages"),
        "pipeline.tasks": m(p.tasks, "tasks"),
        "pipeline.driver_gap_s": m(p.first_job_s - ps.start, "s"),
        "pipeline.tail_s": m(ps.end - p.last_job_end_s, "s"),
        "pipeline.core_use": m(p.run_s / (ps.seconds * NPROC), "ratio"),
        "pipeline.input_bytes": m(p.input_bytes, "bytes"),
        "pipeline.shuffle_write_bytes": m(p.shuffle_write_bytes, "bytes"),
        "pipeline.spill_bytes": m(p.spill_bytes, "bytes"),
        "pipeline.out_files": m(len(new_files), "files"),
        "pipeline.out_bytes": m(sum(new_files.values()), "bytes"),
    }
    os.makedirs(os.path.dirname(spec["trace_file"]), exist_ok=True)
    with open(spec["trace_file"], "w") as f:
        json.dump({
            "spans": [
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace_id": s.trace_id}
                for s in spans
            ],
            "counts": {
                name: {k: v for k, v in vars(cnt).items()
                       if k not in ("stage_tasks", "stage_run_ms")}
                for name, cnt in c.items()
            },
            "metrics": metrics,
        }, f, indent=1)
    return metrics
