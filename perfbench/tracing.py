"""Traced-run analysis: attribute Spark jobs to the benchmark's spans,
derive each span's self time, and summarise the Spark execution layer
per operation."""

from __future__ import annotations

import json
import os
from dataclasses import asdict

from perfbench.eventlog import EventLog, Job, job_totals, union_seconds
from perfbench.harness import Span


def attribute_jobs(spans: list[Span], log: EventLog) -> dict[int, list[Job]]:
    """span index → the jobs it launched directly: each job of an
    operation goes to the innermost span of that operation whose
    interval holds the job's submission time."""
    by_op: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        if s.op is not None:
            by_op.setdefault(s.op, []).append(i)
    out: dict[int, list[Job]] = {}
    for job in log.jobs.values():
        best = None
        for i in by_op.get(job.group, []):
            s = spans[i]
            if s.start <= job.start <= s.end and (best is None or s.start >= spans[best].start):
                best = i
        if best is not None:
            out.setdefault(best, []).append(job)
    return out


def self_times(spans: list[Span], jobs_by_span: dict[int, list[Job]]) -> dict[str, float]:
    """Span name → summed self time: its duration minus the part of it
    covered by child spans and by the Spark jobs it launched (which are
    reported as the ``spark.job`` layer)."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s.op is None:  # set-up spans: reported as session/batch metrics
            continue
        covered = [(spans[c].start, spans[c].end) for c in children.get(i, [])]
        covered += [(j.start, min(j.end, s.end)) for j in jobs_by_span.get(i, []) if j.end]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - union_seconds(covered)
        jobs = jobs_by_span.get(i, [])
        out["spark.job"] = out.get("spark.job", 0.0) + union_seconds([(j.start, j.end) for j in jobs if j.end])
    return out


def spark_layer(log: EventLog, op_walls: dict[str, float]) -> dict[str, float]:
    """Per-operation means of the Spark execution counters over the
    traced operations (``op id → wall seconds``)."""
    n = max(len(op_walls), 1)
    acc: dict[str, float] = {}
    gap = 0.0
    for op_id, wall in op_walls.items():
        t = job_totals(log, log.jobs_of(op_id))
        for k, v in t.items():
            acc[k] = acc.get(k, 0.0) + v
        gap += max(wall - t["job_wall_s"], 0.0)
    g = acc.get
    return {
        "spark.jobs_per_op": g("jobs", 0.0) / n,
        "spark.stages_per_op": g("stages", 0.0) / n,
        "spark.tasks_per_op": g("tasks", 0.0) / n,
        "spark.job_wall_s": g("job_wall_s", 0.0) / n,
        "spark.driver_gap_s": gap / n,
        "spark.executor_run_s": g("run_ms", 0.0) / 1000.0 / n,
        "spark.executor_cpu_s": g("cpu_ns", 0.0) / 1e9 / n,
        "spark.scan_bytes": g("in_bytes", 0.0) / n,
        "spark.scan_files": g("files_read", 0.0) / n,
        "spark.shuffle_write_bytes": g("sh_write", 0.0) / n,
        "spark.shuffle_read_bytes": g("sh_read", 0.0) / n,
        "spark.spill_bytes": g("spill", 0.0) / n,
        "spark.python_bytes": g("py_bytes", 0.0) / n,
        "spark.python_stage_s": g("py_stage_ms", 0.0) / 1000.0 / n,
    }


def span_durations(spans: list[Span], name: str, ops: set[str] | None = None) -> list[float]:
    return [s.end - s.start for s in spans if s.name == name and (ops is None or s.op in ops)]


def jobs_wall_in(spans: list[Span], jobs_by_span: dict[int, list[Job]], name: str) -> float:
    """Summed wall of the Spark jobs launched directly by spans ``name``."""
    total = 0.0
    for i, s in enumerate(spans):
        if s.name == name:
            total += union_seconds([(j.start, j.end) for j in jobs_by_span.get(i, []) if j.end])
    return total


def write_trace(path: str, spans: list[Span], selfs: dict[str, float], n_ops: int, metrics: dict, notes: dict) -> None:
    """Side file of the traced run: every span, per-layer self time per
    operation, the per-layer metrics and notes on what was not measured."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [asdict(s) for s in spans],
                "self_time_per_op_s": {k: v / max(n_ops, 1) for k, v in sorted(selfs.items())},
                "metrics": metrics,
                "notes": notes,
            },
            f,
            indent=1,
        )
