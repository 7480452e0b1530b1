"""Repo benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest_mixed|curate \
        --seed N --seconds S --trace 0|1

``serve`` and ``ingest_mixed`` are the workloads ``BENCHMARK.json``
lists; ``curate`` runs the same way but only by hand (see README.md).

Run from the checkout root.  Prints progress to stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``.  The traced run also writes its
spans and per-layer self times to ``.perfbench_out/``.  See README.md.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402
from perfbench.gen import Sizes  # noqa: E402

#: the workloads BENCHMARK.json lists
WORKLOADS = ("serve", "ingest_mixed")
#: workloads run by hand only: a measurement campaign over three
#: workloads does not fit the benchmark's time limit
BY_HAND = ("curate",)

#: end-to-end metric units (every workload reports every one)
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "store_bytes_per_item": "B",
    "peak_rss_mb": "MB",
}

#: per-layer metric units; a layer a workload never calls reports 0
#: (and is listed as such in the trace side file)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "jvm.heap_live_mb": "MB",
    "batch.load_s": "s",
    "batch.files_written": "count",
    "batch.bytes_written": "B",
    "json.translate_s": "s",
    "json.render_s": "s",
    "json.render_driver_s": "s",
    "json.response_cells": "count",
    "query.plan_s": "s",
    "query.rollup_hit_ratio": "ratio",
    "query.rows_scanned_per_cell": "ratio",
    "serve.recent_p50_s": "s",
    "serve.range_p50_s": "s",
    "serve.meta_p50_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scan_bytes": "B",
    "spark.scan_files": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "ingest.batch_s": "s",
    "ingest.append_s": "s",
    "ingest.dim_merge_s": "s",
    "ingest.hll_s": "s",
    "ingest.accounting_s": "s",
    "ingest.dim_partitions_rewritten": "count",
    "ingest.files_per_segment": "count",
    "ingest.dropped_late": "count",
    "ingest.dropped_early": "count",
    "ingest.dropped_invalid": "count",
    "ingest.read_p50_s": "s",
    "trace.overhead_s": "s",
    "trace.ops": "count",
}

#: per-layer metrics only the by-hand ``curate`` workload reports (on
#: top of PER_LAYER): the Python/Arrow boundary and the curation operators
CURATE_LAYER = {
    "spark.python_bytes": "B",
    "spark.python_stage_s": "s",
    "curate.containers_s": "s",
    "curate.htmltext_s": "s",
    "curate.quality_s": "s",
    "curate.dedup_s": "s",
    "curate.wet_s": "s",
    "quality.keep_ratio": "ratio",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.candidate_precision": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def workload_class(name: str):
    if name == "serve":
        from perfbench.serve import Serve

        return Serve
    if name == "ingest_mixed":
        from perfbench.ingest import IngestMixed

        return IngestMixed
    from perfbench.curate import Curate

    return Curate


def units_for(cls, seconds: float) -> int:
    """Measured units (serve cycles, ingest cycles, curate passes) for a
    ``--seconds`` budget, from the unit's time on an idle 4-core box.  The
    count depends on ``--seconds`` only, never on how fast the code runs,
    so every run of a workload measures the same operations."""
    return max(1, int(seconds // cls.UNIT_S))


def unsampled(metrics: dict[str, float]) -> list[str]:
    """Metrics the workload measures but has no samples for (NaN).  Each
    is a failed check, not a value: read as 0 it could pass for a gain."""
    bad = [k for k, v in sorted(metrics.items()) if not math.isfinite(v)]
    for k in bad:
        log(f"FAILED metric {k} has no samples")
    return bad


def run(workload: str, seed: int, seconds: float, trace: bool, sizes: Sizes) -> dict:
    """One benchmark run; returns the result object (not printed)."""
    rd = harness.RunDir(workload, seed)
    ev_dir = os.path.join(rd.path, "events") if trace else None
    if ev_dir:
        os.makedirs(ev_dir)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = harness.start_spark(rd.path, ev_dir)
        session_s = time.perf_counter() - t0
        cls = workload_class(workload)
        units = units_for(cls, seconds)
        w = cls(spark, rd, seed, sizes)
        sc = spark.sparkContext
        tracer = harness.Tracer(sc=sc, enabled=trace)

        # one set-up per run: a serve set-up is a bulk load (17 s cold on
        # 4 cores), and a second one per run would not fit the
        # measurement campaign's time limit
        if trace:
            sc.setJobGroup("setup", "set-up")
        t = time.perf_counter()
        with tracer.span("setup"):
            state = w.setup_once()
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("session.warmup"):
            w.warmup(state)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + load_s + warmup_s
        log(f"{workload} seed={seed}: session {session_s:.2f}s, set-up {load_s:.2f}s, "
            f"warm-up {warmup_s:.2f}s, measuring {units} {cls.UNIT}(s)")

        t, ticks = time.perf_counter(), harness.cpu_ticks()
        if trace:
            # untraced and traced operations interleave, so both sets see
            # the same seed and the same warm-up
            recs = w.run_pass(state, units, (harness.Tracer(), tracer))
            sc.setJobGroup("check", "result checks")
        else:
            recs = w.run_pass(state, units, (harness.Tracer(),))
        steal, busy = (b - a for a, b in zip(ticks, harness.cpu_ticks()))
        # CPU time the hypervisor gave to other machines slows every phase
        log(f"measured for {time.perf_counter() - t:.2f}s, CPU steal {100 * steal / max(busy, 1):.1f}% of busy time")
        rss = harness.peak_rss_mb()
        heap = harness.jvm_heap_live_mb(spark)
        attempted, fails = w.check(state, recs)
        plain = [r for r in recs if not r["traced"]]
        traced = [r for r in recs if r["traced"]]
        log(f"{len(recs)} operations, {len(fails)} failed")
        for f in fails[:20]:
            log("FAILED " + f)
        extra = w.analyze(state) if trace else {}

        harness.stop_spark(spark)
        spark = None
        if not trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                **w.end_to_end(state, plain),
                "peak_rss_mb": (rss, "MB"),
            }
            fails += unsampled({k: v for k, (v, _u) in metrics.items()})
            metrics = {k: (v if math.isfinite(v) else 0.0, u) for k, (v, u) in metrics.items()}
            return {"correct": not fails, "attempted": attempted, "failed": len(fails), "metrics": metrics}

        from perfbench import eventlog, tracing

        ev = eventlog.read_event_log(ev_dir)
        spans = tracer.spans
        by_span = tracing.attribute_jobs(spans, ev)
        selfs = tracing.self_times(spans, by_span)
        op_walls = {r["op"]: r["wall"] for r in traced if "wall" in r and not r["error"]}
        plain_walls = [r["wall"] for r in plain if "wall" in r and not r["error"]]
        layer = {
            "session.start_s": session_s,
            "session.warmup_s": warmup_s,
            "jvm.heap_live_mb": heap,
            **tracing.spark_layer(ev, op_walls),
            **w.layers(state, plain, traced, spans, ev, by_span),
            **extra,
            "trace.overhead_s": harness.median(list(op_walls.values())) - harness.median(plain_walls),
            "trace.ops": float(len(op_walls)),
        }
        fails += unsampled(layer)
        printed = {**PER_LAYER, **(CURATE_LAYER if workload == "curate" else {})}
        unmeasured = sorted(set(printed) - set(layer))
        notes = {
            "not_on_this_workload_path": unmeasured,
            "overhead": "median traced operation wall minus median untraced operation wall; the two "
                        "interleave in one session on one seed, and the event log is on for both, so "
                        "its own cost is not in the difference",
            "seed": seed,
            "sizes": vars(sizes),
            "units": units,
        }
        out_path = os.path.join(harness.ROOT, ".perfbench_out", f"trace-{workload}-seed{seed}.json")
        tracing.write_trace(out_path, spans, selfs, len(op_walls), layer, notes)
        for k in sorted(layer):
            log(f"  {k:36s} {layer[k]:.6g}")
        log("self time per op: " + ", ".join(f"{k}={v / max(len(op_walls), 1):.4f}s" for k, v in sorted(selfs.items())))
        log(f"trace written to {out_path}")
        metrics = {k: (v if math.isfinite(v := layer.get(k, 0.0)) else 0.0, u) for k, u in printed.items()}
        return {"correct": not fails, "attempted": attempted, "failed": len(fails), "metrics": metrics}
    finally:
        if spark is not None:
            try:
                harness.stop_spark(spark)
            except Exception:  # noqa: BLE001 — already failing; keep the first error
                traceback.print_exc()
        rd.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + BY_HAND)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not harness.package_present():
        log(f"package {harness.PACKAGE!r} not found under {harness.ROOT}; run from a full checkout")
        return 2
    sizes = Sizes()
    log(f"seed={args.seed} sizes={vars(sizes)}")
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), sizes)
    harness.emit(res["correct"], res["attempted"], res["failed"], res["metrics"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
