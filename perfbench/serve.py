"""serve: OpenTSDB 3.x JSON queries against a bulk-loaded fleet.

Set-up bulk-loads the seeded fleet through ``sources.batch`` (normalize,
last-write-wins dedupe, ``write_metrics_store``) and writes the
``series_dim`` and the hourly rollup.  Each operation is one query of
the seeded stream: ``translate_query`` → ``run_metric_query`` (with the
rollup and the dim, so the planner may substitute) →
``render_v3_response``; meta operations read tag values and cardinality
from the dim.  Every response is checked against DuckDB over the
generated points, and every range response also against the raw scan.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import duckdb

from perfbench import gen, oracle
from perfbench.eventlog import job_totals
from perfbench.harness import Tracer, disk_usage, median
from perfbench.tracing import jobs_wall_in, span_durations

ROLLUP_INTERVAL = 3600
TABLES = ("store", "series_dim", f"rollup_{ROLLUP_INTERVAL}")
#: warm-up queries: the stream's last half cycle, which no pass reaches
#: (3 recent, 1 range, 1 meta)
WARMUP_OPS = gen.SERVE_CYCLE // 2


@dataclass
class State:
    dir: str
    n_points: int
    store: object
    dim: object
    rollups: dict
    points: object  # the generated fleet, for the oracle

    def oracle(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        con.register("fleet", self.points)
        return con


class Serve:
    name = "serve"
    #: one unit: a 10-query cycle of the stream; UNIT_S: its wall time on an idle 4-core box
    UNIT, UNIT_S = "cycle", 10.0

    def __init__(self, spark, run_dir, seed: int, sizes: gen.Sizes):
        self.spark, self.rd, self.seed, self.sizes = spark, run_dir, seed, sizes
        self.ops = gen.serve_ops(seed, sizes)
        self.load_times: list[float] = []

    # -------------------------------------------------------------- set-up

    def setup_once(self) -> State:
        from pyspark.sql import functions as F

        from opentsdb_aura_spark.model import normalize_points
        from opentsdb_aura_spark.operators.dedupe import dedupe_last_write_wins
        from opentsdb_aura_spark.operators.meta import build_series_dim
        from opentsdb_aura_spark.operators.rollup import build_rollup
        from opentsdb_aura_spark.sources.batch import write_metrics_store

        d = self.rd.fresh("serve")
        pts = gen.fleet(self.seed, self.sizes)
        landing = os.path.join(d, "landing.parquet")
        pts.to_parquet(landing, index=False)
        t0 = time.perf_counter()
        raw = self.spark.read.parquet(landing).select(
            F.lit("fleet").alias("namespace"),
            "metric",
            F.create_map(*[x for k in ("host", "dc", "role") for x in (F.lit(k), F.col(k))]).alias("tags"),
            "ts",
            "value",
            "ingest_seq",
        )
        store, dim, rollup = (os.path.join(d, n) for n in TABLES)
        write_metrics_store(dedupe_last_write_wins(normalize_points(raw)), store)
        stored = self.spark.read.parquet(store)
        build_series_dim(stored).write.parquet(dim)
        build_rollup(stored, ROLLUP_INTERVAL).write.parquet(rollup)
        self.load_times.append(time.perf_counter() - t0)
        return State(
            dir=d,
            n_points=len(pts),
            store=self.spark.read.parquet(store),
            dim=self.spark.read.parquet(dim),
            rollups={ROLLUP_INTERVAL: self.spark.read.parquet(rollup)},
            points=pts,
        )

    def analyze(self, st: State) -> dict:
        return {}

    def warmup(self, st: State) -> None:
        # query latency falls over the first queries of a session (JIT,
        # codegen caches), still by a fifth over the first ten
        for spec in self.ops[-WARMUP_OPS:]:
            self._op(st, spec, Tracer())

    # -------------------------------------------------------------- operations

    def _op(self, st: State, spec: dict, tr: Tracer, rollups: bool = True):
        from opentsdb_aura_spark.filters import MetricLiteral
        from opentsdb_aura_spark.operators.meta import cardinality, distinct_tag_values
        from opentsdb_aura_spark.plans.opentsdb_json import render_v3_response, translate_filter, translate_query
        from opentsdb_aura_spark.plans.query import run_metric_query

        if spec["cls"] == "meta":
            flt = MetricLiteral(spec["metric"]) & translate_filter(gen.filter_json(spec["filter"]))
            with tr.span("meta.read"):
                values = {r["tag_value"]: r["series_count"] for r in distinct_tag_values(st.dim, spec["key"], flt).collect()}
                card = cardinality(st.dim, flt).collect()[0]["cardinality"]
            return values, card
        with tr.span("json.translate"):
            mq = translate_query(gen.query_json(spec), now=gen.SERVE_END)
        with tr.span("query.plan"):
            res = run_metric_query(st.store, mq, rollups=st.rollups if rollups else None, series_dim=st.dim)
        with tr.span("json.render"):
            return render_v3_response(res, mq.start, mq.end, mq.interval, metric=spec["metric"])

    def run_pass(self, st: State, units: int, tracers: tuple[Tracer, ...]) -> list[dict]:
        """Closed loop over the first ``units`` whole 10-slot cycles of the
        query stream (so every run sees the 70/20/10 class mix).  With two
        tracers (untraced, traced) every query runs once under each, in
        alternating order, so the two sets see the same queries."""
        n = units * gen.SERVE_CYCLE
        if n > len(self.ops) - WARMUP_OPS:
            raise ValueError(f"{units} cycles need more than the {len(self.ops)} generated queries")
        recs = []
        for p, spec in enumerate(self.ops[:n]):
            order = tracers if p % 2 == 0 else tracers[::-1]
            for tr in order:
                op_id = f"op-{len(recs)}"
                t0 = time.perf_counter()
                try:
                    with tr.op(op_id, spec["cls"]):
                        out = self._op(st, spec, tr)
                    err = None
                except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                    out, err = None, f"{type(exc).__name__}: {exc}"
                recs.append({"op": op_id, "traced": tr.enabled, "spec": spec, "wall": time.perf_counter() - t0,
                             "out": out, "error": err})
        return recs

    # -------------------------------------------------------------- checks

    def check(self, st: State, recs: list[dict]) -> tuple[int, list[str]]:
        fails = []
        con = st.oracle()
        # expected answers per query (a traced run answers each query twice)
        want, raw = {}, {}
        for r in recs:
            spec, key = r["spec"], id(r["spec"])
            if r["error"]:
                fails.append(f"{r['op']}: {r['error']}")
                continue
            if spec["cls"] == "meta":
                if key not in want:
                    want[key] = oracle.expected_meta(con, "fleet", spec)
                if r["out"] != want[key]:
                    fails.append(f"{r['op']}: meta {r['out']} != {want[key]}")
                continue
            if key not in want:
                want[key] = oracle.expected_response(con, "fleet", spec)
            bad = oracle.diff_data(oracle.response_data(r["out"]), want[key])
            if bad is None and spec["cls"] == "range":
                if key not in raw:
                    raw[key] = oracle.response_data(self._op(st, spec, Tracer(), rollups=False))
                bad = oracle.diff_data(oracle.response_data(r["out"]), raw[key])
                bad = bad and "rollup != raw scan: " + bad
            if bad:
                fails.append(f"{r['op']} ({spec['cls']}): {bad}")
        return len(recs), fails

    # -------------------------------------------------------------- metrics

    def end_to_end(self, st: State, recs: list[dict]) -> dict:
        walls = [r["wall"] for r in recs]
        _files, size = disk_usage(*(os.path.join(st.dir, n) for n in TABLES))
        return {
            "op_p50_s": (median(walls), "s"),
            "items_per_s": (len(walls) / sum(walls), "1/s"),
            "store_bytes_per_item": (size / st.n_points, "B"),
        }

    def layers(self, st: State, plain: list[dict], traced: list[dict], spans, log, jobs_by_span) -> dict:
        ops = {r["op"] for r in traced}
        queries = [r for r in traced if r["spec"]["cls"] != "meta" and not r["error"]]
        cells = sum(len(d["NumericArrayType"]) for r in queries for d in oracle.response_data(r["out"]))
        n_q = max(len(queries), 1)
        records = sum(job_totals(log, log.jobs_of(r["op"])).get("in_records", 0.0) for r in queries)
        rollup_dir = os.path.join(st.dir, f"rollup_{ROLLUP_INTERVAL}")
        ranged = [r for r in queries if r["spec"]["cls"] == "range"]
        served = sum(1 for r in ranged if any(rollup_dir in log.execs[j.exec_id].plan
                                              for j in log.jobs_of(r["op"]) if j.exec_id in log.execs))
        render = span_durations(spans, "json.render", ops)
        files, size = disk_usage(*(os.path.join(st.dir, n) for n in TABLES))

        def cls_p50(cls):
            return median([r["wall"] for r in plain if r["spec"]["cls"] == cls])

        return {
            "batch.load_s": median(self.load_times),
            "batch.files_written": float(files),
            "batch.bytes_written": float(size),
            "json.translate_s": sum(span_durations(spans, "json.translate", ops)) / n_q,
            "json.render_s": sum(render) / n_q,
            "json.render_driver_s": (sum(render) - jobs_wall_in(spans, jobs_by_span, "json.render")) / n_q,
            "json.response_cells": cells / n_q,
            "query.plan_s": sum(span_durations(spans, "query.plan", ops)) / n_q,
            "query.rollup_hit_ratio": served / max(len(ranged), 1),
            "query.rows_scanned_per_cell": records / max(cells, 1),
            "serve.recent_p50_s": cls_p50("recent"),
            "serve.range_p50_s": cls_p50("range"),
            "serve.meta_p50_s": cls_p50("meta"),
        }

