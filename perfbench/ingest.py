"""ingest_mixed: streaming micro-batches with live reads.

Each cycle hands one seeded micro-batch to ``StreamingIngest.process_batch``
(HLL presence sidecar on, virtual clock), then runs the cycle's recent
queries (``translate_query`` → ``run_metric_query`` → ``render_v3_response``)
and one HLL cardinality read on the live, uncompacted store.  Checks:
``IngestStats`` deltas equal the planted counts per batch, each read
equals DuckDB over the generated last-write-wins points so far, the HLL
estimate is within 3% of the exact count, and after the pass the stored
points and the ``series_dim`` last values equal the oracle's.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from perfbench import gen, oracle
from perfbench.harness import Tracer, disk_usage, median
from perfbench.tracing import jobs_wall_in, span_durations

HLL_TOLERANCE = 0.03


@dataclass
class State:
    dir: str
    ingest: object
    clock: list
    next_batch: int
    dim_rewrites: list = field(default_factory=list)


def _dim_files(dim_path: str) -> dict[str, frozenset]:
    """dim partition directory → its data file names."""
    if not os.path.isdir(dim_path):
        return {}
    return {
        e: frozenset(n for n in os.listdir(os.path.join(dim_path, e)) if not n.startswith((".", "_")))
        for e in os.listdir(dim_path)
        if e.startswith("dim_bucket=")
    }


class IngestMixed:
    name = "ingest_mixed"
    #: one unit: a batch and its reads; UNIT_S: its wall time on an idle 4-core box
    UNIT, UNIT_S = "cycle", 13.0

    def __init__(self, spark, run_dir, seed: int, sizes: gen.Sizes):
        self.spark, self.rd, self.seed, self.sizes = spark, run_dir, seed, sizes
        self.batches: list[gen.IngestBatch] = []
        self.reads: list[dict] = []
        self._reads_iter = gen.ingest_reads(seed, sizes)
        self.con = duckdb.connect()

    # -------------------------------------------------------------- set-up

    def setup_once(self) -> State:
        """Generate the priming batch and create an empty store."""
        self._batches_iter = gen.ingest_batches(self.seed, self.sizes)
        self.batches = [next(self._batches_iter)]
        return self._empty_store()

    def _batch_at(self, k: int) -> gen.IngestBatch:
        while len(self.batches) <= k:
            self.batches.append(next(self._batches_iter))
        return self.batches[k]

    def _cycle_reads(self, k: int) -> list[dict]:
        """The recent queries of cycle ``k`` (batch k, k >= 1)."""
        per = gen.INGEST_READS_PER_CYCLE
        while len(self.reads) < k * per:
            self.reads.append(next(self._reads_iter))
        return self.reads[(k - 1) * per: k * per]

    def _empty_store(self) -> State:
        """An empty store; the warm-up primes it with batch 0, so the
        measured cycles run against an existing dim (steady state)."""
        from opentsdb_aura_spark.streaming.ingest import StreamingIngest

        d = self.rd.fresh("ingest")
        clock = [0]
        ing = StreamingIngest(
            store_path=os.path.join(d, "store"),
            dim_path=os.path.join(d, "series_dim"),
            retention_seconds=gen.INGEST_RETENTION,
            presence_hll_path=os.path.join(d, "presence_hll"),
            now_fn=lambda: clock[0],
        )
        return State(dir=d, ingest=ing, clock=clock, next_batch=0)

    def _oracle_rows(self) -> None:
        if "rows" not in {r[0] for r in self.con.execute("SHOW TABLES").fetchall()}:
            rows = pd.concat([b.rows for b in self.batches], ignore_index=True)
            self.con.register("rows_df", rows)
            self.con.execute("CREATE TABLE rows AS SELECT * FROM rows_df")
            self.con.unregister("rows_df")

    def analyze(self, st: State) -> dict:
        return {}

    def warmup(self, st: State) -> None:
        self._batch(st, Tracer())
        self._reads(st, self._cycle_reads(1)[:1], Tracer())

    # -------------------------------------------------------------- operations

    def _frame(self, b: gen.IngestBatch):
        from pyspark.sql import functions as F

        pdf = b.rows[["metric", "host", "dc", "ts", "value", "ingest_seq"]]
        df = self.spark.createDataFrame(pdf, "metric string, host string, dc string, ts long, value double, ingest_seq long")
        return df.select(
            F.lit("live").alias("namespace"),
            "metric",
            F.create_map(F.lit("host"), F.col("host"), F.lit("dc"), F.col("dc")).alias("tags"),
            "ts",
            "value",
            "ingest_seq",
        )

    def _batch(self, st: State, tr: Tracer) -> tuple[int, float, dict]:
        k = st.next_batch
        b = self._batch_at(k)
        st.clock[0] = b.now
        df = self._frame(b)
        s0 = st.ingest.stats
        before = (s0.appended, s0.dropped_late, s0.dropped_early, s0.dropped_invalid)
        dims = _dim_files(st.ingest.dim_path) if tr.enabled else {}
        t0 = time.perf_counter()
        with tr.span("ingest.process_batch"):
            st.ingest.process_batch(df, k)
        wall = time.perf_counter() - t0
        if tr.enabled:
            after_dims = _dim_files(st.ingest.dim_path)
            st.dim_rewrites.append(sum(1 for p, f in after_dims.items() if dims.get(p) != f))
        s1 = st.ingest.stats
        after = (s1.appended, s1.dropped_late, s1.dropped_early, s1.dropped_invalid)
        st.next_batch += 1
        return k, wall, dict(zip(("valid", "late", "early", "invalid"), (a - c for a, c in zip(after, before))))

    def _reads(self, st: State, specs: list[dict], tr: Tracer) -> list:
        from opentsdb_aura_spark.operators.meta import cardinality_from_presence_hll
        from opentsdb_aura_spark.plans.opentsdb_json import render_v3_response, translate_query
        from opentsdb_aura_spark.plans.query import run_metric_query

        now = st.clock[0]
        out = []
        for spec in specs:
            with tr.span("json.translate"):
                mq = translate_query(gen.query_json({**spec, "end": now}), now=now)
            with tr.span("query.plan"):
                res = run_metric_query(self.spark.read.parquet(st.ingest.store_path), mq)
            with tr.span("json.render"):
                out.append(render_v3_response(res, mq.start, mq.end, mq.interval, metric=spec["metric"]))
        with tr.span("meta.hll_read"):
            hll = self.spark.read.parquet(st.ingest.presence_hll_path)
            est = cardinality_from_presence_hll(hll, now - 3600, now, epoch_width=3600).collect()
        out.append({r["metric"]: r["active_series"] for r in est})
        return out

    def run_pass(self, st: State, units: int, tracers: tuple[Tracer, ...]) -> list[dict]:
        """Closed loop of ``units`` cycles per tracer; cycle i runs under
        ``tracers[i % len(tracers)]``.  The store grows the same way in
        every run, whatever its speed."""
        recs = []
        for i in range(units * len(tracers)):
            tr = tracers[i % len(tracers)]
            k = st.next_batch
            op_id = f"op-{k}"
            specs = self._cycle_reads(k)
            rec = {"op": op_id, "traced": tr.enabled, "specs": specs, "now": self._batch_at(k).now}
            t0 = time.perf_counter()
            try:
                with tr.op(op_id, "cycle"):
                    rec["k"], rec["batch_wall"], rec["stats"] = self._batch(st, tr)
                    t1 = time.perf_counter()
                    rec["out"] = self._reads(st, specs, tr)
                    rec["read_wall"] = time.perf_counter() - t1
                rec["error"] = None
            except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                rec["error"] = f"{type(exc).__name__}: {exc}"
            rec["wall"] = time.perf_counter() - t0
            recs.append(rec)
        recs.append({"op": "end", "traced": False, "end_state": self._end_state_diff(st), "error": None})
        return recs

    # -------------------------------------------------------------- checks

    def _end_state_diff(self, st: State) -> list[str]:
        """Stored points and dim last values vs the oracle, read from the
        files the program wrote (DuckDB reader, not Spark)."""
        last = st.next_batch - 1
        self._oracle_rows()
        oracle.lww_view(self.con, "rows", "want", last)
        want = self.con.execute("SELECT metric, host, ts, value FROM want").df()
        stored = os.path.join(st.ingest.store_path, "**", "*.parquet")
        got = self.con.execute(
            f"SELECT metric, map_extract(tags, 'host')[1] AS host, ts, value FROM read_parquet('{stored}', "
            "hive_partitioning = true) QUALIFY row_number() OVER (PARTITION BY series_id, ts ORDER BY ingest_seq DESC) = 1"
        ).df()
        fails = []
        bad = oracle.diff_points(got, want)
        if bad:
            fails.append("store: " + bad)
        want_dim = self.con.execute(
            "SELECT metric, host, ts, value FROM want QUALIFY row_number() OVER (PARTITION BY metric, host "
            "ORDER BY ts DESC) = 1"
        ).df()
        dim = os.path.join(st.ingest.dim_path, "**", "*.parquet")
        got_dim = self.con.execute(
            f"SELECT metric, map_extract(tags, 'host')[1] AS host, last_ts AS ts, last_value AS value "
            f"FROM read_parquet('{dim}', hive_partitioning = true)"
        ).df()
        bad = oracle.diff_points(got_dim, want_dim)
        if bad:
            fails.append("series_dim: " + bad)
        return fails

    def check(self, st, recs: list[dict]) -> tuple[int, list[str]]:
        fails: list[str] = []
        attempted = 0
        self._oracle_rows()
        for r in recs:
            attempted += 1
            if r["error"]:
                fails.append(f"{r['op']}: {r['error']}")
                continue
            if "end_state" in r:
                fails += [f"{r['op']}: {f}" for f in r["end_state"]]
                continue
            planted = self.batches[r["k"]].planted
            want_stats = {k: planted[k] for k in ("valid", "late", "early", "invalid")}
            if r["stats"] != want_stats:
                fails.append(f"{r['op']}: IngestStats delta {r['stats']} != planted {want_stats}")
            oracle.lww_view(self.con, "rows", "snap", r["k"])
            now = r["now"]
            for spec, resp in zip(r["specs"], r["out"]):
                full = {**spec, "start": now - spec["minutes"] * 60, "end": now}
                bad = oracle.diff_data(oracle.response_data(resp), oracle.expected_response(self.con, "snap", full))
                if bad:
                    fails.append(f"{r['op']} read: {bad}")
            lo = now - 3600 - (now - 3600) % 3600
            exact = dict(self.con.execute(
                f"SELECT metric, count(DISTINCT host) FROM snap WHERE ts >= {lo} AND ts - ts % 3600 < {now} GROUP BY 1"
            ).fetchall())
            est = r["out"][-1]
            if set(est) != set(exact) or any(abs(est[m] - exact[m]) > HLL_TOLERANCE * exact[m] for m in exact):
                fails.append(f"{r['op']} hll: {est} vs exact {exact}")
        return attempted, fails

    # -------------------------------------------------------------- metrics

    @staticmethod
    def _cycles(recs):
        return [r for r in recs if "batch_wall" in r and not r["error"]]

    def end_to_end(self, st: State, recs: list[dict]) -> dict:
        cyc = self._cycles(recs)
        appended = sum(r["stats"]["valid"] for r in cyc)
        ing = st.ingest
        _files, size = disk_usage(ing.store_path, ing.dim_path, ing.presence_hll_path)
        prime = self.batches[0].planted["valid"]
        return {
            "op_p50_s": (median([r["wall"] for r in cyc]), "s"),
            "items_per_s": (appended / sum(r["batch_wall"] for r in cyc), "1/s"),
            "store_bytes_per_item": (size / (appended + prime), "B"),
        }

    def layers(self, st: State, plain: list[dict], traced: list[dict], spans, log, jobs_by_span) -> dict:
        cyc = self._cycles(traced)
        n = max(len(cyc), 1)
        ops = {r["op"] for r in cyc}
        ing = st.ingest
        by_part: dict[str, float] = {"accounting": 0.0, "append": 0.0, "dim": 0.0, "hll": 0.0}
        for i, s in enumerate(spans):
            if s.name != "ingest.process_batch" or s.op not in ops:
                continue
            for j in jobs_by_span.get(i, []):
                plan = log.execs[j.exec_id].plan if j.exec_id in log.execs else ""
                if ing.dim_path in plan or j.call_site.startswith("collect at"):
                    part = "dim"
                elif ing.presence_hll_path in plan:
                    part = "hll"
                elif ing.store_path in plan:
                    part = "append"
                else:
                    part = "accounting"
                by_part[part] += j.end - j.start
        segs = [e for e in os.listdir(ing.store_path) if e.startswith("segment_time=")]
        files, _size = disk_usage(ing.store_path)
        cyc_plain = self._cycles(plain)
        read_walls = [r["read_wall"] / (len(r["specs"]) + 1) for r in cyc_plain]
        stats = ing.stats
        return {
            "ingest.batch_s": median([r["batch_wall"] for r in cyc_plain]),
            "ingest.append_s": by_part["append"] / n,
            "ingest.dim_merge_s": by_part["dim"] / n,
            "ingest.hll_s": by_part["hll"] / n,
            "ingest.accounting_s": by_part["accounting"] / n,
            "ingest.dim_partitions_rewritten": sum(st.dim_rewrites) / max(len(st.dim_rewrites), 1),
            "ingest.files_per_segment": files / max(len(segs), 1),
            "ingest.dropped_late": float(stats.dropped_late),
            "ingest.dropped_early": float(stats.dropped_early),
            "ingest.dropped_invalid": float(stats.dropped_invalid),
            "ingest.read_p50_s": median(read_walls),
            "json.translate_s": sum(span_durations(spans, "json.translate", ops)) / n,
            "json.render_s": sum(span_durations(spans, "json.render", ops)) / n,
            "json.render_driver_s": (sum(span_durations(spans, "json.render", ops))
                                     - jobs_wall_in(spans, jobs_by_span, "json.render")) / n,
            "query.plan_s": sum(span_durations(spans, "query.plan", ops)) / n,
        }
