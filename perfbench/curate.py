"""curate: a seeded crawl through the text-curation chain.

Set-up writes the crawl as ``.warc`` and ``.warc.gz`` files.  Each
operation is one full pass: ``binaryFile`` → ``warc_records`` →
``http_responses`` → ``html_to_text`` → Gopher, link-density and
blocklist gates → ``minhash_lsh_candidates`` → drop every later member
of a near-duplicate pair → ``write_wet_files``, written to Parquet.
The check reads the WET records back and compares the surviving doc ids
with the planted keep-set (good pages plus one page per near-dup
cluster).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.eventlog import job_totals
from perfbench.harness import Tracer, disk_usage, median

#: operator spans: (span name, per-layer metric)
OPERATOR_SPANS = (
    ("containers.read", "curate.containers_s"),
    ("htmltext.html_to_text", "curate.htmltext_s"),
    ("quality.gates", "curate.quality_s"),
    ("dedup_text.minhash_lsh", "curate.dedup_s"),
    ("containers.write_wet", "curate.wet_s"),
)


#: crawl files the warm-up pass reads (a plain and a gzip one among them)
WARMUP_FILES = 4


@dataclass
class State:
    dir: str
    crawl: gen.Crawl
    warm_dir: str = ""


class Curate:
    name = "curate"
    #: one unit: a full pass over the crawl; UNIT_S: its wall time on an idle 4-core box
    UNIT, UNIT_S = "pass", 6.0

    def __init__(self, spark, run_dir, seed: int, sizes: gen.Sizes):
        self.spark, self.rd, self.seed, self.sizes = spark, run_dir, seed, sizes
        self.last = None

    def setup_once(self) -> State:
        d, warm = self.rd.fresh("crawl"), self.rd.fresh("warm")
        c = gen.crawl(self.seed, self.sizes)
        for i, (name, blob) in enumerate(c.files):
            for to in (d, warm) if i < WARMUP_FILES else (d,):
                with open(os.path.join(to, name), "wb") as f:
                    f.write(blob)
        return State(dir=d, crawl=c, warm_dir=warm)

    def warmup(self, st: State) -> None:
        # a pass over a few files starts the Python workers and compiles
        # the chain as a full pass would, at a fraction of its cost
        self._pass(st.warm_dir, Tracer())

    def _pass(self, crawl_dir: str, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from opentsdb_aura_spark.operators.containers import http_responses, warc_records, write_wet_files
        from opentsdb_aura_spark.operators.dedup_text import minhash_lsh_candidates
        from opentsdb_aura_spark.operators.htmltext import html_to_text
        from opentsdb_aura_spark.operators.quality import (
            FIXTURE_BADWORDS,
            badwords_exprs,
            gopher_quality_flags,
            link_density_exprs,
        )

        out_dir = os.path.join(self.rd.fresh("wet"), "wet.parquet")
        with tr.span("containers.read"):
            files = self.spark.read.format("binaryFile").load(crawl_dir).select(
                F.regexp_extract("path", r"crawl-(\d+)\.warc", 1).cast("long").alias("file_id"), "content"
            )
            resp = http_responses(warc_records(files, with_payload=True), with_body=True)
            pages = resp.where(F.col("status_code") == 200).select(
                F.regexp_extract("record_id", r"^urn:uuid:doc-(\d+)$", 1).cast("long").alias("doc_id"),
                F.col("body").alias("html"),
            )
        with tr.span("htmltext.html_to_text"):
            ext = html_to_text(pages)
        with tr.span("quality.gates"):
            g = gopher_quality_flags(ext, extra_cols=("link_chars", "text_chars", "text"))
            _density, ok_ld = link_density_exprs()
            _hits, ok_bw = badwords_exprs(FIXTURE_BADWORDS)
            # the gated frame feeds both the dedup and the export: pin it once
            kept = g.where(F.col("keep") & ok_ld & ok_bw).select("doc_id", "text").localCheckpoint()
        with tr.span("dedup_text.minhash_lsh"):
            pairs = minhash_lsh_candidates(kept)
            later = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
            survivors = kept.join(later, "doc_id", "left_anti")
        with tr.span("containers.write_wet"):
            write_wet_files(survivors).write.parquet(out_dir)
        if tr.enabled:
            self.last = {"kept": kept, "pairs": pairs}
        return {"out": out_dir}

    def run_pass(self, st: State, units: int, tracers: tuple[Tracer, ...]) -> list[dict]:
        """Closed loop of ``units`` passes per tracer; pass i runs under
        ``tracers[i % len(tracers)]``."""
        recs = []
        for i in range(units * len(tracers)):
            tr = tracers[i % len(tracers)]
            op_id = f"op-{len(recs)}"
            t0 = time.perf_counter()
            try:
                with tr.op(op_id, "pass"):
                    rec = self._pass(st.dir, tr)
                rec["error"] = None
            except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
                rec = {"error": f"{type(exc).__name__}: {exc}"}
            rec.update(op=op_id, traced=tr.enabled, wall=time.perf_counter() - t0)
            recs.append(rec)
        return recs

    def check(self, st: State, recs: list[dict]) -> tuple[int, list[str]]:
        keep = set(st.crawl.docs.doc_id[st.crawl.docs.keep].tolist())
        fails = []
        for r in recs:
            if r["error"]:
                fails.append(f"{r['op']}: {r['error']}")
                continue
            got = oracle.wet_doc_ids(pq.read_table(r["out"], columns=["content"]).column("content").to_pylist())
            bad = oracle.diff_survivors(got, keep)
            if bad:
                fails.append(f"{r['op']}: {bad}")
        return len(recs), fails

    def end_to_end(self, st: State, recs: list[dict]) -> dict:
        ok = [r for r in recs if not r["error"]]
        walls = [r["wall"] for r in ok]
        _files, size = disk_usage(ok[-1]["out"])
        n = len(st.crawl.docs)
        return {
            "op_p50_s": (median(walls), "s"),
            "items_per_s": (n * len(walls) / sum(walls), "1/s"),
            "store_bytes_per_item": (size / n, "B"),
        }

    def layers(self, st: State, plain, traced, spans, log, jobs_by_span) -> dict:
        ops = {r["op"] for r in traced if not r["error"]}
        n = max(len(ops), 1)
        out = {}
        for span_name, metric in OPERATOR_SPANS:
            # driver time of the call (span minus the jobs it ran) plus
            # the executor time of those jobs' stages
            total = 0.0
            for i, s in enumerate(spans):
                if s.name == span_name and s.op in ops:
                    t = job_totals(log, jobs_by_span.get(i, []))
                    total += (s.end - s.start) - t["job_wall_s"] + t.get("run_ms", 0.0) / 1000.0
            out[metric] = total / n
        return out

    def analyze(self, st: State) -> dict:
        """Dedup and gate counts of the last traced pass (run while the
        session is up, under its own job group)."""
        from opentsdb_aura_spark.operators.dedup_text import minhash_lsh_candidates

        if self.last is None:  # no traced pass completed
            return {}
        kept, pairs = self.last["kept"], self.last["pairs"]
        self.spark.sparkContext.setJobGroup("analysis", "dedup candidate count")
        n_kept = kept.count()
        verified = pairs.count()
        # threshold 0 keeps every banded candidate pair
        candidates = minhash_lsh_candidates(kept, threshold=0.0).count()
        return {
            "quality.keep_ratio": n_kept / len(st.crawl.docs),
            "dedup.candidate_pairs": float(candidates),
            "dedup.verified_pairs": float(verified),
            "dedup.candidate_precision": verified / max(candidates, 1),
        }
