"""The benchmark's own tests: a tiny-size run of every workload (untraced
and traced) that must come out correct, and negative controls showing
that each workload's check fails on a perturbed response, a dropped
row, a wrong count or a missing survivor.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, harness, oracle, run  # noqa: E402
from perfbench.curate import Curate  # noqa: E402
from perfbench.curate import State as CurateState  # noqa: E402
from perfbench.ingest import HLL_TOLERANCE, IngestMixed  # noqa: E402
from perfbench.serve import Serve  # noqa: E402
from perfbench.serve import State as ServeState  # noqa: E402

TINY = gen.Sizes(
    serve_hosts=8,
    serve_days=4,
    serve_cadence=3600,
    ingest_hosts=20,
    ingest_batch_span=60,
    crawl_docs=300,
    docs_per_file=25,
)


# ------------------------------------------------------------------ smoke


@pytest.mark.parametrize("workload", run.WORKLOADS + run.BY_HAND)
def test_tiny_run_is_correct(workload):
    res = run.run(workload, seed=7, seconds=2, trace=False, sizes=TINY)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.END_TO_END)
    for name, (value, unit) in res["metrics"].items():
        assert unit == run.END_TO_END[name]
        assert value > 0 and math.isfinite(value), name


#: a per-layer metric each workload must report above 0
_LAYER_PROBE = {"serve": "json.response_cells", "ingest_mixed": "ingest.append_s", "curate": "dedup.verified_pairs"}


@pytest.mark.parametrize("workload", run.WORKLOADS + run.BY_HAND)
def test_tiny_traced_run_reports_every_layer_metric(workload):
    res = run.run(workload, seed=7, seconds=2, trace=True, sizes=TINY)
    assert res["correct"]
    extra = run.CURATE_LAYER if workload == "curate" else {}
    assert set(res["metrics"]) == set(run.PER_LAYER) | set(extra)
    m = {k: v for k, (v, _u) in res["metrics"].items()}
    assert m["spark.jobs_per_op"] > 0 and m[_LAYER_PROBE[workload]] > 0 and m["trace.ops"] >= 1


def test_measured_units_depend_on_seconds_only():
    from perfbench.serve import Serve as S

    assert run.units_for(S, S.UNIT_S * 3) == 3 and run.units_for(S, 0.1) == 1


def test_metric_without_samples_fails():
    assert run.unsampled({"a": math.nan, "b": 0.5, "c": 0.0}) == ["a"]


# ------------------------------------------------------------------ negative controls


def test_generators_are_seeded():
    assert gen.fleet(3, TINY).equals(gen.fleet(3, TINY))
    assert not gen.fleet(3, TINY).equals(gen.fleet(4, TINY))
    assert gen.serve_ops(3, TINY, 40) == gen.serve_ops(3, TINY, 40)
    assert gen.crawl(3, TINY).files == gen.crawl(3, TINY).files


def _serve_records(st: ServeState, seed: int):
    """Records whose responses are the oracle's own answers (recent and
    meta operations: checking them needs no Spark)."""
    con = st.oracle()
    recs = []
    for i, spec in enumerate(gen.serve_ops(seed, TINY, 20)):
        if spec["cls"] == "range":
            continue
        if spec["cls"] == "meta":
            out = oracle.expected_meta(con, "fleet", spec)
        else:
            out = {"results": [{"data": oracle.expected_response(con, "fleet", spec)}]}
        recs.append({"op": f"t-{i}", "spec": spec, "wall": 0.1, "out": out, "error": None})
    return recs


def test_serve_check_catches_perturbed_and_dropped_responses():
    pts = gen.fleet(5, TINY)
    st = ServeState(dir="", n_points=len(pts), store=None, dim=None, rollups={}, points=pts)
    w = Serve(None, None, 5, TINY)
    recs = _serve_records(st, 5)
    assert w.check(st, recs) == (len(recs), [])

    query = next(r for r in recs if r["spec"]["cls"] == "recent")
    data = query["out"]["results"][0]["data"]
    slot = next(i for i, v in enumerate(data[0]["NumericArrayType"]) if v is not None)
    data[0]["NumericArrayType"][slot] *= 1.001
    _n, fails = w.check(st, recs)
    assert len(fails) == 1 and query["op"] in fails[0]

    data[0]["NumericArrayType"][slot] /= 1.001
    data.pop()
    _n, fails = w.check(st, recs)
    assert len(fails) == 1 and "series" in fails[0]


def test_serve_check_catches_wrong_meta_and_rollup_raw_mismatch():
    pts = gen.fleet(5, TINY)
    st = ServeState(dir="", n_points=len(pts), store=None, dim=None, rollups={}, points=pts)
    w = Serve(None, None, 5, TINY)
    con = st.oracle()
    meta = next(r for r in _serve_records(st, 5) if r["spec"]["cls"] == "meta")
    values, card = meta["out"]
    meta["out"] = (values, card + 1)
    _n, fails = w.check(st, [meta])
    assert len(fails) == 1 and "meta" in fails[0]

    # a range response that matches the oracle but not the raw scan
    spec = next(s for s in gen.serve_ops(5, TINY, 20) if s["cls"] == "range")
    right = {"results": [{"data": oracle.expected_response(con, "fleet", spec)}]}

    def raw_scan(_st, _spec, _tr, rollups=True):
        assert not rollups
        data = oracle.expected_response(con, "fleet", spec)
        slot = next(i for i, v in enumerate(data[0]["NumericArrayType"]) if v is not None)
        data[0]["NumericArrayType"][slot] += 1.0
        return {"results": [{"data": data}]}

    w._op = raw_scan
    _n, fails = w.check(st, [{"op": "r", "spec": spec, "wall": 0.1, "out": right, "error": None}])
    assert len(fails) == 1 and "rollup != raw scan" in fails[0]


def test_ingest_check_catches_dropped_row_and_wrong_stats():
    w = IngestMixed(None, None, 5, TINY)
    w.batches = list(itertools.islice(gen.ingest_batches(5, TINY), 3))
    w._oracle_rows()
    oracle.lww_view(w.con, "rows", "want", 2)
    want = w.con.execute("SELECT metric, host, ts, value FROM want").df()
    assert oracle.diff_points(want.copy(), want) is None
    assert oracle.diff_points(want.drop(index=want.index[len(want) // 2]), want) is not None
    changed = want.copy()
    changed.loc[changed.index[0], "value"] += 1.0
    assert oracle.diff_points(changed, want) is not None

    b = w.batches[1]
    good = {k: b.planted[k] for k in ("valid", "late", "early", "invalid")}
    spec = w._cycle_reads(1)[0]
    rec = {"op": "t-1", "k": 1, "now": b.now, "specs": [spec], "error": None, "stats": dict(good)}
    lo = b.now - 3600 - (b.now - 3600) % 3600
    oracle.lww_view(w.con, "rows", "snap", 1)
    read = oracle.expected_response(w.con, "snap", {**spec, "start": b.now - spec["minutes"] * 60, "end": b.now})
    hll = dict(w.con.execute(
        f"SELECT metric, count(DISTINCT host) FROM snap WHERE ts >= {lo} AND ts - ts % 3600 < {b.now} GROUP BY 1"
    ).fetchall())
    rec["out"] = [{"results": [{"data": read}]}, hll]
    assert w.check(None, [rec]) == (1, [])

    rec["stats"]["late"] -= 1
    _n, fails = w.check(None, [rec])
    assert len(fails) == 1 and "IngestStats" in fails[0]
    rec["stats"] = dict(good)

    metric = next(iter(hll))
    rec["out"][1] = {**hll, metric: hll[metric] * (1 + 2 * HLL_TOLERANCE) + 1}
    _n, fails = w.check(None, [rec])
    assert len(fails) == 1 and "hll" in fails[0]
    rec["out"][1] = hll

    slot = next(i for i, v in enumerate(read[0]["NumericArrayType"]) if v is not None)
    read[0]["NumericArrayType"][slot] += 0.5
    _n, fails = w.check(None, [rec])
    assert len(fails) == 1 and "read" in fails[0]


def _rewrite_parquet(path: str, edit) -> None:
    table = pq.ParquetFile(path).read()
    pq.write_table(edit(table), path)


def test_ingest_end_state_check_reads_what_the_program_stored():
    """A tiny live pass, then the store and the dim are damaged on disk:
    the end-state check, which reads the files with DuckDB, must notice."""
    rd = harness.RunDir("test-ingest-end-state", 0)
    spark = harness.start_spark(rd.path)
    try:
        w = IngestMixed(spark, rd, 5, TINY)
        st = w.setup_once()
        w.warmup(st)
        recs = w.run_pass(st, 1, (harness.Tracer(),))
        assert recs[-1]["end_state"] == []

        # the last write of the pass is the newest point of its key
        stored = glob.glob(os.path.join(st.ingest.store_path, "**", "*.parquet"), recursive=True)
        newest = max(stored, key=lambda p: pc.max(pq.ParquetFile(p).read(columns=["ingest_seq"])[0]).as_py())

        def drop_newest(t):
            seq = t.column("ingest_seq")
            return t.filter(pc.not_equal(seq, pc.max(seq)))

        _rewrite_parquet(newest, drop_newest)
        fails = w._end_state_diff(st)
        assert len(fails) == 1 and fails[0].startswith("store:")

        dim = glob.glob(os.path.join(st.ingest.dim_path, "**", "*.parquet"), recursive=True)[0]

        def shift_value(t):
            col = t.schema.get_field_index("last_value")
            vals = t.column(col).to_pylist()
            vals[0] += 1.0
            return t.set_column(col, "last_value", pa.array(vals, t.schema.field(col).type))

        _rewrite_parquet(dim, shift_value)
        fails = w._end_state_diff(st)
        assert [f.split(":")[0] for f in fails] == ["store", "series_dim"]
    finally:
        harness.stop_spark(spark)
        rd.close()


def _wet_parquet(path, doc_ids):
    blob = b"".join(
        b"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: <urn:uuid:wet-%d>\r\n\r\n" % d for d in doc_ids
    )
    pq.write_table(pa.table({"file_id": [0], "content": [blob]}), path)


def test_curate_check_catches_missing_and_extra_survivors(tmp_path):
    c = gen.crawl(5, TINY)
    st = CurateState(dir="", crawl=c)
    keep = sorted(c.docs.doc_id[c.docs.keep].tolist())
    dropped = c.docs.doc_id[~c.docs.keep].tolist()
    assert len(dropped) > 0
    w = Curate(None, None, 5, TINY)
    cases = {"exact": keep, "missing": keep[1:], "extra": keep + dropped[:1], "twice": keep + keep[:1]}
    recs = []
    for name, ids in cases.items():
        path = str(tmp_path / f"{name}.parquet")
        _wet_parquet(path, ids)
        recs.append({"op": name, "out": path, "error": None})
    _n, fails = w.check(st, recs)
    assert sorted(f.split(":")[0] for f in fails) == ["extra", "missing", "twice"]


def test_crawl_plants_one_keeper_per_cluster():
    docs = gen.crawl(9, TINY).docs
    dups = docs[docs.kind == "dup"]
    assert (dups.groupby("cluster").size().between(2, 5)).all()
    assert (dups.groupby("cluster")["keep"].sum() == 1).all()
    assert not docs[docs.kind.isin(["short", "symbol", "linkfarm", "badword"])].keep.any()


def test_metric_tables_match_benchmark_json():
    import json

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json next to perfbench/")
    with open(path) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
