"""Seeded input generators.  Every input the program sees comes from here,
and the same seed always gives the same inputs.  The generators also
return what they planted (late/early/NULL-ts rows, rewrites, near-dup
clusters, bad pages), which only the checks read.
"""

from __future__ import annotations

import gzip
import itertools
from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd

#: end of the bulk-loaded fleet and the "now" of every serve query;
#: 2024-02-01 00:00 UTC is day- (hence hour- and 2 h segment-) aligned
SERVE_END = 1_706_745_600
#: virtual wall clock of the first ingest batch
INGEST_T0 = 1_706_745_600

METRICS = ("sys.cpu.user", "sys.mem.used", "net.bytes.in", "app.req.latency")
COUNTER_METRIC = "net.bytes.in"
DCS = ("dc0", "dc1", "dc2")
ROLES = ("web", "db", "cache", "batch")

#: ingest: seconds between a series' points, seconds of retention (older
#: points are dropped as late), recent queries per cycle
INGEST_CADENCE = 10
INGEST_RETENTION = 3600
INGEST_READS_PER_CYCLE = 2


@dataclass(frozen=True)
class Sizes:
    """Input sizes.  The defaults are the benchmark's; tests shrink them."""

    serve_hosts: int = 60
    serve_days: int = 4
    serve_cadence: int = 1200
    ingest_hosts: int = 500
    ingest_batch_span: int = 100
    crawl_docs: int = 4000
    docs_per_file: int = 50


def host_name(i: int) -> str:
    return f"h{i:04d}"


def host_tags(i: int) -> tuple[str, str, str]:
    return host_name(i), DCS[i % len(DCS)], ROLES[(i // len(DCS)) % len(ROLES)]


def _zipf_hosts(rng: np.random.Generator, n_hosts: int, s: float = 1.1) -> np.ndarray:
    """Host popularity ranks: host ``order[k]`` has weight 1/(k+1)^s."""
    order = rng.permutation(n_hosts)
    w = 1.0 / np.arange(1, n_hosts + 1) ** s
    return order, w / w.sum()


# ------------------------------------------------------------------ serve


def fleet(seed: int, sizes: Sizes) -> pd.DataFrame:
    """The bulk-loaded fleet: hosts × METRICS series, one point per
    ``serve_cadence`` seconds (per-series phase) over ``serve_days`` days
    ending at SERVE_END.  Counter series are monotone, the rest are
    noisy levels.  Columns: metric, host, dc, role, ts, value, ingest_seq."""
    rng = np.random.default_rng([seed, 1])
    n_series = sizes.serve_hosts * len(METRICS)
    per = sizes.serve_days * 86400 // sizes.serve_cadence
    start = SERVE_END - sizes.serve_days * 86400
    host_idx = np.repeat(np.arange(n_series) // len(METRICS), per)
    metric_idx = np.repeat(np.arange(n_series) % len(METRICS), per)
    phase = rng.integers(0, sizes.serve_cadence, n_series)
    ts = start + np.repeat(phase, per) + np.tile(np.arange(per) * sizes.serve_cadence, n_series)
    level = np.repeat(rng.uniform(10, 90, n_series), per)
    noise = rng.normal(0, 5, n_series * per)
    value = level + noise
    is_counter = metric_idx == METRICS.index(COUNTER_METRIC)
    incr = rng.exponential(1000.0, n_series * per).reshape(n_series, per)
    counter = np.cumsum(incr, axis=1).reshape(-1)
    value = np.where(is_counter, counter, value)
    tags = [host_tags(i) for i in range(sizes.serve_hosts)]
    return pd.DataFrame(
        {
            "metric": np.array(METRICS)[metric_idx],
            "host": np.array([t[0] for t in tags])[host_idx],
            "dc": np.array([t[1] for t in tags])[host_idx],
            "role": np.array([t[2] for t in tags])[host_idx],
            "ts": ts.astype(np.int64),
            "value": value,
            "ingest_seq": np.arange(len(ts), dtype=np.int64),
        }
    )


#: fixed class pattern per SERVE_CYCLE serve operations: 7 recent,
#: 2 range, 1 meta (70/20/10).  The query shapes (window, filter kind,
#: group-by, rate, aggregators, interval) also cycle on fixed patterns,
#: so a short run sees the same mix of query costs for every seed; the
#: seed draws metrics and hosts (Zipf popularity).
SERVE_CYCLE = 10
_RANGE_SLOTS = {3, 7}
_META_SLOTS = {9}
_RECENT_GROUPS = ([], ["dc"], ["role"], ["host"], ["dc", "role"])
_RECENT_AGGS = (("avg", "sum"), ("sum", "sum"), ("max", "max"), ("avg", "avg"))
_RANGE_GROUPS = ([], ["dc"], ["role"], ["dc", "role"])
_RANGE_AGGS = (("sum", "sum"), ("max", "max"), ("min", "min"), ("count", "sum"), ("avg", "avg"), ("avg", "sum"))


def serve_class(i: int) -> str:
    slot = i % SERVE_CYCLE
    if slot in _RANGE_SLOTS:
        return "range"
    if slot in _META_SLOTS:
        return "meta"
    return "recent"


def serve_ops(seed: int, sizes: Sizes, n: int = 600) -> list[dict]:
    """Seeded stream of serve operations (query specs)."""
    rng = np.random.default_rng([seed, 2])
    order, p = _zipf_hosts(rng, sizes.serve_hosts)

    def zipf_host() -> str:
        return host_name(int(order[rng.choice(len(order), p=p)]))

    ops = []
    n_recent = n_range = n_meta = 0
    for i in range(n):
        cls = serve_class(i)
        metric = METRICS[rng.integers(len(METRICS))]
        if cls == "meta":
            j, n_meta = n_meta, n_meta + 1
            key = ("dc", "role", "host")[j % 3]
            flt = {"kind": "wildcard", "key": "host", "pattern": zipf_host()[:3] + "*"}
            ops.append({"cls": cls, "metric": metric, "key": key, "filter": flt})
            continue
        if cls == "recent":
            j, n_recent = n_recent, n_recent + 1
            hours = 1 + j % 6
            kind = ("literal", "regex", "wildcard")[j % 3]
            if kind == "literal":
                k = 1 + (j // 3) % 3
                hs = sorted({host_name(int(order[x])) for x in rng.choice(len(order), size=k, p=p)})
                flt = {"kind": "literal", "key": "host", "values": hs}
            elif kind == "regex":
                flt = {"kind": "regex", "key": "host", "pattern": "^" + zipf_host()[:4]}
            else:
                flt = {"kind": "wildcard", "key": "host", "pattern": zipf_host()[:4] + "*"}
            ds, gb = _RECENT_AGGS[j % len(_RECENT_AGGS)]
            ops.append(
                {
                    "cls": cls, "metric": metric, "filter": flt, "start": SERVE_END - hours * 3600,
                    "end": SERVE_END, "ago": f"{hours}h-ago", "interval": 60, "ds": ds, "gb": gb,
                    "group_keys": _RECENT_GROUPS[j % len(_RECENT_GROUPS)], "rate": j % 10 in (2, 5, 8),
                }
            )
            continue
        j, n_range = n_range, n_range + 1
        days = 3 + j % (sizes.serve_days - 2)
        kind = j % 3
        if kind == 0:
            flt = {"kind": "wildcard", "key": "host", "pattern": zipf_host()[:3] + "*"}
        elif kind == 1:
            dcs = sorted(rng.choice(len(DCS), size=2, replace=False))
            flt = {"kind": "regex", "key": "dc", "pattern": "^dc[" + "".join(str(d) for d in dcs) + "]$"}
        else:
            flt = {"kind": "literal", "key": "role", "values": sorted(rng.choice(ROLES, size=2, replace=False).tolist())}
        ds, gb = _RANGE_AGGS[j % len(_RANGE_AGGS)]
        ops.append(
            {
                "cls": cls, "metric": metric, "filter": flt, "start": SERVE_END - days * 86400,
                "end": SERVE_END, "ago": None, "interval": 3600 if j % 5 in (0, 2, 4) else 86400,
                "ds": ds, "gb": gb, "group_keys": _RANGE_GROUPS[j % len(_RANGE_GROUPS)], "rate": False,
            }
        )
    return ops


def filter_json(flt: dict) -> dict:
    """OpenTSDB 3.x filter JSON for a spec's tag filter."""
    if flt["kind"] == "literal":
        return {"type": "TagValueLiteralOr", "tagKey": flt["key"], "filter": "|".join(flt["values"])}
    if flt["kind"] == "regex":
        return {"type": "TagValueRegex", "tagKey": flt["key"], "filter": flt["pattern"]}
    return {"type": "TagValueWildcard", "tagKey": flt["key"], "filter": flt["pattern"]}


def query_json(spec: dict) -> dict:
    """OpenTSDB 3.x semantic-query JSON for a query spec."""
    graph = [
        {"id": "m", "type": "TimeSeriesDataSource", "metric": {"type": "MetricLiteral", "metric": spec["metric"]},
         "filterId": "f1"},
    ]
    if spec["rate"]:
        graph.append({"id": "r", "type": "rate", "interval": "1s", "sources": ["m"]})
    iv = spec["interval"]
    graph.append(
        {"id": "ds", "type": "downsample", "aggregator": spec["ds"], "interval": f"{iv // 60}m" if iv < 3600 else
         (f"{iv // 3600}h" if iv < 86400 else f"{iv // 86400}d"), "fill": True,
         "sources": [graph[-1]["id"]]}
    )
    graph.append({"id": "gb", "type": "groupby", "aggregator": spec["gb"], "tagKeys": spec["group_keys"],
                  "sources": ["ds"]})
    return {
        "start": spec["ago"] if spec["ago"] else spec["start"],
        "end": spec["end"],
        "executionGraph": graph,
        "filters": [{"id": "f1", "filter": filter_json(spec["filter"])}],
    }


# ------------------------------------------------------------------ ingest


@dataclass
class IngestBatch:
    now: int
    rows: pd.DataFrame  # program columns + planted 'kind' and 'batch'
    planted: dict[str, int]


def ingest_batches(seed: int, sizes: Sizes) -> Iterator[IngestBatch]:
    """Endless micro-batches on a virtual clock: batch b carries every
    series' points in (T0 + b·span, T0 + (b+1)·span] and is processed at
    now = T0 + (b+1)·span.  Planted per batch (shares of the regular
    points): 2% late (older than retention), 1% early (future), 0.5%
    NULL ts, 5% last-write-wins rewrites of a point from this batch or
    the previous one, each with a higher ingest_seq."""
    rng = np.random.default_rng([seed, 3])
    n_series = sizes.ingest_hosts * len(METRICS)
    per = sizes.ingest_batch_span // INGEST_CADENCE
    phase = rng.integers(1, INGEST_CADENCE + 1, n_series)
    level = rng.uniform(10, 90, n_series)
    tags = [host_tags(i) for i in range(sizes.ingest_hosts)]
    hosts = np.array([t[0] for t in tags])
    dcs = np.array([t[1] for t in tags])
    seq = 0
    prev_ok: pd.DataFrame | None = None
    for b in itertools.count():
        lo = INGEST_T0 + b * sizes.ingest_batch_span
        now = lo + sizes.ingest_batch_span
        sid = np.repeat(np.arange(n_series), per)
        ts = lo + np.repeat(phase, per) + np.tile(np.arange(per) * INGEST_CADENCE, n_series)
        ok = pd.DataFrame(
            {
                "metric": np.array(METRICS)[sid % len(METRICS)],
                "host": hosts[sid // len(METRICS)],
                "dc": dcs[sid // len(METRICS)],
                "ts": ts,
                "value": level[sid] + rng.normal(0, 5, len(sid)),
                "kind": "ok",
            }
        )
        n = len(ok)
        n_late, n_early, n_null, n_rw = (int(round(n * r)) for r in (0.02, 0.01, 0.005, 0.05))

        def pick(k: int, frame: pd.DataFrame) -> pd.DataFrame:
            return frame.iloc[rng.choice(len(frame), size=k, replace=False)].copy()

        late = pick(n_late, ok)
        late["ts"] = now - INGEST_RETENTION - rng.integers(1, 1800, n_late)
        late["kind"] = "late"
        early = pick(n_early, ok)
        early["ts"] = now + rng.integers(1, 600, n_early)
        early["kind"] = "early"
        null = pick(n_null, ok)
        null["ts"] = None
        null["kind"] = "null"
        n_prev = n_rw // 2 if prev_ok is not None else 0
        rw = pd.concat([pick(n_rw - n_prev, ok)] + ([pick(n_prev, prev_ok)] if n_prev else []))
        rw["value"] = rw["value"] + rng.uniform(100, 200, len(rw))
        rw["kind"] = "rewrite"
        mixed = pd.concat([ok, late, early, null]).sample(frac=1.0, random_state=rng.integers(2**31))
        # rewrites arrive after the rows they overwrite
        rows = pd.concat([mixed, rw], ignore_index=True)
        rows["ts"] = rows["ts"].astype("Int64")
        rows["ingest_seq"] = np.arange(seq, seq + len(rows), dtype=np.int64)
        rows["batch"] = b
        seq += len(rows)
        planted = {"valid": n + len(rw), "late": n_late, "early": n_early, "invalid": n_null, "rewrites": len(rw)}
        yield IngestBatch(now=int(now), rows=rows, planted=planted)
        prev_ok = ok


def ingest_reads(seed: int, sizes: Sizes) -> Iterator[dict]:
    """Endless recent queries for the live store: last 10–30 min at 1m
    over a Zipf-chosen host set, group-all or by dc.  Shapes cycle on
    fixed patterns; the seed draws hosts and metrics.  ``start``/``end``
    are filled in per cycle from the virtual clock."""
    rng = np.random.default_rng([seed, 4])
    order, p = _zipf_hosts(rng, sizes.ingest_hosts)
    for i in itertools.count():
        h = host_name(int(order[rng.choice(len(order), p=p)]))
        kind = ("literal", "regex", "wildcard")[i % 3]
        if kind == "literal":
            flt = {"kind": "literal", "key": "host", "values": [h]}
        elif kind == "regex":
            flt = {"kind": "regex", "key": "host", "pattern": "^" + h[:4]}
        else:
            flt = {"kind": "wildcard", "key": "host", "pattern": h[:4] + "*"}
        minutes = 10 + 7 * i % 21
        ds, gb = [("avg", "sum"), ("sum", "sum"), ("max", "max")][i // 3 % 3]
        yield {
            "cls": "recent", "metric": METRICS[rng.integers(len(METRICS))], "filter": flt,
            "ago": f"{minutes}m-ago", "minutes": minutes, "interval": 60, "ds": ds, "gb": gb,
            "group_keys": [[], ["dc"]][i % 2], "rate": False,
        }


# ------------------------------------------------------------------ curate

_STOP = ("the", "a", "of", "and", "to", "in", "is")


def _vocab(rng: np.random.Generator, n: int = 3000) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(4, 10)))))
    return sorted(words)


def _prose(rng: np.random.Generator, vocab: np.ndarray, n_tokens: int) -> list[str]:
    """``n_tokens`` words: a fifth stop words, the rest from ``vocab``."""
    stop = rng.random(n_tokens) < 0.2
    words = np.where(stop, np.array(_STOP)[rng.integers(len(_STOP), size=n_tokens)],
                     vocab[rng.integers(len(vocab), size=n_tokens)])
    return words.tolist()


def _page(doc_id: int, paragraphs: list[str], extra_block: str = "") -> bytes:
    body = "".join(f"<p>{p}</p>\n" for p in paragraphs)
    return (
        f"<html>\n<head><title>Article {doc_id}</title></head>\n<body>\n"
        '<nav><a href="/">Home</a> <a href="/about">About</a></nav>\n'
        f"{body}{extra_block}"
        '<footer><a href="/terms">Terms</a></footer>\n</body>\n</html>\n'
    ).encode()


def _warc_record(rtype: str, rid: str, payload: bytes, uri: str | None, ctype: str) -> bytes:
    head = [b"WARC/1.0", b"WARC-Type: " + rtype.encode(), b"WARC-Record-ID: <" + rid.encode() + b">",
            b"WARC-Date: 2024-02-01T00:00:00Z"]
    if uri:
        head.append(b"WARC-Target-URI: " + uri.encode())
    head += [b"Content-Type: " + ctype.encode(), b"Content-Length: " + str(len(payload)).encode()]
    return b"\r\n".join(head) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def _http(body: bytes) -> bytes:
    return (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )


@dataclass
class Crawl:
    files: list[tuple[str, bytes]]
    docs: pd.DataFrame  # doc_id, kind, cluster, keep


def crawl(seed: int, sizes: Sizes) -> Crawl:
    """A synthetic crawl: pages of good prose, near-duplicate clusters of
    2–5 (one token swapped per copy), and pages planted to fail exactly
    one gate — short (<50 tokens) or hashtag-heavy (Gopher), link farms
    (page link density), and blocklisted words.  The keep-set is the
    good pages plus the lowest doc_id of each cluster.  Files are plain
    ``.warc`` and per-record-gzip ``.warc.gz`` alternately."""
    rng = np.random.default_rng([seed, 5])
    vocab = np.array(_vocab(rng))
    n = sizes.crawl_docs
    kinds: list[tuple[str, int]] = []  # (kind, cluster id or -1)
    cluster = 0
    while sum(1 for k, _ in kinds if k == "dup") < int(n * 0.15):
        kinds += [("dup", cluster)] * int(rng.integers(2, 6))
        cluster += 1
    for kind, share in (("short", 0.04), ("symbol", 0.03), ("linkfarm", 0.05), ("badword", 0.03)):
        kinds += [(kind, -1)] * max(1, int(n * share))
    kinds += [("good", -1)] * max(0, n - len(kinds))
    kinds = kinds[:n] if len(kinds) > n else kinds
    ids = rng.permutation(len(kinds))
    bases: dict[int, list[str]] = {}
    pages: dict[int, bytes] = {}
    meta = []
    for (kind, cl), doc_id in zip(kinds, ids):
        doc_id = int(doc_id)
        if kind == "dup":
            base = bases.setdefault(cl, _prose(rng, vocab, int(rng.integers(150, 220))))
            toks = list(base)
            toks[int(rng.integers(len(toks)))] = vocab[rng.integers(len(vocab))]
        elif kind == "short":
            toks = _prose(rng, vocab, int(rng.integers(15, 40)))
        else:
            toks = _prose(rng, vocab, int(rng.integers(150, 220)))
        extra = ""
        if kind == "symbol":
            toks = ["#" + t if i % 4 == 0 else t for i, t in enumerate(toks)]
        elif kind == "badword":
            toks.insert(int(rng.integers(len(toks))), "obscene")
        elif kind == "linkfarm":
            toks = toks[:60]
            links = " ".join(
                f'<a href="/l/{j}">{vocab[rng.integers(len(vocab))]} {vocab[rng.integers(len(vocab))]}</a>'
                for j in range(60)
            )
            extra = f"<div>{links}</div>\n"
        half = len(toks) // 2
        pages[doc_id] = _page(doc_id, [" ".join(toks[:half]), " ".join(toks[half:])], extra)
        meta.append((doc_id, kind, cl))
    docs = pd.DataFrame(meta, columns=["doc_id", "kind", "cluster"]).sort_values("doc_id", ignore_index=True)
    rep = docs[docs.kind == "dup"].groupby("cluster")["doc_id"].min()
    docs["keep"] = (docs.kind == "good") | docs.doc_id.isin(set(rep.tolist()))
    files = []
    for f, lo in enumerate(range(0, len(docs), sizes.docs_per_file)):
        recs = [_warc_record("warcinfo", f"urn:uuid:info-{f}", b"software: perfbench\r\n", None,
                             "application/warc-fields")]
        for doc_id in docs.doc_id.iloc[lo: lo + sizes.docs_per_file]:
            recs.append(_warc_record("response", f"urn:uuid:doc-{doc_id}", _http(pages[int(doc_id)]),
                                     f"http://site{int(doc_id) % 97}.example/page/{doc_id}",
                                     "application/http;msgtype=response"))
        if f % 2:
            files.append((f"crawl-{f:05d}.warc.gz", b"".join(gzip.compress(r, mtime=0) for r in recs)))
        else:
            files.append((f"crawl-{f:05d}.warc", b"".join(recs)))
    return Crawl(files=files, docs=docs)
