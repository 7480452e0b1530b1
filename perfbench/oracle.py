"""Independent result checks.  Expected answers are computed with DuckDB
over the generated points (never over what the program stored), and
compared with the program's responses.  Pure Python + DuckDB: no Spark.
"""

from __future__ import annotations

import gzip
import math
import re

import duckdb
import pandas as pd

REL_TOL = 1e-9
ABS_TOL = 1e-9


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def filter_sql(flt: dict) -> str:
    """The query's tag filter over the oracle table's tag columns."""
    col = flt["key"]
    if flt["kind"] == "literal":
        return f"{col} IN ({', '.join(_sql_str(v) for v in flt['values'])})"
    if flt["kind"] == "regex":
        return f"regexp_matches({col}, {_sql_str(flt['pattern'])})"
    # anchored glob; the generated patterns hold no LIKE metacharacters
    return f"{col} LIKE {_sql_str(flt['pattern'].replace('*', '%'))}"


_AGG = {"sum": "sum(v)", "avg": "avg(v)", "max": "max(v)", "min": "min(v)", "count": "count(v)"}


def expected_response(con: duckdb.DuckDBPyConnection, table: str, spec: dict) -> list[dict]:
    """Expected OpenTSDB 3.x ``data`` list for a query spec over ``table``
    (columns metric, host, dc, role, ts, value; one row per series and
    ts).  Semantics: rate per series over the in-range points (first
    point NaN), per-series downsample on start-aligned buckets, group
    merge over the per-series values, NaN-skipping throughout; groups are
    those with any in-range point, missing buckets are null."""
    s, e, iv = int(spec["start"]), int(spec["end"]), int(spec["interval"])
    keys = list(spec["group_keys"])
    sel = (
        f"SELECT metric, host, dc, role, ts, value FROM {table} "
        f"WHERE metric = {_sql_str(spec['metric'])} AND {filter_sql(spec['filter'])} "
        f"AND ts >= {s} AND ts < {e}"
    )
    if spec["rate"]:
        val = (
            "CASE WHEN lag(ts) OVER w IS NULL THEN NULL "
            "ELSE (value - lag(value) OVER w) / ((ts - lag(ts) OVER w)::DOUBLE) END"
        )
        pts = f"SELECT *, {val} AS v FROM ({sel}) WINDOW w AS (PARTITION BY metric, host ORDER BY ts)"
    else:
        pts = f"SELECT *, value AS v FROM ({sel})"
    key_cols = "".join(f"{k}, " for k in keys)
    bucket = f"{s} + ((ts - {s}) // {iv}) * {iv}"
    per_series = (
        f"SELECT {key_cols}host, {bucket} AS bucket, {_AGG[spec['ds']]} AS v, count(v) AS n "
        f"FROM ({pts}) GROUP BY ALL"
    )
    gb = _AGG[spec["gb"]]
    grouped = (
        f"SELECT {key_cols}bucket, CASE WHEN count(v) FILTER (WHERE n > 0) = 0 THEN NULL "
        f"ELSE {gb.replace('(v)', '(v) FILTER (WHERE n > 0)')} END AS v "
        f"FROM ({per_series}) GROUP BY ALL"
    )
    rows = con.execute(grouped).fetchall()
    n_buckets = math.ceil((e - s) / iv)
    series: dict[tuple, list] = {}
    for r in rows:
        key = tuple(r[: len(keys)])
        arr = series.setdefault(key, [None] * n_buckets)
        arr[(int(r[len(keys)]) - s) // iv] = None if r[-1] is None else float(r[-1])
    out = []
    for key in sorted(series, key=lambda k: tuple(str(x) for x in k)):
        out.append({"metric": spec["metric"], "tags": dict(zip(keys, key)), "NumericArrayType": series[key]})
    return out


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)


def diff_data(got: list[dict], want: list[dict]) -> str | None:
    """None when two ``data`` lists agree (values to 1e-9 relative,
    NaN/missing as null), else a short description of the first
    difference."""
    if len(got) != len(want):
        return f"{len(got)} series, expected {len(want)}"
    for g, w in zip(got, want):
        if g.get("tags") != w["tags"]:
            return f"series tags {g.get('tags')} != {w['tags']}"
        ga, wa = g.get("NumericArrayType"), w["NumericArrayType"]
        if ga is None or len(ga) != len(wa):
            return f"series {w['tags']}: {0 if ga is None else len(ga)} buckets, expected {len(wa)}"
        for i, (x, y) in enumerate(zip(ga, wa)):
            if not _close(x, y):
                return f"series {w['tags']} bucket {i}: {x} != {y}"
    return None


def response_data(resp: dict) -> list[dict]:
    return resp["results"][0]["data"]


def expected_meta(con: duckdb.DuckDBPyConnection, table: str, spec: dict) -> tuple[dict, int]:
    """(tag value → series count, matching-series cardinality)."""
    where = f"metric = {_sql_str(spec['metric'])} AND {filter_sql(spec['filter'])}"
    series = f"SELECT DISTINCT metric, host, dc, role FROM {table} WHERE {where}"
    counts = dict(con.execute(f"SELECT {spec['key']}, count(*) FROM ({series}) GROUP BY 1").fetchall())
    card = con.execute(f"SELECT count(*) FROM ({series})").fetchone()[0]
    return counts, int(card)


# ------------------------------------------------------------------ ingest


def lww_view(con: duckdb.DuckDBPyConnection, rows: str, name: str, upto_batch: int | None = None) -> None:
    """``name``: the last-write-wins point set of the valid generated rows
    (ts inside each row's batch validity window, latest ingest_seq per
    metric, host, ts), optionally only batches <= ``upto_batch``."""
    cond = "kind IN ('ok', 'rewrite')" + (f" AND batch <= {int(upto_batch)}" if upto_batch is not None else "")
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT metric, host, dc, '' AS role, ts, value, ingest_seq "
        f"FROM {rows} WHERE {cond} QUALIFY row_number() OVER (PARTITION BY metric, host, ts "
        "ORDER BY ingest_seq DESC) = 1"
    )


def diff_points(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Compare (metric, host, ts, value) point sets exactly."""
    cols = ["metric", "host", "ts", "value"]
    g = got[cols].sort_values(cols[:3], ignore_index=True)
    w = want[cols].sort_values(cols[:3], ignore_index=True)
    if len(g) != len(w):
        return f"{len(g)} points stored, expected {len(w)}"
    keys_g = list(zip(g.metric, g.host, g.ts.astype("int64")))
    keys_w = list(zip(w.metric, w.host, w.ts.astype("int64")))
    if keys_g != keys_w:
        bad = next(i for i, (a, b) in enumerate(zip(keys_g, keys_w)) if a != b)
        return f"point key {keys_g[bad]} != {keys_w[bad]}"
    for i, (a, b) in enumerate(zip(g.value, w.value)):
        if a != b:
            return f"point {keys_w[i]}: value {a} != {b}"
    return None


# ------------------------------------------------------------------ curate

_DOC_RE = re.compile(rb"WARC-Record-ID: <urn:uuid:wet-(\d+)>")


def wet_doc_ids(contents: list[bytes]) -> list[int]:
    """Doc ids of the conversion records in WET files (plain or gzip)."""
    ids: list[int] = []
    for blob in contents:
        if blob[:2] == b"\x1f\x8b":
            blob = gzip.decompress(blob)
        ids += [int(m) for m in _DOC_RE.findall(blob)]
    return ids


def diff_survivors(got: list[int], keep: set[int]) -> str | None:
    if len(got) != len(set(got)):
        return "a document was written twice"
    missing, extra = keep - set(got), set(got) - keep
    if missing or extra:
        return f"{len(missing)} planted keepers missing, {len(extra)} unexpected survivors"
    return None
