"""DuckDB reference answers for the generated native queries, and the
comparison of an engine result against them. Only the query shapes the
generator emits are translated."""

from __future__ import annotations

import math
from datetime import datetime

import duckdb
import pandas as pd

# HLL (lgK = 12, the engine default) standard error is 1.04/sqrt(4096)
# = 1.6%; a sketch column passes within four standard errors plus a
# small absolute slack for tiny cardinalities
SKETCH_REL_TOL = 4 * 1.04 / math.sqrt(4096)
SKETCH_ABS_TOL = 3.0


def _q(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def filter_sql(f: dict | None) -> str:
    if not f:
        return "TRUE"
    t = f["type"]
    if t == "selector":
        return f'"{f["dimension"]}" = {_q(f["value"])}'
    if t == "in":
        return f'"{f["dimension"]}" IN ({", ".join(_q(v) for v in f["values"])})'
    if t == "regex":
        return f'regexp_matches("{f["dimension"]}", {_q(f["pattern"])})'
    if t == "bound":
        c = f'"{f["dimension"]}"'
        parts = []
        if f.get("lower") is not None:
            parts.append(f'{c} {">" if f.get("lowerStrict") else ">="} {_q(f["lower"])}')
        if f.get("upper") is not None:
            parts.append(f'{c} {"<" if f.get("upperStrict") else "<="} {_q(f["upper"])}')
        return "(" + " AND ".join(parts or ["TRUE"]) + ")"
    if t == "and":
        return "(" + " AND ".join(filter_sql(x) for x in f["fields"]) + ")"
    if t == "or":
        return "(" + " OR ".join(filter_sql(x) for x in f["fields"]) + ")"
    if t == "not":
        return f"(NOT {filter_sql(f['field'])})"
    raise ValueError(f"no translation for filter {t!r}")


def _where(q: dict) -> str:
    start, end = q["intervals"][0].split("/")
    return (f"__time >= TIMESTAMP {_q(start.replace('T', ' '))} AND "
            f"__time < TIMESTAMP {_q(end.replace('T', ' '))} AND {filter_sql(q.get('filter'))}")


def _bucket(gran: str) -> str | None:
    g = gran.lower()
    if g == "all":
        return None
    if g == "none":
        return "__time"
    return f"date_trunc('{g}', __time)"


def _agg_sql(a: dict) -> tuple[str, str]:
    t = a["type"]
    if t == "count":
        return a["name"], "count(*)"
    if t == "longSum":
        return a["name"], f'sum("{a["fieldName"]}")'
    if t == "doubleSum":
        return a["name"], f'sum("{a["fieldName"]}")'
    if t == "hyperUnique":
        return a["name"], f'count(DISTINCT "{a["fieldName"]}")'
    if t == "cardinality":
        fields = a.get("fieldNames") or a.get("fields")
        return a["name"], f'count(DISTINCT "{fields[0]}")'
    if t == "filtered":
        inner = a["aggregator"]
        name, expr = _agg_sql(inner)
        return name, f"{expr} FILTER (WHERE {filter_sql(a['filter'])})"
    raise ValueError(f"no translation for aggregator {t!r}")


def _ts(x) -> int | None:
    return None if x is None or x is pd.NaT else int(pd.Timestamp(x).value // 1000)


class Oracle:
    def __init__(self, events: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone = 'UTC'")
        # a table, not a view over the frame: the live-table replay
        # mutates it with the same ops the engine receives
        self.con.register("events_df", events)
        self.con.execute("CREATE TABLE ev AS SELECT * FROM events_df")
        self.con.unregister("events_df")

    def close(self) -> None:
        self.con.close()

    def _rows(self, sql: str) -> list[dict]:
        return self.con.execute(sql).df().to_dict("records")

    def check(self, q: dict, rows: list[dict]) -> str | None:
        """None when ``rows`` (the engine's collected result) agrees with
        DuckDB, else a one-line description of the first mismatch."""
        t = q["queryType"]
        if t in ("timeseries", "topN", "groupBy"):
            return self._check_agg(q, rows)
        if t == "scan":
            return self._check_scan(q, rows)
        if t == "search":
            return self._check_search(q, rows)
        if t == "timeBoundary":
            return self._check_boundary(q, rows)
        if t == "segmentMetadata":
            return self._check_metadata(q, rows)
        return f"no check for {t}"

    def _check_agg(self, q: dict, rows: list[dict]) -> str | None:
        t = q["queryType"]
        dims = q.get("dimensions") or ([q["dimension"]] if q.get("dimension") else [])
        bucket = _bucket(q.get("granularity", "all"))
        keys = ([f"{bucket} AS __b"] if bucket else []) + [f'"{d}"' for d in dims]
        aggs = [_agg_sql(a) for a in q["aggregations"]]
        gcols = (["__b"] if bucket else []) + [f'"{d}"' for d in dims]
        group = f"GROUP BY {', '.join(gcols)}" if gcols else ""
        sql = (f"SELECT {', '.join(keys + [f'{e} AS {n}' for n, e in aggs])} "
               f"FROM ev WHERE {_where(q)} {group}")
        ref = [r for r in self._rows(sql) if r["n"]]
        got = [r for r in rows if r.get("n")]

        def key(r, bcol):
            return ((_ts(r[bcol]) if bucket else None),) + tuple(r[d] for d in dims)

        ref_by = {key(r, "__b"): r for r in ref}
        got_by = {key(r, "__time"): r for r in got}
        if len(got_by) != len(got):
            return f"{t}: duplicate result keys"
        if t == "topN":
            thr = q["threshold"]
            per_bucket: dict = {}
            for k, r in ref_by.items():
                per_bucket.setdefault(k[0], []).append(int(r["v"]))
            for b, vs in per_bucket.items():
                want = sorted(vs, reverse=True)[:thr]
                have = sorted((int(r["v"]) for k, r in got_by.items() if k[0] == b), reverse=True)
                if want != have:
                    return f"topN: bucket {b} top values {have} != {want}"
            if not set(got_by) <= set(ref_by):
                return "topN: result key not in reference"
        elif set(got_by) != set(ref_by):
            return (f"{t}: {len(set(got_by) - set(ref_by))} extra / "
                    f"{len(set(ref_by) - set(got_by))} missing groups")
        for k, g in got_by.items():
            r = ref_by[k]
            for a in q["aggregations"]:
                name = a.get("name") or a["aggregator"]["name"]
                if a["type"] in ("count", "longSum", "filtered"):
                    if int(g[name] or 0) != int(r[name] or 0):
                        return f"{t}: {name} {g[name]} != {r[name]} at {k}"
                elif a["type"] == "doubleSum":
                    if not math.isclose(float(g[name]), float(r[name]), rel_tol=1e-9, abs_tol=1e-6):
                        return f"{t}: {name} {g[name]} != {r[name]} at {k}"
                else:  # sketch estimate against the exact distinct count
                    exact = float(r[name])
                    if abs(float(g[name]) - exact) > SKETCH_REL_TOL * exact + SKETCH_ABS_TOL:
                        return f"{t}: sketch {name} {g[name]} vs exact {exact} at {k}"
            for p in q.get("postAggregations") or []:
                want = g["v"] / g["n"]
                if not math.isclose(float(g[p["name"]]), want, rel_tol=1e-9):
                    return f"{t}: post-agg {p['name']} {g[p['name']]} != {want}"
        return None

    def _check_scan(self, q: dict, rows: list[dict]) -> str | None:
        cols = q["dimensions"]
        sel = ", ".join(["__time"] + [f'"{c}"' for c in cols])
        ref = self.con.execute(f"SELECT {sel} FROM ev WHERE {_where(q)}").fetchall()
        if len(rows) != min(q["limit"], len(ref)):
            return f"scan: {len(rows)} rows, expected {min(q['limit'], len(ref))}"
        pool: dict = {}
        for r in ref:
            k = (_ts(r[0]),) + tuple(r[1:])
            pool[k] = pool.get(k, 0) + 1
        for r in rows:
            k = (_ts(r["__time"]),) + tuple(r[c] for c in cols)
            if not pool.get(k):
                return f"scan: row {k} not in reference"
            pool[k] -= 1
        return None

    def _check_search(self, q: dict, rows: list[dict]) -> str | None:
        d = q["searchDimensions"][0]
        v = q["query"]["value"]
        ref = dict(self.con.execute(
            f'SELECT "{d}", count(*) FROM ev WHERE {_where(q)} '
            f'AND contains(lower("{d}"), lower({_q(v)})) GROUP BY 1').fetchall())
        got = {r["value"]: int(r["count"]) for r in rows if r["dimension"] == d}
        return None if got == ref else f"search: {len(got)} values vs {len(ref)} expected"

    def _check_boundary(self, q: dict, rows: list[dict]) -> str | None:
        lo, hi = self.con.execute(f"SELECT min(__time), max(__time) FROM ev WHERE {_where(q)}").fetchone()
        if len(rows) != 1:
            return f"timeBoundary: {len(rows)} rows"
        r = rows[0]
        if _ts(r["minTime"]) != _ts(lo) or _ts(r["maxTime"]) != _ts(hi):
            return f"timeBoundary: {r} != ({lo}, {hi})"
        return None

    def _check_metadata(self, q: dict, rows: list[dict]) -> str | None:
        start, end = (datetime.fromisoformat(x) for x in q["intervals"][0].split("/"))
        days = self.con.execute(
            "SELECT DISTINCT CAST(date_trunc('day', __time) AS TIMESTAMP) FROM ev").fetchall()
        total = len(days)
        overlapping = sum(1 for (d,) in days
                          if d < end and d + pd.Timedelta(days=1) > start)
        visible = sum(1 for r in rows if r["visible"])
        if len(rows) != total or visible != overlapping:
            return (f"segmentMetadata: {len(rows)} segments ({visible} visible), "
                    f"expected {total} ({overlapping})")
        return None
