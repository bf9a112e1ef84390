"""Independent answers from DuckDB over the same generated inputs, and
the comparisons that decide whether a run's outputs were correct."""
import json
import math
import os
from datetime import datetime

import duckdb

UNIT_S = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
# rollup answers are exact (decimal sums); raw answers sum doubles
RAW_REL_TOL = 1e-9


def _ns(s):
    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()) * 1_000_000_000


def _width_us(group):
    g = group.strip().lower()
    digits = "".join(ch for ch in g if ch.isdigit())
    unit = g[len(digits):].strip().rstrip("s")
    return int(digits or 1) * UNIT_S[unit] * 1_000_000


def _agg(field, reducer):
    f = f'"{field}"'
    dsum = f"CAST(SUM(CAST({f} AS DECIMAL(20,4))) AS DOUBLE)"
    return {"sum": dsum, "avg": f"{dsum} / COUNT({f})", "max": f"MAX({f})",
            "min": f"MIN({f})", "first": f"arg_min({f}, ts_ns)",
            "last": f"arg_max({f}, ts_ns)", "count": f"CAST(COUNT({f}) AS DOUBLE)"}[reducer]


class TickOracle:
    """DuckDB view `p(index, ts_ns, value, user)` over the points a run
    must have stored."""

    def __init__(self, in_dir, acked_batches=0):
        self.con = duckdb.connect()
        pre = os.path.join(in_dir, "preload.parquet")
        ing = os.path.join(in_dir, "ingest.parquet")
        self.con.execute(
            f"CREATE TABLE p AS SELECT \"index\", ts_ns, value, \"user\" FROM '{pre}' "
            f"UNION ALL SELECT \"index\", ts_ns, value, \"user\" FROM '{ing}' "
            f"WHERE batch < {int(acked_batches)}")

    def query(self, body):
        q = json.loads(body)
        fields = list(q["fields"].items())
        where = "\"index\" = ? AND ts_ns >= ? AND ts_ns < ?"
        args = [q["index"], _ns(q["from"]), _ns(q["to"])]
        if q.get("group"):
            w = _width_us(q["group"])
            aggs = ", ".join(_agg(f, spec["reducer"]) for f, spec in fields)
            sql = (f"SELECT (ts_ns // 1000 // {w}) * {w} * 1000 AS b, {aggs} FROM p "
                   f"WHERE {where} GROUP BY 1 ORDER BY 1")
        else:
            cols = ", ".join(f'"{f}"' for f, _ in fields)
            sql = f"SELECT ts_ns, {cols} FROM p WHERE {where} ORDER BY ts_ns"
        rows = self.con.execute(sql, args).fetchall()
        return [{"Timestamp": r[0], "Value": {f: float(v) for (f, _), v in zip(fields, r[1:])}}
                for r in rows]

    def point(self, path):
        _, _, index, ns = path.split("/")
        rows = self.con.execute(
            "SELECT value, \"user\" FROM p WHERE \"index\" = ? AND ts_ns = ?",
            [index, int(ns)]).fetchall()
        return [{"value": rows[0][0], "user": rows[0][1]}] if rows else []

    def lost_points(self, final_dir):
        """Expected points missing from the store or holding another value,
        and stored points nobody wrote."""
        got = f"'{final_dir}/*.parquet'"
        lost = self.con.execute(
            f"SELECT COUNT(*) FROM p ANTI JOIN (SELECT * FROM {got}) g "
            "USING (\"index\", ts_ns, value, \"user\")").fetchone()[0]
        extra = self.con.execute(
            f"SELECT COUNT(*) FROM (SELECT * FROM {got}) g ANTI JOIN p "
            "USING (\"index\", ts_ns)").fetchone()[0]
        return lost, extra


def _close(a, b, tol):
    if a == b:
        return True
    if tol == 0 or a is None or b is None:
        return False
    return math.isclose(a, b, rel_tol=tol, abs_tol=tol)


def same_answer(got, want, tol):
    """Compare a rendered `_query` reply with the oracle's rows."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g.get("Timestamp") != w["Timestamp"] or set(g.get("Value", {})) != set(w["Value"]):
            return False
        if not all(_close(g["Value"][k], w["Value"][k], tol) for k in w["Value"]):
            return False
    return True


def check_read(oracle, kind, path, body, reply):
    """(correct, non_empty) for one distinct reply to one request."""
    try:
        got = json.loads(reply)
    except ValueError:
        return False, False
    if kind == "get":
        want = oracle.point(path)
        return bool(want) and got == want[0], bool(want)
    want = oracle.query(body)
    return same_answer(got, want, 0.0 if kind == "rollup" else RAW_REL_TOL), bool(want)


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def check_analytics(in_dir, out_dir, oracle_sql, names):
    """{query: (correct, rows)} comparing each written result with its
    DuckDB oracle, cell by cell with typed values."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    verdict = {}
    for name in names:
        sql = oracle_sql.get(name)
        res = os.path.join(out_dir, "results", name)
        if sql is None or not os.path.isdir(res):
            verdict[name] = (False, 0)
            continue
        try:
            want = con.execute(sql).fetchall()
            want_cols = [d[0] for d in con.description]
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchall()
            got_cols = [d[0] for d in con.description]
        except duckdb.Error:
            verdict[name] = (False, 0)
            continue
        ok = sorted(want_cols) == sorted(got_cols) and len(want) == len(got) and len(got) > 0
        if ok:
            wi = sorted(range(len(want_cols)), key=lambda i: want_cols[i])
            gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
            for wr, gr in zip(want, got):
                for i, j in zip(wi, gi):
                    a, b = _norm(wr[i]), _norm(gr[j])
                    if a != b or (isinstance(a, float) != isinstance(b, float)
                                  and a is not None and b is not None):
                        ok = False
                        break
                if not ok:
                    break
        verdict[name] = (ok, len(got))
    return verdict
