"""Correctness gate: every op's output checked against DuckDB.

DuckDB evaluates the same source parquet the engine indexes, from SQL
written here (statements and ingest) or built by the serving tiers' own
`*OracleSql` functions (serve), so a check never reuses the engine's plan.
Each check returns None when the output is right, else a one-line reason.
"""
import csv
import io
import json
import math
import os

import duckdb
import numpy as np

# The posting families the statement workloads touch, derived from the
# source tables the way the engine's index derivation documents them.
IDX_SQL = """CREATE TABLE idx AS
  SELECT 'status:' || o_orderstatus AS key, o_orderkey AS off, 0.0 AS score FROM orders
  UNION ALL SELECT 'priority:' || o_orderpriority, o_orderkey, 0.0 FROM orders
  UNION ALL SELECT 'price', o_orderkey, o_totalprice FROM orders
  UNION ALL SELECT 'orderdate', o_orderkey,
    CAST(date_diff('day', TIMESTAMP '1970-01-01', o_orderdate) AS DOUBLE) FROM orders
  UNION ALL SELECT 'qty', l_orderkey, l_quantity FROM lineitem
  UNION ALL SELECT 'lineprice', l_orderkey, l_extendedprice FROM lineitem"""


class Oracle:
    def __init__(self, corpus_dir):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(corpus_dir)):
            if f.endswith(".parquet"):
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                 f"read_parquet('{os.path.join(corpus_dir, f)}')")
        self._idx = False
        self._orders = None

    def idx(self):
        if not self._idx:
            self.con.execute(IDX_SQL)
            self._idx = True

    def order_keys(self):
        if self._orders is None:
            self._orders = set(k for (k,) in self.con.execute(
                "SELECT o_orderkey FROM orders").fetchall())
        return self._orders

    # ---- statements ----

    def ranked(self, cte, limit):
        """(count, keys of the top `limit` by score desc, off asc) of `cte`,
        a query yielding one (off, score) row per result."""
        n = self.con.execute(f"SELECT count(*) FROM ({cte})").fetchone()[0]
        keys = [f"order:{off}" for (off,) in self.con.execute(
            f"SELECT off FROM ({cte}) ORDER BY score DESC, off LIMIT {limit}").fetchall()]
        return n, keys

    def statement_expected(self, op):
        a, tpl = op["args"], op["tpl"]
        if tpl in ("name", "key", "keys"):
            live = self.order_keys()
            keys = [f"order:{o}" for o in a["offs"] if o in live]
            return ("keys", keys) if tpl == "keys" else ("query", len(keys), keys)
        if tpl == "parse":
            return ("text", a["printed"])
        self.idx()
        price = "(SELECT off, max(score) AS s FROM idx WHERE key = 'price' GROUP BY off)"
        has = lambda k: f"(SELECT DISTINCT off FROM idx WHERE key = '{k}')"
        st, pr = f"status:{a['status']}", f"priority:{a['priority']}"
        if tpl == "and_order":
            cte = (f"SELECT l.off, p.s AS score FROM {has(st)} l JOIN {price} p ON p.off = l.off "
                   f"WHERE p.s > {a['price']}")
            return ("query",) + self.ranked(cte, 10)
        if tpl in ("thresholds", "thresholds_date"):
            key = "price" if tpl == "thresholds" else "orderdate"
            lo, hi = a["bounds"][0], a["bounds"][-1]
            cte = (f"SELECT l.off, t.s AS score FROM {has(st)} l JOIN (SELECT off, max(score) AS s "
                   f"FROM idx WHERE key = '{key}' GROUP BY off) t ON t.off = l.off "
                   f"WHERE t.s >= {lo} AND t.s < {hi}")
            return ("query",) + self.ranked(cte, 20 if tpl == "thresholds" else 25)
        if tpl == "subtract_order":
            cte = (f"SELECT l.off, p.s AS score FROM {has(pr)} l JOIN {price} p ON p.off = l.off "
                   f"WHERE l.off NOT IN {has(st)}")
            return ("query",) + self.ranked(cte, 10)
        if tpl == "range":
            lo, hi = a["bounds"]
            cte = f"SELECT off, s AS score FROM {price} WHERE s BETWEEN {lo} AND {hi}"
            return ("query",) + self.ranked(cte, 10)
        if tpl == "theta":
            cte = ("SELECT l.off, l.s AS score FROM (SELECT off, max(score) AS s FROM idx "
                   f"WHERE key = 'lineprice' GROUP BY off) l JOIN {price} r "
                   "ON r.off = l.off WHERE l.s > r.s")
            return ("query",) + self.ranked(cte, 10)
        if tpl == "select_summaries":
            sel, fields = has(pr), ("qty", "price")
        else:
            sel, fields = f"(SELECT * FROM {has(st)} EXCEPT SELECT * FROM {has(pr)})", ("price", "qty")
        cols = ", ".join(f"(SELECT min(score) FROM idx i WHERE i.key = '{f}' AND i.off = s.off)"
                         for f in fields)
        rows = self.con.execute(
            f"SELECT s.off, {cols}, o.o_orderpriority, o.o_totalprice FROM {sel} s "
            "JOIN orders o ON o.o_orderkey = s.off ORDER BY s.off").fetchall()
        return ("csv", rows, tpl == "select_summaries")

    def check_statement(self, op, out):
        exp = self.statement_expected(op)
        if exp[0] == "text":
            return None if out == exp[1] else f"printed {out!r}, expected {exp[1]!r}"
        if exp[0] == "keys":
            got = [k for k in out.split("\n") if k]
            return None if got == exp[1] else f"keys {got}, expected {exp[1]}"
        if exp[0] == "query":
            d = json.loads(out)
            got = [r["_key"] for r in d["result"] if "_key" in r]
            if d["result-count"] != exp[1]:
                return f"result-count {d['result-count']}, expected {exp[1]}"
            return None if got == exp[2] else f"keys {got}, expected {exp[2]}"
        return check_csv(out, exp[1], exp[2])

    # ---- serving ----

    def check_serve(self, res):
        # a cursor of its own, so checks can run on several threads
        want = self.con.cursor().execute(res["oracle_sql"]).df()
        cols = res["cols"]
        if sorted(cols) != sorted(want.columns):
            return f"columns {sorted(cols)}, expected {sorted(want.columns)}"
        got = sorted(tuple(r[cols.index(c)] for c in sorted(cols)) for r in res["rows"])
        exp = sorted(tuple(_plain(v) for v in row)
                     for row in want[sorted(cols)].itertuples(index=False))
        if len(got) != len(exp):
            return f"{len(got)} rows, expected {len(exp)}"
        for g, e in zip(got, exp):
            if not all(_same(x, y) for x, y in zip(g, e)):
                return f"row {g}, expected {e}"
        return None

    # ---- ingest ----

    def ingest_expected(self, paths):
        """Per key: (rows, sum of values, sum of offsets) over the batches,
        with document keys resolved against the order summaries."""
        files = ", ".join(f"'{p}'" for p in paths)
        rows = self.con.execute(
            f"SELECT t.key, count(*), sum(t.v), sum(o.o_orderkey) FROM read_csv([{files}], "
            "delim='\t', header=false, quote='', escape='', "
            "columns={'key': 'VARCHAR', 'doc': 'VARCHAR', 'v': 'DOUBLE'}) t "
            "JOIN orders o ON 'order:' || o.o_orderkey = t.doc GROUP BY t.key").fetchall()
        return {k: (n, s, o) for k, n, s, o in rows}


def _plain(v):
    """A DuckDB cell in the shape the engine's rows arrive in: numbers as float."""
    if isinstance(v, (np.integer, np.floating, int, float)):
        return float(v)
    return None if v is None else str(v)


def _same(a, b, rtol=1e-9):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=rtol, abs_tol=1e-12)
    return a == b


def _num(s):
    return float("nan") if s == "nan" else float(s)


def check_csv(out, rows, summaries):
    """SELECT output: key,v1,v2[,"json"] rows in offset order."""
    got = list(csv.reader(io.StringIO(out))) if out else []
    if len(got) != len(rows):
        return f"{len(got)} rows, expected {len(rows)}"
    for g, (off, f1, f2, prio, price) in zip(got, rows):
        want = [None if f is None else float(f) for f in (f1, f2)]
        vals = [_num(x) for x in g[1:3]]
        ok = g[0] == f"order:{off}" and all(
            (w is None and math.isnan(v)) or (w is not None and math.isclose(v, w, rel_tol=1e-8))
            for v, w in zip(vals, want))
        if ok and summaries:
            j = json.loads(g[3])
            ok = j.get("priority") == prio and math.isclose(j.get("price", -1), price, rel_tol=1e-9)
        if not ok:
            return f"row {g[:3]}, expected order:{off},{want}"
    return None


def check_readback(readback, expected):
    """Keys whose read-back (rows, value sum, offset sum) differs."""
    bad = set(readback) ^ set(expected)
    for k in set(readback) & set(expected):
        n, s, o = readback[k]
        en, es, eo = expected[k]
        if n != en or o != eo or not math.isclose(s, es, rel_tol=1e-9):
            bad.add(k)
    return bad
