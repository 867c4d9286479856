"""Result checking, outside the timed region.

Reads, CALLs and pipeline operators are compared with a DuckDB twin
query over the same parquet tables; writes, read-your-writes reads and
commits are compared with the expected-state model the plan generator
built (`expect`). Rows are compared as multisets after column-name
alignment; numbers compare with a relative tolerance, so an int from one
side equals the same float from the other.
"""
import hashlib
import json
import math
import os

REL_TOL = 1e-6


def norm_value(v):
    """Canonical, hashable form of one result cell."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        f = float(v)
        return round(f, 6) if math.isfinite(f) else f
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm_value(x)) for k, x in v.items()))
    if hasattr(v, "item"):  # numpy scalars
        return norm_value(v.item())
    return str(v)


def _sort_key(row):
    def k(x):
        if x is None:
            return (1, 0.0, "")
        if isinstance(x, (int, float)) and not isinstance(x, bool):
            return (0, float(x), "")
        return (0, 0.0, repr(x))
    return tuple(k(x) for x in row)


def norm_rows(columns, rows):
    """Rows with columns in name order, each cell normalized, sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(norm_value(r[i]) for i in order) for r in rows]
    return [c for c in sorted(columns)], sorted(out, key=_sort_key)


def _close(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool) and a == b
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_result(cols_a, rows_a, cols_b, rows_b):
    """(equal, reason) for two results given as column names + rows."""
    ca, ra = norm_rows(cols_a, rows_a)
    cb, rb = norm_rows(cols_b, rows_b)
    if ca != cb:
        return False, "columns %s != %s" % (ca, cb)
    if len(ra) != len(rb):
        return False, "%d rows != %d rows" % (len(ra), len(rb))
    for x, y in zip(ra, rb):
        if not _close(x, y):
            return False, "row %s != %s" % (x, y)
    return True, ""


def same_rows(rows_a, rows_b):
    """Compare row lists position-free, without column names."""
    return same_result(["c%d" % i for i in range(len(rows_a[0]) if rows_a else 0)], rows_a,
                       ["c%d" % i for i in range(len(rows_b[0]) if rows_b else 0)], rows_b)


class Oracle:
    """DuckDB over the benchmark's input tables."""

    def __init__(self, data_dir, tables, cache_dir):
        import duckdb
        # twin results depend only on the query, its parameters and the
        # generated tables, so they are cached across runs
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)
        self.data_tag = os.path.basename(data_dir)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            name = "documents_all" if t == "documents" else t
            self.con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                             % (name, os.path.join(data_dir, t + ".parquet")))
        self.slice = None
        self._docs(None)

    def _docs(self, s):
        if s == self.slice and s is not None:
            return
        where = "" if s is None else " WHERE doc_id %% 4 <> %d" % s
        self.con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM documents_all"
                         + where)
        self.slice = s

    def run(self, op):
        """Column names and rows of the op's twin query."""
        params = op.get("params") or {}
        sql = op["oracle"]
        used = {k: v for k, v in params.items() if ("$" + k) in sql}
        slice_ = op.get("args", {}).get("slice")
        key = hashlib.sha256(json.dumps([self.data_tag, sql, sorted(used.items()), slice_])
                             .encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                hit = json.load(f)
            return hit["columns"], hit["rows"]
        self._docs(slice_)
        cur = self.con.execute(sql, used) if used else self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = [[norm_value(x) for x in r] for r in cur.fetchall()]
        with open(path + ".tmp", "w") as f:
            json.dump({"columns": cols, "rows": rows}, f)
        os.replace(path + ".tmp", path)
        return cols, rows


def check_ops(plan_ops, results, oracle):
    """Mark every result with `correct` and, when wrong, `why`."""
    by_id = {o["id"]: o for o in plan_ops}
    cache = {}
    for r in results:
        op = by_id[r["id"]]
        if not r["ok"]:
            r["correct"], r["why"] = False, r.get("error", "failed")
            continue
        cols, rows = r.get("columns") or [], r.get("rows") or []
        if "oracle" in op:
            key = (op["oracle"], repr(sorted((op.get("params") or {}).items())),
                   op.get("args", {}).get("slice"))
            if key not in cache:
                cache[key] = oracle.run(op)
            ok, why = same_result(cols, rows, *cache[key])
        elif op.get("expect") is not None:
            ok, why = same_rows(rows, op["expect"])
        else:
            ok, why = True, ""
        r["correct"] = ok
        if not ok:
            r["why"] = why
    return results
