"""Checks each lane's result, written by the benchmark JVM, against the
program's DuckDB oracle query executed fresh over the same parquet tables.

A result matches when the multiset of its rows, each value in a canonical
text form, hashes to the same digest as the oracle's. Column names must
match; row order and integer widths are not compared.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def _canon(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "null"
        return str(int(v)) if v.is_integer() and abs(v) < 2 ** 53 else repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "tolist"):
        return _canon(v.tolist())
    return str(v)


def digest(columns, rows):
    """Order-insensitive digest of a result: sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest(), len(lines)


def _spark_rows(path):
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    tables = [pq.read_table(f) for f in files]
    cols = tables[0].column_names
    rows = []
    for t in tables:
        rows.extend(zip(*(t.column(c).to_pylist() for c in cols)))
    return cols, rows


def _connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(results_dir):
    """Checks every lane listed in results_dir/lanes.json (its data
    directory and oracle text); returns the problems, empty when every
    lane matches."""
    lanes = json.load(open(os.path.join(results_dir, "lanes.json")))
    cons = {}
    problems = []
    for lane, spec in sorted(lanes.items()):
        if not spec.get("oracle"):
            problems.append(f"{lane}: the program declares no oracle query")
            continue
        if spec["data"] not in cons:
            cons[spec["data"]] = _connect(spec["data"])
        con = cons[spec["data"]]
        try:
            got_cols, got_rows = _spark_rows(os.path.join(results_dir, lane))
        except Exception as e:
            problems.append(f"{lane}: result unreadable: {e}")
            continue
        cur = con.execute(spec["oracle"])
        exp_cols = [d[0] for d in cur.description]
        exp_rows = cur.fetchall()
        if sorted(got_cols) != sorted(exp_cols):
            problems.append(f"{lane}: columns {got_cols} != oracle {exp_cols}")
            continue
        got, n_got = digest(got_cols, got_rows)
        exp, n_exp = digest(exp_cols, exp_rows)
        if n_exp == 0:
            problems.append(f"{lane}: the oracle returns no rows")
        elif got != exp:
            problems.append(f"{lane}: result ({n_got} rows) does not match "
                            f"the oracle ({n_exp} rows)")
    return problems
