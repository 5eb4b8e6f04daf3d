"""Output checks: every answer the program gives is compared with DuckDB
over the same generated files, and failures are counted, never dropped."""
import datetime as _dt
import math

import duckdb


def _con():
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    return con


def _cell(v):
    """DuckDB value -> the text `Core.pretty` prints for it."""
    if v is None:
        return "NULL"
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    return str(v)


def _same(a, b):
    a, b = a.strip(), b.strip()
    if a == b:
        return True
    try:
        x, y = float(a), float(b)
    except ValueError:
        return a.removesuffix(".0") == b.removesuffix(".0")
    return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)


def parse_pretty(text):
    """Rows of a `Core.pretty` box table (header first)."""
    return [[c.strip() for c in ln.split("|")[1:-1]] for ln in text.splitlines() if ln.startswith("|")]


def pretty_vs(text, expected):
    """None if the pretty table holds exactly `expected` (DuckDB rows, in
    order), else a one-line reason."""
    rows = parse_pretty(text)[1:]
    want = [[_cell(v) for v in r] for r in expected]
    if len(rows) != len(want):
        return f"{len(rows)} rows, expected {len(want)}"
    for i, (r, w) in enumerate(zip(rows, want)):
        if len(r) != len(w) or not all(_same(a, b) for a, b in zip(r, w)):
            return f"row {i}: got {r}, expected {w}"
    return None


# ------------------------------------------------------------ exec_csv

def exec_expected(lineitem_files, orders_file, sqls):
    con = _con()
    files = ", ".join(f"'{f}'" for f in lineitem_files)
    con.sql(f"CREATE TABLE lineitem AS SELECT * FROM read_csv([{files}], header = true)")
    con.sql(f"CREATE TABLE orders AS SELECT * FROM read_csv('{orders_file}', header = true)")
    return [con.sql(s).fetchall() for s in sqls]


# ------------------------------------------------------------ federate

def fed_expected(whole_parquet, ops):
    """Expected rows per op index (None for writes)."""
    con = _con()
    out = []
    for op in ops:
        if op[0] != "read":
            out.append(None)
            continue
        _, form, sql = op
        where = "" if form == "whole" else " WHERE " + form.removeprefix("pushdown:")
        con.sql(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM '{whole_parquet}'{where}")
        out.append(con.sql(sql).fetchall())
    return out
