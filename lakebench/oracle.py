"""Exact comparison of batch results against their DuckDB oracle, with the
rules and helpers of the repository's `tools/oracle_check.py`: columns
sorted by name, timestamps typed apart by time zone, rows sorted by every
column, values compared exactly."""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from oracle_check import TABLES, cmp_cell, norm, type_tag  # noqa: E402


def compare(got, exp):
    """None when `got` equals `exp`, else the first difference, checked in
    the order `oracle_check.py` checks: columns, types, shape, values."""
    g, e = norm(got), norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    for c in sorted(got.columns):
        if type_tag(got[c]) != type_tag(exp[c]):
            return f"column {c}: type {type_tag(got[c])} != {type_tag(exp[c])}"
    if g.shape != e.shape:
        return f"shape {g.shape} != {e.shape}"
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if not cmp_cell(a, b):
                return f"column {c} row {i}: {a!r} != {b!r}"
    return None


def check_results(data_dir, out_dir, oracle):
    """Compare `out_dir/<entry>/*.parquet` with each entry's oracle SQL run
    over the input tables; returns {entry: None or the difference}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for entry, sql in oracle.items():
        got = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{entry}/*.parquet')").df()
        out[entry] = compare(got, con.sql(sql).df())
    return out
