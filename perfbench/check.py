"""Result check: each query's dumped result against its DuckDB oracle SQL,
run on the same generated tables.

Canonicalized as scripts/check.py does it: columns sorted by name, rows
sorted by every column, floats equal within 1e-9 relative, NaN equal to NaN.
"""
import glob
import math
import os

import duckdb

import gen


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(af) and math.isnan(bf):
            return True
        return math.isclose(af, bf, rel_tol=1e-9, abs_tol=1e-9)
    if hasattr(a, "__len__") and hasattr(b, "__len__") \
            and not isinstance(a, str) and not isinstance(b, str):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return bool(a == b)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{os.path.join(data_dir, '.duckdb')}'")
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(data_dir, checks_dir, oracle_sql, exclude=()):
    """Return ({query: reason} for every dumped result that does not match
    its oracle or has no oracle, {query: row count of the dumped result})."""
    con = connect(data_dir)
    wrong, rows = {}, {}
    for q in sorted(oracle_sql.keys() | {os.path.basename(d) for d in
                                         glob.glob(os.path.join(checks_dir, "*"))}):
        if q in exclude:
            continue
        files = glob.glob(os.path.join(checks_dir, q, "*.parquet"))
        if q not in oracle_sql:
            wrong[q] = "no oracle SQL to check the result against"
            continue
        if not files:
            wrong[q] = "no result was dumped"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        rows[q] = len(got)
        try:
            exp = con.execute(oracle_sql[q]).fetchdf()
        except duckdb.Error as e:
            wrong[q] = f"oracle failed: {e}"
            continue
        if sorted(got.columns) != sorted(exp.columns):
            wrong[q] = f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
            continue
        if len(got) != len(exp):
            wrong[q] = f"{len(got)} rows, oracle has {len(exp)}"
            continue
        got, exp = _canon(got), _canon(exp)
        bad = [(i, c) for c in got.columns for i in range(len(got))
               if not _same(got[c].iloc[i], exp[c].iloc[i])]
        if bad:
            i, c = bad[0]
            wrong[q] = (f"{len(bad)} cells differ, first row {i} column {c}: "
                        f"{got[c].iloc[i]!r} != {exp[c].iloc[i]!r}")
    return wrong, rows
