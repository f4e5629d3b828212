"""DuckDB oracle check for the oracled calls of a benchmark run.

Each oracled call's output (written as parquet by the harness in the warm
pass) is compared with its `graft.Oracles` SQL, run in DuckDB over the same
generated tables. The compare is the repository's type-strict canonical
compare (`tools/localcheck.py`): same sorted column names, same row count,
and the same sorted multiset of canonical row tuples, where floats are
rounded to 10 places and integral floats print as floats, so an integer
column on one side never equals a float column on the other.
"""
import math
import os

import duckdb


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(round(v, 10))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def rows(df, cols):
    return sorted(tuple(canon(df[c][i]) for c in cols) for i in range(len(df)))


def check(sqls, outputs, out_dir, data_dir):
    """Compares each oracled output, `outputs` = {directory name under
    `out_dir`: oracle id}, with its oracle; returns {directory name:
    reason} for every mismatch."""
    con = duckdb.connect()
    try:
        for p in sorted(os.listdir(data_dir)):
            if p.endswith(".parquet"):
                src = os.path.join(data_dir, p)
                if os.path.isdir(src):
                    src = os.path.join(src, "*.parquet")
                con.execute(f"CREATE VIEW {p[:-8]} AS SELECT * FROM '{src}'")
        fails = {}
        for name, q in sorted(outputs.items()):
            path = os.path.join(out_dir, name)
            if not os.path.isdir(path):
                fails[name] = "no output written"
                continue
            try:
                odf = con.execute(sqls[q]).df()
            except duckdb.Error as e:
                fails[name] = f"oracle SQL error: {e}"
                continue
            sdf = con.execute(f"SELECT * FROM '{path}/*.parquet'").df()
            co, cs = sorted(odf.columns), sorted(sdf.columns)
            if co != cs:
                fails[name] = f"schema mismatch: got {cs}, oracle {co}"
            elif len(odf) != len(sdf):
                fails[name] = (f"row count mismatch: got {len(sdf)}, "
                               f"oracle {len(odf)}")
            else:
                diff = [(a, b) for a, b in zip(rows(odf, co), rows(sdf, co))
                        if a != b]
                if diff:
                    fails[name] = ("value mismatch, first (oracle, got): "
                                   f"{diff[0]}")
        return fails
    finally:
        con.close()
