"""DuckDB oracle compare for the query workloads.

Uses the repository's own compare rules from tools/check.py (`TABLES`,
`canon`, `cells_equal`): columns sorted by name, rows sorted, exact for
non-floats, floats equal within rtol 1e-9 (abs 1e-12), NaN == NaN,
timestamps compared as naive UTC, NaT as null.
"""
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
import check  # noqa: E402


def compare(tables, out_dir, oracle_sql):
    """{query: reason} for every query whose output differs from its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t + '.parquet')}')")
    bad = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            bad[name] = "no output written"
            continue
        try:
            exp = check.canon(con.execute(sql).fetchdf())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[name] = f"oracle SQL error: {e}"
            continue
        got = check.canon(pd.read_parquet(path))
        if list(exp.columns) != list(got.columns):
            bad[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
        elif len(exp) != len(got):
            bad[name] = f"{len(got)} rows != {len(exp)}"
        else:
            for c in exp.columns:
                diff = [i for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist()))
                        if not check.cells_equal(None if a is pd.NaT else a,
                                                 None if b is pd.NaT else b)[1]]
                if diff:
                    i = diff[0]
                    bad[name] = (f"{len(diff)} cells differ in {c}; first row {i}: "
                                 f"{got[c].iloc[i]!r} != {exp[c].iloc[i]!r}")
                    break
    con.close()
    return bad
