"""DuckDB oracle check of the driver_queries workload.

For each query the benchmark ran, DuckDB runs the query's oracle SQL
(from the program's `Oracles.all`) over the same generated parquet tables.
The Spark result written in the untimed warm-up pass must equal it, by
the comparison of the repository's oracle gate
(`scripts/check_correctness.py`: columns by name, rows as a multiset,
floats bit-exact unless the gate allows a tolerance for the query).
Every timed op's row count must equal the oracle's row count. A wrong
result fails every timed op of its query.
"""
import glob
import json
import os
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "scripts"))
from check_correctness import FLOAT_TOL, canon, frames_equal  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def compare(got, exp, tol=0.0):
    """None when equal, else a short reason."""
    try:
        g, e = canon(got, tol), canon(exp, tol)
    except ValueError as ex:
        return str(ex)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs oracle {list(e.columns)}"
    if len(g) != len(e):
        return f"{len(g)} rows vs oracle {len(e)}"
    if not frames_equal(g, e, tol):
        diff = (g != e).any(axis=1)
        i = diff[diff].index[0]
        return f"row {i}: {g.loc[i].to_dict()} vs oracle {e.loc[i].to_dict()}"
    return None


def check(oracle_dir, data_dir):
    import duckdb
    import pandas as pd
    oracle_dir = str(oracle_dir)
    con = duckdb.connect()
    for t in TABLES:
        if not os.path.isdir(os.path.join(str(data_dir), f"{t}.parquet")):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet/*.parquet')")
    sql = json.load(open(os.path.join(oracle_dir, "oracle_sql.json")))
    counts = json.load(open(os.path.join(oracle_dir, "counts.json")))
    failed, messages = 0, []
    for q in sorted(sql):
        files = glob.glob(os.path.join(oracle_dir, "results", q, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) \
            if files else None
        exp = con.execute(sql[q]).fetchdf()
        why = "no result written" if got is None else compare(got, exp, FLOAT_TOL.get(q, 0.0))
        ops = counts.get(q, [])
        if why:
            failed += len(ops)
            messages.append(f"{q}: {why}")
            continue
        wrong = [c for c in ops if c != len(exp)]
        if wrong:
            failed += len(wrong)
            messages.append(f"{q}: timed counts {wrong[:3]} vs oracle {len(exp)}")
    con.close()
    return {"failed_ops": failed, "messages": messages}
