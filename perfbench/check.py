"""Output checks for one benchmark run.

Each check returns a list of failure strings (empty when it passes).
Query outputs are compared with DuckDB running the query's declared
oracle SQL over the same generated inputs, under the canon + per-column
hash rule of the program's `tools/hashcheck.py`.
"""
import importlib.util
import json
import os

import duckdb
import pandas as pd
from pandas.util import hash_pandas_object

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _hashcheck(root: str):
    spec = importlib.util.spec_from_file_location(
        "hashcheck", os.path.join(root, "tools", "hashcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle(root: str, data: str, outdir: str, sqls: dict) -> tuple:
    """(failures, per-query status) for every query with an oracle."""
    canon = _hashcheck(root).canon
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
    fails, status = [], {}
    for name, sql in sorted(sqls.items()):
        before = len(fails)
        try:
            expect = canon(con.sql(sql).df())
            got = canon(pd.read_parquet(os.path.join(outdir, name)))
        except Exception as e:  # a load error is a failed check
            fails.append(f"{name}: load/sort error {type(e).__name__}: {str(e)[:160]}")
            status[name] = "error"
            continue
        if list(expect.columns) != list(got.columns):
            fails.append(f"{name}: columns {list(got.columns)} != {list(expect.columns)}")
        elif len(expect) != len(got):
            fails.append(f"{name}: rows {len(got)} != {len(expect)}")
        else:
            bad = [c for c in got.columns
                   if not hash_pandas_object(got[c], index=False).equals(
                       hash_pandas_object(expect[c], index=False))]
            if bad:
                fails.append(f"{name}: hash mismatch in {bad}")
        status[name] = "fail" if len(fails) > before else f"pass ({len(got)} rows)"
    return fails, status


def digests(res: dict) -> list:
    """Every pass of a query must produce the same output digest."""
    return [f"{q}: output digest differs across passes ({sorted(set(d))[:3]})"
            for q, d in res.get("digests", {}).items() if len(set(d)) > 1]


def verdicts(res: dict, expected_path: str) -> list:
    """Every batch's verdicts must be exactly the planted classes."""
    with open(expected_path) as f:
        expected = json.load(f)
    fails = []
    for b, rows in res.get("verdicts", {}).items():
        got = {str(d): [v, k] for d, v, k in rows}
        exp = expected[b]
        if got != exp:
            diff = [(d, got.get(d), exp.get(d)) for d in sorted(set(got) | set(exp))
                    if got.get(d) != exp.get(d)]
            fails.append(f"{b}: {len(diff)} verdicts differ from the planted classes: {diff[:4]}")
    c = res.get("in_query_check", {})
    if not c:
        fails.append("in-query equality check did not run")
    elif not c.get("equal"):
        fails.append(f"{c['batch']}: served verdicts != in-query cascade: {c.get('diff')}")
    c = res.get("compaction_check", {})
    if not c:
        fails.append("before/after compaction check did not run")
    elif not c.get("equal"):
        fails.append(f"{c['batch']}: verdicts differ before and after compaction")
    return fails
