"""Untimed output checks for the graft benchmark, against DuckDB running the
oracle SQL over the same generated parquet inputs.

Results are compared the way the repository's tools/check_oracles.py does:
columns sorted by name, rows sorted, floats compared bit for bit."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

# TPC-H Q1 sums doubles with plain SUM, whose last bits depend on summation
# order; its float columns are compared to a relative 1e-12 instead.
APPROX = {"q_tpch_01": ("sum_disc_price", "avg_qty", "sum_qty")}
# The column of the sql_tpch check files that holds the operation id.
CHECK_OP = "perfbench_op"


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(got, exp, approx=()):
    """None when the two frames hold the same rows, else a reason."""
    g, x = norm(got), norm(exp)
    if list(g.columns) != list(x.columns):
        return f"columns {list(g.columns)} vs {list(x.columns)}"
    if len(g) != len(x):
        return f"rows {len(g)} vs {len(x)}"
    bad = []
    for c in g.columns:
        a, b = g[c], x[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            av = a.astype(float).fillna(-9e99).to_numpy()
            bv = b.astype(float).fillna(-9e99).to_numpy()
            if c in approx:
                eq = np.allclose(av, bv, rtol=1e-12, atol=0.0)
            else:
                eq = (av.view(np.int64) == bv.view(np.int64)).all()
        else:
            eq = (a.astype(str) == b.astype(str)).all()
        if not eq:
            bad.append(c)
    return f"value mismatch in {bad}" if bad else None


def connect(views):
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def read(path):
    return pd.read_parquet(path) if os.path.exists(path) else None


def sql_tpch(data, out, oracles, ops):
    """{operation id: None | reason}: every operation's collected rows
    against its query's oracle, each oracle run once. The rows of all runs
    of a query sit in one file, tagged with the operation id."""
    tables = [os.path.basename(p)[:-8] for p in glob.glob(f"{data}/*.parquet")]
    con = connect({t: f"{data}/{t}.parquet" for t in tables})
    names = {n for _, n in ops}
    expected = {name: con.execute(oracles[name]).df() for name in names}
    runs = {name: read(f"{out}/check/{name}") for name in names}
    result = {}
    for op_id, name in ops:
        got = runs[name]
        if got is None:
            result[op_id] = "no output"
            continue
        mine = got[got[CHECK_OP] == op_id].drop(columns=[CHECK_OP])
        result[op_id] = mismatch(mine, expected[name], APPROX.get(name, ()))
    return result


def curation_batch(data, out, oracles, passes):
    """{pass index: None | reason}, each pass's step outputs against the
    step oracles run once over the generated corpus."""
    con = connect({"documents": f"{data}/documents.parquet"})
    expected = {name: con.execute(sql).df() for name, sql in oracles.items()}
    result = {}
    for p in passes:
        reasons = []
        for name, exp in expected.items():
            got = read(f"{out}/pass_{p}/{name}")
            why = "no output" if got is None else mismatch(got, exp)
            if why:
                reasons.append(f"{name}: {why}")
        result[p] = "; ".join(reasons) or None
    return result


def dedup_incremental(data, out, oracle, batches):
    """{batch index: None | reason}: the batch's pairs against the q44
    oracle over index ∪ batches so far, restricted to pairs that touch the
    batch."""
    result = {}
    for b in batches:
        paths = [f"{data}/initial.parquet"] + [
            f"{data}/batches/batch_{i:04d}.parquet" for i in range(b + 1)]
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet(["
                    + ", ".join(f"'{p}'" for p in paths) + "])")
        con.execute(f"CREATE VIEW batch AS SELECT doc_id FROM read_parquet('{paths[-1]}')")
        exp = con.execute(
            f"WITH o AS ({oracle}) SELECT * FROM o WHERE id_a IN (SELECT doc_id FROM batch) "
            "OR id_b IN (SELECT doc_id FROM batch)").df()
        got = read(f"{out}/pairs/batch_{b:04d}")
        result[b] = "no output" if got is None else mismatch(got, exp)
    return result
