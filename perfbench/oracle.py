"""Output check for the batch workloads: each row's dumped result against
its DuckDB oracle SQL (`SparkEntry.oracleSql`), compared the way the
engine's correctness gate compares them: columns sorted by name, rows
sorted, exact values (NaN equal to NaN)."""
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          na_position="last")


def _compare(got, want):
    if list(got.columns) != list(want.columns):
        return f"COLS got={list(got.columns)} want={list(want.columns)}"
    if len(got) != len(want):
        return f"ROWS got={len(got)} want={len(want)}"
    bad = []
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            g, w = g.astype(float), w.astype(float)
            eq = (g.values == w.values) | (g.isna().values & w.isna().values)
        else:
            eq = g.astype(str).values == w.astype(str).values
        if not eq.all():
            i = int(np.argmin(eq))
            bad.append(f"{c}[{i}]: {g.iloc[i]!r} != {w.iloc[i]!r}")
    return "OK rows=%d" % len(got) if not bad else "VALUES " + "; ".join(bad[:3])


def check(data_dir, dump_dir):
    """{row: "OK ..." | "NO-ORACLE ..." | failure text} for every row the
    run was asked to dump (a row that left no dump is a failure too)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(dump_dir, "rows.json")) as f:
        rows = json.load(f)
    results = {}
    for name in rows:
        d = os.path.join(dump_dir, name)
        if not glob.glob(os.path.join(d, "*.parquet")):
            results[name] = "NO-OUTPUT (row failed before writing)"
            continue
        if name not in oracle:
            n = con.sql(f"SELECT COUNT(*) FROM '{d}/*.parquet'").fetchone()[0]
            results[name] = f"NO-ORACLE rows={n}"
            continue
        try:
            got = _norm(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
            want = _norm(con.sql(oracle[name]).df())
        except Exception as e:  # noqa: BLE001 - reported as a failure
            results[name] = f"CHECK-ERROR {e}"
            continue
        results[name] = _compare(got, want)
    return results
