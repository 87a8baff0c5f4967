#!/usr/bin/env python3
"""Oracle gate for the queries_heavy workload.

Runs each query's `SparkEntry.oracleSql` text under DuckDB over the same
parquet tables and compares it with the parquet result the benchmark's
warm-up pass wrote. Both frames are put in a canonical form (columns by
name, rows sorted, values stringified); floating columns may differ by
1e-9 relative, every other value must be equal.

DuckDB's answers are cached in <cache_dir> under a hash of the oracle text
and of the tables (<tables_sha256>), so only the first run pays for parsing
the oracles (q150's inlines a codebook of about a megabyte).

Usage: python3 perfbench/oracle_check.py <table_dir> <verify_dir> <cache_dir> <tables_sha256>
Prints one JSON object: {"<query>": null | "<reason>"}.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def mismatch(spark_df, duck_df):
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            x = pd.to_numeric(a, errors="coerce").to_numpy(dtype=float)
            y = pd.to_numeric(b, errors="coerce").to_numpy(dtype=float)
            same = np.isclose(x, y, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            same = a.astype(str).to_numpy() == b.astype(str).to_numpy()
        if not same.all():
            i = int(np.argmin(same))
            return f"column {c} row {i}: {a.iloc[i]!r} vs {b.iloc[i]!r}"
    return None


def main(table_dir, verify_dir, cache_dir, digest):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')")
    os.makedirs(cache_dir, exist_ok=True)
    oracle = json.load(open(f"{verify_dir}/oracle_sql.json"))
    verdict = {}
    for name, sql in oracle.items():
        files = glob.glob(f"{verify_dir}/{name}/*.parquet")
        if not files:
            verdict[name] = "no output"
            continue
        try:
            key = hashlib.sha256((digest + sql).encode()).hexdigest()
            cached = os.path.join(cache_dir, key + ".pkl")
            if os.path.exists(cached):
                answer = pd.read_pickle(cached)
            else:
                answer = con.execute(sql).df()
                answer.to_pickle(cached + ".tmp")
                os.replace(cached + ".tmp", cached)
            verdict[name] = mismatch(pd.concat([pd.read_parquet(f) for f in files]), answer)
        except Exception as e:  # a failing oracle or unreadable output fails the query
            verdict[name] = f"error: {e}"
    print(json.dumps(verdict))


if __name__ == "__main__":
    main(*sys.argv[1:5])
