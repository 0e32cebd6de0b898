#!/usr/bin/env python3
"""DuckDB check of gate results written by a gate workload run.

Usage: oracle.py <gate_out_dir> <fixture_dir>

Each gate's Spark result (parquet under <gate_out_dir>/<gate>/) must equal
DuckDB running the gate's SparkEntry.oracleSql (from oracle_sql.json) over
the same fixture tables, after the same normalisation as
scripts/selfcheck.py: columns sorted by name, rows sorted, values compared
as strings. An empty result on both sides fails too: it would prove nothing.
Prints one line per problem and exits 1 if there is any.
"""
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def check(gate_out: str, fixture: str) -> list:
    """Returns the problems found (empty when every gate matches)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        pat = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    with open(os.path.join(gate_out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    problems = []
    for name in sorted(oracle):
        pat = os.path.join(gate_out, name, "*.parquet")
        try:
            spark_df = con.execute(f"SELECT * FROM read_parquet('{pat}')").fetchdf()
        except Exception as e:  # no result files
            problems.append(f"{name}: no Spark output ({e})")
            continue
        ora_df = con.execute(oracle[name]).fetchdf()
        a, b = norm(spark_df), norm(ora_df)
        if list(a.columns) != list(b.columns):
            problems.append(f"{name}: columns {list(a.columns)} != oracle {list(b.columns)}")
        elif len(a) != len(b):
            problems.append(f"{name}: {len(a)} rows != oracle {len(b)}")
        elif len(a) == 0:
            problems.append(f"{name}: empty on both sides")
        else:
            av = a.astype(str).values.tolist()
            bv = b.astype(str).values.tolist()
            bad = [i for i, (x, y) in enumerate(zip(av, bv)) if x != y]
            if bad:
                i = bad[0]
                problems.append(f"{name}: {len(bad)}/{len(av)} rows differ, "
                                f"first {av[i]} != oracle {bv[i]}")
    con.close()
    return problems


if __name__ == "__main__":
    found = check(sys.argv[1], sys.argv[2])
    for p in found:
        print(p)
    sys.exit(1 if found else 0)
