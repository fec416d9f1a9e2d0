#!/usr/bin/env python3
"""Local pre-check replicating the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [queries]

The optional third argument is the comma-separated query filter that
`graft.Verify` takes; only those queries are checked, and a filter name
without oracle SQL fails.

For each query in <verifyOutDir>/oracle_sql.json: run the oracle SQL in
DuckDB (tables = <sfDir>/*.parquet registered as views by name), load the
Spark result parquet, sort columns by name, then compare row counts, dtypes
and values (rows sorted by all columns, exact equality).

Dev harness only — the shipped Scala library has no Python dependency.
"""
import json
import sys
import glob

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main(sf_dir: str, out_dir: str, only: set = None) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    try:
        failures = json.load(open(f"{out_dir}/verify_failures.json"))
    except FileNotFoundError:
        failures = {}
    n_pass = n_fail = 0
    for name in sorted((only or set()) - oracle.keys()):
        print(f"FAIL {name}: no oracle SQL")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only is not None and name not in only:
            continue
        try:
            exp = canon(con.sql(sql).df())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            why = f" ({failures[name]})" if name in failures else ""
            print(f"FAIL {name}: no spark output{why}")
            n_fail += 1
            continue
        got = canon(con.sql(
            f"SELECT * FROM read_parquet({files!r})").df())
        problems = []
        if list(got.columns) != list(exp.columns):
            problems.append(f"columns {list(got.columns)} != {list(exp.columns)}")
        elif len(got) != len(exp):
            problems.append(f"rows {len(got)} != {len(exp)}")
        else:
            for c in got.columns:
                if str(got[c].dtype) != str(exp[c].dtype):
                    problems.append(
                        f"dtype[{c}] {got[c].dtype} != {exp[c].dtype}")
            if not problems:
                neq = ~(got.eq(exp) | (got.isna() & exp.isna()))
                bad = neq.any(axis=0)
                for c in got.columns[bad]:
                    i = neq[c].idxmax()
                    problems.append(
                        f"value[{c}] row {i}: {got[c][i]!r} != {exp[c][i]!r} "
                        f"({int(neq[c].sum())} diffs)")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems[:4]))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    try:
        exempt = json.load(open(f"{out_dir}/oracle_exemptions.json"))
    except FileNotFoundError:
        exempt = {}
    for name, why in sorted(exempt.items()):
        print(f"EXEMPT {name}: {why}")
    print(f"== {n_pass} pass, {n_fail} fail, {len(exempt)} exempt ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None))
