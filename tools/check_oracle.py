#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query in oracle_sql.json: run the SQL in DuckDB (tables registered
as views over the sfDir parquet files), load the Spark result parquet, sort
columns by name, sort rows, and compare cell values. The DuckDB connection
runs under a fixed memory limit (MEMORY_LIMIT); a query that exceeds it is
reported as a failure by name.
"""
import json, sys, glob
import duckdb
import pandas as pd

MEMORY_LIMIT = "4GB"

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything for a stable compare (mirrors value-hash semantics)
    df = df.map(lambda v: str(v))
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    # bounded, so a query that outgrows it fails by name (a DuckDB
    # out-of-memory error) instead of exhausting a shared host
    con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    only = sys.argv[3].split(',') if len(sys.argv) > 3 else None
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        if only is not None and not any(p in name for p in only):
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_bad += 1
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result")
            n_bad += 1
            continue
        got = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        gn, wn = norm(got), norm(want)
        if list(gn.columns) != list(wn.columns):
            print(f"FAIL {name}: columns {list(gn.columns)} != {list(wn.columns)}")
            n_bad += 1
        elif len(gn) != len(wn):
            print(f"FAIL {name}: rows {len(gn)} != {len(wn)}")
            n_bad += 1
        elif not gn.equals(wn):
            diff = (gn != wn).any(axis=1)
            print(f"FAIL {name}: {int(diff.sum())} differing rows; first:")
            idx = diff[diff].index[0]
            print("  spark:", gn.loc[idx].to_dict())
            print("  duckdb:", wn.loc[idx].to_dict())
            n_bad += 1
        else:
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail, {len(oracle)} total")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
