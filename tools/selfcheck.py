#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Reads the parquet results Verify wrote to OUT_DIR, runs each oracle SQL from
oracle_sql.json in DuckDB over the same sf parquet tables, and compares:
columns sorted by name, rows sorted by all columns, exact value equality
(with a tiny float tolerance report so near-misses are visible).

A query that Verify recorded in OUT_DIR/failures.json fails here with its
recorded cause: its parquet, if any, is left over from an earlier run.

Usage: python3 tools/selfcheck.py [sfDir] [outDir]
"""
import json
import math
import os
import sys

import duckdb
import pandas as pd

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/target/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # tz-aware → naive for cross-engine timestamp comparison
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64") and getattr(df[c].dt, "tz", None) is not None:
            df[c] = df[c].dt.tz_localize(None)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cells_equal(a, b):
    if a is None and b is None:
        return True
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return str(a) == str(b)


def main():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracle = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
    failures_path = f"{OUT_DIR}/failures.json"
    failures = {}
    if os.path.exists(failures_path):
        failures = {f["query"]: f for f in json.load(open(failures_path))}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if name in failures:
            f = failures[name]
            print(f"FAIL {name}: Verify failed with {f['exception']}: {f['message']}"
                  f" (root cause: {f['root_cause']})")
            n_fail += 1
            continue
        try:
            mine = canon(pd.read_parquet(f"{OUT_DIR}/{name}"))
            ref = canon(con.execute(sql).fetchdf())
            if list(mine.columns) != list(ref.columns):
                print(f"FAIL {name}: columns {list(mine.columns)} vs {list(ref.columns)}")
                n_fail += 1
                continue
            if len(mine) != len(ref):
                print(f"FAIL {name}: rows {len(mine)} vs {len(ref)}")
                n_fail += 1
                continue
            bad = []
            for c in mine.columns:
                for i, (x, y) in enumerate(zip(mine[c], ref[c])):
                    if not cells_equal(x, y):
                        bad.append((c, i, x, y))
                        if len(bad) >= 3:
                            break
                if len(bad) >= 3:
                    break
            if bad:
                print(f"FAIL {name}: {bad}")
                n_fail += 1
            else:
                print(f"PASS {name} ({len(mine)} rows)")
                n_pass += 1
        except Exception as e:  # noqa: BLE001
            print(f"ERROR {name}: {e}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail of {len(oracle)}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
