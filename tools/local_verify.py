#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/local_verify.py <sfDir> <verifyOutDir> [gate ...]

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB against the parquet tables
in <sfDir>, sorts columns by name and rows by all values, and compares.

Every oracle key must have a dump (graft.Verify writes none for a gate that
threw) and every dump an oracle key. Trailing gate names narrow the check to
those gates, the same way graft.Verify takes them.
"""
import glob
from collections import Counter
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize types for compare: decimals -> str, floats -> repr
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if pd.isna(v) else str(v))
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def main(sf_dir: str, out_dir: str, only: list) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(set(only) - set(oracle))
    if unknown:
        print(f"unknown gate name(s): {', '.join(unknown)}")
        return 2
    dumps = {os.path.basename(x) for x in glob.glob(f"{out_dir}/*")
             if not x.endswith(".json")}
    names = sorted(only) if only else sorted(set(oracle) | dumps)
    failures = 0
    # gates that share one oracle (e.g. the quadratic dedup-groups pair)
    # run its SQL once
    repeated = {sql for sql, k in Counter(
        oracle[n] for n in names if n in oracle).items() if k > 1}
    shared = {}
    for name in names:
        if name not in oracle:
            print(f"[FAIL] {name}: a dump with no oracle")
            failures += 1
            continue
        if name not in dumps:
            print(f"[FAIL] {name}: no dump (the gate failed in graft.Verify)")
            failures += 1
            continue
        got = pd.read_parquet(f"{out_dir}/{name}")
        sql = oracle[name]
        want = shared.get(sql)
        if want is None:
            want = con.sql(sql).df()
            if sql in repeated:
                shared[sql] = want
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            print(f"[FAIL] {name}: columns differ spark={list(g.columns)} duck={list(w.columns)}")
            failures += 1
            continue
        if len(g) != len(w):
            print(f"[FAIL] {name}: rowcount spark={len(g)} duck={len(w)}")
            failures += 1
            continue
        if not g.equals(w):
            neq = (g != w) & ~(g.isna() & w.isna())
            bad = neq.any(axis=1)
            print(f"[FAIL] {name}: {bad.sum()} differing rows; first diffs:")
            merged = pd.concat([g[bad].head(3).add_prefix("spark_"),
                                w[bad].head(3).add_prefix("duck_")], axis=1)
            print(merged.to_string())
            failures += 1
        else:
            print(f"[ok] {name}: {len(g)} rows hash-equal")
    print(f"\n{len(names) - failures}/{len(names)} queries pass")
    return 1 if failures else 0

if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
