#!/usr/bin/env python3
"""Cross-check golden fingerprints against the DuckDB oracle.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --dump DUMP
    python3 perfbench/tools/crosscheck.py DUMP perfbench/data/sf0.01 perfbench/golden/analytics.json

A run with --dump writes every query result as parquet plus
fingerprints.json and oracle_sql.json (the engine's SparkEntry.oracleSql
for those queries). This script runs each oracle in DuckDB over the same
corpus, compares it with the Spark result the way the repo's oracle check
does (columns sorted by name, rows sorted, floats rounded to 6 places)
and, only when every query matches, writes the fingerprints as the golden
file. Exits 1 on any mismatch.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]) or df[c].dtype == object and \
           len(df) and df[c].map(lambda v: hasattr(v, "isoformat") or v is None).all():
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main(dump, data, golden_out):
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    fps = json.load(open(os.path.join(dump, "fingerprints.json")))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = [n for n in fps if n not in oracle]
    for n in bad:
        print(f"NO ORACLE {n}")
    for name in sorted(oracle):
        paths = glob.glob(os.path.join(dump, name, "*.parquet"))
        try:
            got = norm(pd.concat([pd.read_parquet(p) for p in paths])) if paths else None
            want = norm(con.execute(oracle[name]).df())
        except Exception as e:  # report and keep checking the rest
            print(f"ERROR    {name}: {str(e)[:200]}")
            bad.append(name)
            continue
        if got is None or list(got.columns) != list(want.columns) or len(got) != len(want) \
                or not got.equals(want):
            print(f"MISMATCH {name}")
            bad.append(name)
        else:
            print(f"OK       {name} ({len(got)} rows)")
    print(f"{len(oracle) - len(bad)}/{len(oracle)} match")
    if bad:
        sys.exit(1)
    with open(golden_out, "w") as f:
        f.write("{\n" + ",\n".join(f'  "{k}": "{fps[k]}"' for k in sorted(fps)) + "\n}\n")
    print(f"wrote {golden_out}")


if __name__ == "__main__":
    main(*sys.argv[1:4])
