#!/usr/bin/env python3
"""Records the expected gate results the `gates` workload checks against.

    python3 perfbench/run.py --workload dump-gates
    python3 perfbench/gates_oracle.py

The first command writes each gate's Spark result, its oracle SQL and its
fingerprint under `.bench_build/gates_dump`. This script runs every oracle in
DuckDB over the same tables (`perfbench/gates/sf0.01`), compares it with the
Spark result (columns by name, rows sorted; floats within 1e-9 relative), and
only when every gate passes writes the fingerprints to
`perfbench/gates/expected.json`. Run it again whenever the gate list or the
tables change.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

ROOT = os.getcwd()
DUMP = os.path.join(ROOT, ".bench_build", "gates_dump")
SF = os.path.join(ROOT, "perfbench", "gates", "sf0.01")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare(spark_df, duck_df):
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns spark={list(a.columns)} duckdb={list(b.columns)}"
    if len(a) != len(b):
        return f"rows spark={len(a)} duckdb={len(b)}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(b[c]):
            if not np.allclose(a[c].astype(float), b[c].astype(float), rtol=1e-9, atol=1e-12, equal_nan=True):
                return f"column {c}: floats differ"
        elif not a[c].astype(str).equals(b[c].astype(str)):
            return f"column {c}: values differ"
    return None


def main():
    con = duckdb.connect()
    for p in glob.glob(os.path.join(SF, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(DUMP, "oracle_sql.json")))
    fps = json.load(open(os.path.join(DUMP, "fingerprints.json")))
    bad = 0
    for name in fps:
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(os.path.join(DUMP, name, "*.parquet")))],
                             ignore_index=True)
        if not oracles.get(name):
            print(f"FAIL  {name}: no oracle SQL")
            bad += 1
            continue
        verdict = compare(spark_df, con.execute(oracles[name]).df())
        print(f"{'FAIL' if verdict else 'PASS'}  {name} ({len(spark_df)} rows){': ' + verdict if verdict else ''}")
        bad += bool(verdict)
    if bad:
        sys.exit(f"{bad} gates differ from their oracle; expected.json left unchanged")
    with open(os.path.join(ROOT, "perfbench", "gates", "expected.json"), "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(fps)} gates")


if __name__ == "__main__":
    main()
