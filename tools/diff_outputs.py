#!/usr/bin/env python3
"""Compare two Verify output directories query by query.

Usage: python3 tools/diff_outputs.py OUT_A OUT_B
For every query dir in either output: schema (column names and dtypes),
then rows after check.py's norm (columns sorted by name, rows by all
columns). Also compares oracle_sql.json byte for byte. Prints one line per
difference and exits non-zero if there is any.
"""
import glob, os, sys
import pandas as pd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import norm

def load(out, name):
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None

def main(a, b):
    names = sorted({os.path.basename(d) for o in (a, b) for d in glob.glob(f"{o}/*") if os.path.isdir(d)})
    diffs = 0
    for name in names:
        da, db = load(a, name), load(b, name)
        if da is None or db is None:
            why = "missing output"
        elif dict(da.dtypes.astype(str)) != dict(db.dtypes.astype(str)):
            why = f"schema {dict(da.dtypes.astype(str))} != {dict(db.dtypes.astype(str))}"
        elif not norm(da).equals(norm(db)):
            why = f"rows differ ({len(da)} vs {len(db)} rows)"
        else:
            continue
        diffs += 1
        print(f"DIFF {name}: {why}")
    if open(f"{a}/oracle_sql.json", "rb").read() != open(f"{b}/oracle_sql.json", "rb").read():
        diffs += 1
        print("DIFF oracle_sql.json")
    print(f"== {diffs} differences over {len(names)} queries")
    sys.exit(1 if diffs else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
