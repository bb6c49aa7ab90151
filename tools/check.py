#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify first
(sbt "runMain graft.Verify <sfDir> <outDir>"), then this script compares each
<outDir>/<name> parquet against the DuckDB oracle from oracle_sql.json,
with sfDir tables registered as views. Every oracle key must have an output
directory (Verify only logs a query that throws, so a missing directory is
the failure) and every output directory must have an oracle key (a stale
directory from an earlier run or a deleted query). Use a fresh <outDir>.
Usage: check.py <sfDir> <outDir>"""
import sys, json, glob, os
import duckdb

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
outputs = {n for n in os.listdir(out) if os.path.isdir(os.path.join(out, n))}
fails = 0
for name in sorted(oracle.keys() - outputs):
    print(f"  [FAIL] {name}: missing output (the query threw or never ran)")
    fails += 1
for name in sorted(outputs - oracle.keys()):
    print(f"  [FAIL] {name}: no oracle (stale or unregistered output directory)")
    fails += 1
for name in sorted(outputs & oracle.keys()):
    d = os.path.join(out, name)
    got = con.sql(f"SELECT * FROM read_parquet('{d}/*.parquet')").fetchall()
    cols = [c[0] for c in con.sql(
        f"DESCRIBE SELECT * FROM read_parquet('{d}/*.parquet')").fetchall()]
    try:
        exp_rel = con.sql(oracle[name])
        exp = exp_rel.fetchall()
        exp_cols = exp_rel.columns
    except Exception as e:
        print(f"  [FAIL] {name}: oracle SQL error: {e}")
        fails += 1
        continue
    # driver sorts columns by name before hashing values
    def norm(rows, cs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        return [tuple(r[i] for i in order) for r in rows], sorted(cs)
    g, gc = norm(got, cols)
    e, ec = norm(exp, exp_cols)
    if gc != ec:
        print(f"  [FAIL] {name}: columns {gc} vs oracle {ec}")
        fails += 1
    elif g != e:
        print(f"  [FAIL] {name}: {len(g)} vs {len(e)} rows; first diff:")
        for i, (a, b) in enumerate(zip(g, e)):
            if a != b:
                print(f"      row {i}: got {a!r}\n           exp {b!r}")
                break
        else:
            print(f"      row-count mismatch only; got[-1]={g[-1] if g else None!r} exp[-1]={e[-1] if e else None!r}")
        fails += 1
    else:
        print(f"  [ok] {name}: {len(g)} rows match")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
