#!/usr/bin/env python3
"""Dev-only self-check mirroring the driver's correctness gate.

Runs AFTER `sbt "runMain graft.Verify <sfDir> <outDir>"`: loads each query's
parquet dump, runs the corresponding oracle SQL in DuckDB over the same
source tables, and compares (rows sorted, columns sorted by name, values
stringified). NOT part of the shipped library — tooling only.
"""
import json, sys, glob, os
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(out_dir)):
    path = os.path.join(out_dir, name)
    if name.endswith(".FAILED"):
        # Verify records a cell that threw as <name>.FAILED (its message)
        with open(path) as fh:
            results[name[:-len(".FAILED")]] = f"FAILED {fh.read().strip()}"
        continue
    if not os.path.isdir(path):
        continue
    got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
    if name not in oracle:
        results[name] = f"ROWS_ONLY rows={len(got)}"
        continue
    try:
        exp = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = f"ORACLE_SQL_ERROR {e}"
        continue
    # driver-style compare: sort columns by name, stringify, sort rows
    def canon(df):
        df = df[sorted(df.columns)]
        return sorted(tuple(str(v) for v in row) for row in df.itertuples(index=False))
    g, e = canon(got), canon(exp)
    if list(got.columns.sort_values()) != list(exp.columns.sort_values()):
        results[name] = f"SCHEMA_MISMATCH got={sorted(got.columns)} exp={sorted(exp.columns)}"
    elif len(g) != len(e):
        results[name] = f"ROWCOUNT_MISMATCH got={len(g)} exp={len(e)}"
    elif g != e:
        bad = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
        results[name] = f"VALUE_MISMATCH first at sorted-row {bad}: got={g[bad]} exp={e[bad]}"
    else:
        results[name] = f"OK rows={len(g)}"

width = max(len(k) for k in results)
fails = 0
for k, v in sorted(results.items()):
    flag = " " if v.startswith(("OK", "ROWS_ONLY")) else "!"
    if flag == "!":
        fails += 1
    print(f"{flag} {k:<{width}} {v}")
print(f"\n{len(results)} queries, {fails} failing")
sys.exit(1 if fails else 0)
