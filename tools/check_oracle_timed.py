#!/usr/bin/env python3
"""Dev-only: check_oracle.py with a per-oracle time budget, for large SFs.

Same compare as tools/check_oracle.py (the driver-gate mirror), plus:
  - prints each query's oracle wall time as it completes (progress is
    visible while a big sweep runs);
  - any ORACLE whose DuckDB evaluation exceeds --budget seconds is
    interrupted and recorded as SKIPPED_SLOW rows=<spark rows> — at sf1
    a handful of oracles are pairwise/quadratic CTE replays that are
    fine at the sf0.01 gate but uneconomical at 10x. A skip is NOT a
    pass: the full-oracle gate remains the sf0.01 run; this script's
    job at sf1 is row counts + every oracle that fits the budget.

Fixture-seam oracles (SQL reading /tmp/graft_fixtures/sf0.01/ — the
OracleFixtures.VerifySf pin) are not oracle-comparable at any other SF
BY DESIGN: the Spark side passes the seam through and runs live hashes
while the oracle replays the sf0.01 fixture bytes. At a non-sf0.01
sf_dir they are classified FIXTURE_SEAM with the Spark row count, not
run — r12 classified these 34 cells by hand; the sweep now states its
own evidence classes.

Usage: check_oracle_timed.py <sf_dir> <out_dir> [budget_sec] [q1,q2,...]
  The optional 4th arg restricts the sweep to the named queries —
  targeted re-replays (e.g. the post-fix streaming family) run against
  the ORIGINAL dump dir, so the seam-stamp gate stays honest.
"""
import json, sys, os, threading, time
import duckdb

sf_dir = sys.argv[1]
out_dir = sys.argv[2]
budget = float(sys.argv[3]) if len(sys.argv) > 3 else 120.0
only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
VERIFY_SF = "sf0.01"  # OracleFixtures.VerifySf
FIXTURE_PIN = f"/tmp/graft_fixtures/{VERIFY_SF}/"
at_verify_sf = os.path.basename(sf_dir.rstrip("/")) == VERIFY_SF

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
# Verify records a cell that threw as <name>.FAILED (its message)
for f in sorted(os.listdir(out_dir)):
    name = f[:-len(".FAILED")]
    if f.endswith(".FAILED") and (only is None or name in only):
        with open(os.path.join(out_dir, f)) as fh:
            results[name] = f"FAILED {fh.read().strip()}"
        print(f"! {name} FAILED", flush=True)
names = [n for n in sorted(os.listdir(out_dir))
         if os.path.isdir(os.path.join(out_dir, n))
         and (only is None or n in only)]
for name in names:
    if name in results:  # a cell that threw fails even beside a dump
        continue
    path = os.path.join(out_dir, name)
    got = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf()
    if name not in oracle:
        results[name] = f"ROWS_ONLY rows={len(got)}"
        continue
    sql = oracle[name]
    if not at_verify_sf and FIXTURE_PIN in sql:
        # scale-honest mode (r13 verdict #7): when the dump was produced
        # with SPARK_GRAFT_SEAM_WRITE, the fixtures exist under THIS sf's
        # prefix — rewrite the pin and replay the full downstream oracle
        # at the sweep's scale. Only if every referenced fixture dir is
        # present; otherwise classify FIXTURE_SEAM as before.
        sf_name = os.path.basename(sf_dir.rstrip("/"))
        local_pin = f"/tmp/graft_fixtures/{sf_name}/"
        candidate = sql.replace(FIXTURE_PIN, local_pin)
        import re as _re
        fixture_dirs = set(_re.findall(_re.escape(local_pin) + r"([\w.-]+)/",
                                       candidate))
        # Freshness gate (r15, from r14 ADVICE): fixtures left by a
        # PREVIOUS sweep must not be replayed against a dump produced
        # without SPARK_GRAFT_SEAM_WRITE. Verify stamps RUN_STAMP after
        # writing oracle_sql.json on seam-write runs, so a same-run stamp
        # is always >= the dump (2 s slack for fs mtime granularity).
        stamp = local_pin + "RUN_STAMP"
        dump_json = os.path.join(out_dir, "oracle_sql.json")
        fresh = (os.path.isfile(stamp) and
                 os.path.getmtime(stamp) >= os.path.getmtime(dump_json) - 2.0)
        # r16 (r15 ADVICE): mtime alone can admit a stamp written by a
        # LATER seam-write run of a *different* dump. The stamp records
        # the producing run's outDir (absolute) — require it to be this
        # dump's out_dir so fixtures are only replayed against the dump
        # that wrote them.
        if fresh:
            with open(stamp) as fh:
                stamped_out = fh.read().strip()
            fresh = stamped_out == os.path.abspath(out_dir)
        if (fresh and fixture_dirs and
                all(os.path.isdir(local_pin + f) for f in fixture_dirs)):
            sql = candidate  # fall through to the normal timed compare
        else:
            stale = "" if fresh else " (no fresh seam-write stamp)"
            results[name] = (f"FIXTURE_SEAM rows={len(got)} "
                             f"(oracle pinned to {VERIFY_SF}){stale}")
            continue
    box = {"exp": None, "err": None}
    def run():
        try:
            box["exp"] = con.execute(sql).fetchdf()
        except Exception as e:  # includes the InterruptException on timeout
            box["err"] = e
    t0 = time.time()
    th = threading.Thread(target=run)
    th.start()
    th.join(budget)
    if th.is_alive():
        con.interrupt()
        th.join()
        results[name] = f"SKIPPED_SLOW rows={len(got)} (oracle >{budget:.0f}s)"
        print(f". {name} SKIPPED_SLOW after {time.time()-t0:.0f}s", flush=True)
        continue
    dt = time.time() - t0
    exp = box["exp"]
    if exp is None:
        results[name] = f"ORACLE_SQL_ERROR {box['err']}"
        print(f"! {name} ORACLE_SQL_ERROR {box['err']}", flush=True)
        continue
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
    flag = " " if results[name].startswith("OK") else "!"
    print(f"{flag} {name} {results[name].split(' ')[0]} {dt:.1f}s", flush=True)

width = max(len(k) for k in results)
fails = skips = seams = 0
print()
for k, v in sorted(results.items()):
    if v.startswith("SKIPPED_SLOW"):
        skips += 1
        flag = "~"
    elif v.startswith("FIXTURE_SEAM"):
        seams += 1
        flag = "~"
    elif v.startswith(("OK", "ROWS_ONLY")):
        flag = " "
    else:
        fails += 1
        flag = "!"
    print(f"{flag} {k:<{width}} {v}")
print(f"\n{len(results)} queries, {fails} failing, {skips} skipped-slow, "
      f"{seams} fixture-seam")
sys.exit(1 if fails else 0)
