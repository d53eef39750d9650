#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <sfDir> <verifyOutDir> [--json out.json]

Runs each oracle_sql.json query in DuckDB over the sfDir parquet tables,
loads the Spark parquet written by graft.Verify, sorts columns by name,
sorts rows, and compares exact values (doubles bit-exact, with a
fallback report of max abs diff when not). With --json, additionally
writes a machine-readable per-query result file (the standing
bench-scale full-hash sweep artifact, SWEEP_r{N}.json).
"""
import atexit, glob, json, os, shutil, sys, tempfile
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
json_out = None
if len(sys.argv) > 4 and sys.argv[3] == "--json":
    json_out = sys.argv[4]
results = {}


def mem_total_bytes():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return None


# Bound DuckDB: by default it may take 80% of RAM, so one oracle that
# cannot fit starves the whole (shared) host instead of failing alone.
# Half of MemTotal, spilling into a temp dir of this run's own (under
# $TMPDIR, removed at exit), keeps an oversized oracle to its own
# DUCKDB ERROR line.
con = duckdb.connect()
mem = mem_total_bytes()
if mem:
    con.execute(f"SET memory_limit = '{max(mem // 2 // 2**20, 512)}MB'")
spill = tempfile.mkdtemp(prefix="graft-compare-")
atexit.register(shutil.rmtree, spill, ignore_errors=True)
con.execute(f"SET temp_directory = '{spill}'")
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fail = 0
for name in sorted(oracle):
    sql = oracle[name]
    spark_dir = f"{outdir}/{name}"
    results[name] = {"match": False}
    if not os.path.isdir(spark_dir):
        print(f"{name}: MISSING spark output")
        results[name]["err"] = "missing spark output"; fail += 1; continue
    try:
        ddf = con.sql(sql).df()
    except Exception as e:
        print(f"{name}: DUCKDB ERROR {e}")
        results[name]["err"] = f"duckdb: {e}"; fail += 1; continue
    files = glob.glob(f"{spark_dir}/*.parquet")
    sdf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    ddf = ddf.reindex(sorted(ddf.columns), axis=1)
    sdf = sdf.reindex(sorted(sdf.columns), axis=1)
    if list(ddf.columns) != list(sdf.columns):
        print(f"{name}: SCHEMA duck={list(ddf.columns)} spark={list(sdf.columns)}")
        results[name]["err"] = "schema mismatch"; fail += 1; continue
    if len(ddf) != len(sdf):
        print(f"{name}: ROWS duck={len(ddf)} spark={len(sdf)}")
        results[name]["err"] = f"rows duck={len(ddf)} spark={len(sdf)}"
        fail += 1; continue
    ddf = ddf.sort_values(list(ddf.columns)).reset_index(drop=True)
    sdf = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
    ok = True
    bad_cols = []
    for c in ddf.columns:
        dv, sv = ddf[c], sdf[c]
        if dv.dtype.kind == 'f' or sv.dtype.kind == 'f':
            d = np.asarray(dv, dtype=float); s = np.asarray(sv, dtype=float)
            same = (d == s) | (np.isnan(d) & np.isnan(s))
            if not same.all():
                mx = np.nanmax(np.abs(d - s))
                print(f"{name}: COL {c} float mismatch n={np.count_nonzero(~same)} maxdiff={mx:.3e}")
                bad_cols.append({"col": c, "n_bad": int(np.count_nonzero(~same)),
                                 "maxdiff": float(mx)})
                ok = False
        else:
            same = (dv.astype(str) == sv.astype(str))
            if not same.all():
                i = int(np.flatnonzero(~same.values)[0])
                print(f"{name}: COL {c} mismatch n={np.count_nonzero(~same)} first@{i}: duck={dv.iloc[i]!r} spark={sv.iloc[i]!r}")
                bad_cols.append({"col": c, "n_bad": int(np.count_nonzero(~same))})
                ok = False
    if ok:
        print(f"{name}: OK rows={len(sdf)}")
        results[name] = {"match": True, "rows": int(len(sdf))}
    else:
        results[name]["cols"] = bad_cols
        fail += 1
print(f"== {len(oracle) - fail}/{len(oracle)} matched ==")
if json_out:
    with open(json_out, "w") as fh:
        json.dump({"sf_dir": sfdir, "n_queries": len(oracle),
                   "n_matched": len(oracle) - fail,
                   "queries": results}, fh, indent=1, sort_keys=True)
sys.exit(1 if fail else 0)
