#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/<name>/ (Spark parquet) + <verifyOutDir>/oracle_sql.json,
runs each oracle SQL in DuckDB with the sf parquet tables registered as
views, and compares: row count, column names (sorted), and exact values
with columns sorted by name (per the driver contract: "compare sorts
columns by name before hashing values"). Each PASS/FAIL line carries the
twin's DuckDB seconds (running and fetching its SQL), and the five
slowest twins are listed at the end. Exits 1 on any failure, and when
nothing was compared.
"""
import glob
import json
import math
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    secs = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark result parquet")
            n_fail += 1
            continue
        t0 = time.perf_counter()
        try:
            got = con.sql(
                f"SELECT * FROM read_parquet({files!r})")
            got_cols = sorted(got.columns)
            got_rows = got.fetchall()
            t0 = time.perf_counter()  # the twin's own time starts here
            exp = con.sql(sql)
            exp_cols = sorted(exp.columns)
            # reorder columns by sorted name
            gidx = [got.columns.index(c) for c in got_cols]
            eidx = [exp.columns.index(c) for c in exp_cols]
            exp_rows = exp.fetchall()
        except Exception as e:
            secs[name] = time.perf_counter() - t0
            print(f"FAIL {name}: exception {e} [{secs[name]:.2f}s]")
            n_fail += 1
            continue
        secs[name] = took = time.perf_counter() - t0
        ok = True
        if got_cols != exp_cols:
            print(f"FAIL {name}: cols spark={got_cols} oracle={exp_cols} [{took:.2f}s]")
            ok = False
        elif len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: rows spark={len(got_rows)} oracle={len(exp_rows)} [{took:.2f}s]")
            ok = False
        else:
            for i, (g, e) in enumerate(zip(got_rows, exp_rows)):
                gr = [norm(g[j]) for j in gidx]
                er = [norm(e[j]) for j in eidx]
                if gr != er:
                    print(f"FAIL {name}: row {i} spark={gr} oracle={er} [{took:.2f}s]")
                    ok = False
                    break
        if ok:
            print(f"PASS {name} ({len(got_rows)} rows) [{took:.2f}s]")
            n_pass += 1
        else:
            n_fail += 1
    slowest = sorted(secs.items(), key=lambda kv: -kv[1])[:5]
    if slowest:
        print("slowest twins (DuckDB s): " +
              ", ".join(f"{n} {s:.2f}" for n, s in slowest))
    print(f"== {n_pass} pass, {n_fail} fail ==")
    if n_pass + n_fail == 0:
        # an empty oracle_sql.json proves nothing; never report it clean
        print("FAIL: nothing compared (oracle_sql.json is empty)")
        return 1
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
