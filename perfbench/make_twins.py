#!/usr/bin/env python3
"""Computes the expected result digest of every benchmark query from its
DuckDB twin (`SparkEntry.oracleSql`) on the corpus its workloads read, and
stores them in perfbench/twins/<corpus>.json.

    python3 perfbench/make_twins.py --corpus sf0.1

Run it from the root of a checkout whenever a workload's query set, a
twin's SQL or the corpus changes. The benchmark itself only reads the
stored digests: the sf0.1 twins take ~3 minutes, the x10 ones ~17.
"""
import argparse
import json
import os
import shutil
import time

import duckdb

import metrics as M
import run as R


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--corpus", required=True)
    a = ap.parse_args()
    workloads = R.load_json(os.path.join(R.HERE, "workloads.json"))
    names = sorted({q for w in workloads.values() if w["corpus"] == a.corpus
                    for q in w["queries"]})
    if not names:
        R.fail("no workload reads corpus " + a.corpus)
    classpath, archive = R.build(R.source_hash(), workloads)
    data = R.corpus_dir(a.corpus, classpath)

    run_dir = R.new_run_dir("twins")
    try:
        sql_path = os.path.join(run_dir, "oracle_sql.json")
        R.run_jvm(R.java_cmd(classpath, "perfbench.DumpOracles",
                             [sql_path, ",".join(names)],
                             os.path.join(run_dir, "tmp"), archive),
                  run_dir, 300)
        oracle = R.load_json(sql_path)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lacking = [n for n in names if n not in oracle]
    if lacking:
        R.fail("queries without a DuckDB twin: " + ", ".join(lacking))

    con = duckdb.connect()
    spill = os.path.join(R.WORK, "duckdb-tmp")
    # the x10 vector twins need several GB; fewer threads keep the peak down
    con.execute("SET memory_limit = '8GB'")
    con.execute("SET threads = 3")
    con.execute("SET temp_directory = '%s'" % spill)
    for t in R.TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'"
                    % (t, data, t))
    twins = {}
    for n in names:
        t0 = time.time()
        rel = con.sql(oracle[n])
        twins[n] = M.digest(list(rel.columns), rel.fetchall())
        R.log("%s: %d rows in %.1f s" % (n, twins[n]["rows"], time.time() - t0))
    con.close()
    shutil.rmtree(spill, ignore_errors=True)
    path = os.path.join(R.HERE, "twins", a.corpus + ".json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(twins, f, indent=1, sort_keys=True)
        f.write("\n")
    R.log("wrote %d digests to %s" % (len(twins), os.path.relpath(path)))


if __name__ == "__main__":
    main()
