#!/usr/bin/env python3
"""Derive perfbench/expected_ops.json from the DuckDB oracle, once.

  PERFBENCH_KEEP_WORK=1 python3 perfbench/run.py --workload ops_sf001 --seed 1 --seconds 1
  python3 perfbench/derive_expected.py .bench_build/runs/ops_sf001-s1-t0-<pid>

For every ops query it runs the query's registered oracle SQL
(SparkEntry.oracleSql) in DuckDB over the committed sf0.01 corpus, and
compares that frame with the Spark output the run left behind the way
tools/check.py does (columns by name, exact values, row order). Only a
query whose Spark output equals the oracle gets an expected hash; the hash
written is the oracle's. Exits non-zero if any query disagrees.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb
import pandas as pd

import hashes
import run


def oracle_sql(names):
    cmd = ["java", "-cp", os.pathsep.join([os.path.join(run.BUILD, "classes", "perfbench.jar"),
                                           os.path.join(run.spark_jars(), "*")]),
           "graft.perfbench.OracleSql"] + names
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    work = sys.argv[1]
    names = [q for q, _ in run.OPS_QUERIES]
    sql = oracle_sql(names)
    data = run.OPS_DATA
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    expected, bad = {}, []
    for q in names:
        files = sorted(glob.glob(os.path.join(work, "ops_out", q, "*.parquet")))
        spark = hashes.parquet_hash(files)
        duck = hashes.frame_hash(con.execute(sql[q]).fetchdf())
        s_df = pd.concat([pd.read_parquet(f) for f in files])
        print(f"{'PASS' if spark == duck else 'FAIL'} {q} spark={spark} oracle={duck}")
        if spark == duck and len(s_df) > 0:
            expected[q] = duck
        else:
            bad.append(q)
    with open(os.path.join(run.HERE, "expected_ops.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
