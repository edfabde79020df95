#!/usr/bin/env python3
"""Timeout-aware oracle sweep for out-of-band scale validation (dev tool,
like check.py). Runs each query's DuckDB-oracle compare in its own
subprocess with a wall-clock budget, so the handful of declared O(n^2)
yardstick oracles (brute-force pair scans that DuckDB evaluates with
interpreted list folds) can't block the other ~150 compares at sf1.

Usage: python3 tools/sweep.py <verify_out_dir> <sf_dir> <report.json>
         [--timeout SECS] [--workers N] [--only q1,q2] [--cte-cache]
         [--retry-timeouts SECS]

--retry-timeouts SECS: rerun any oracle_timeout entries sequentially with
  this larger budget after the parallel pass (for the declared O(n^2)
  yardstick oracles).

--cte-cache: materialize the shared near-dup components CTE block once
  (check.py --build-cte-cache) and run every compare against it — at sf1
  the recursive closure spills ~78 GB per execution, and 13 oracles embed
  it, so without the cache those compares hit the disk wall.

Report: {query: {"status": "pass"|"fail"|"oracle_error"|"oracle_timeout",
                 "secs": float, "spark_rows": int|null}}
A timeout is NOT a pass — it records that the ORACLE (not the engine)
exceeded the budget; the Spark result exists and its row count is kept.
"""
import json, os, re, subprocess, sys, time, glob
from concurrent.futures import ThreadPoolExecutor

# Declared per-query first-pass oracle budgets (seconds), replacing the
# sweep-wide --timeout for these names only. These are the known-heavy
# compares whose ORACLE cost is a property of the oracle's design, not an
# engine regression — recording the budget here means a future tightening
# of the sweep default can't re-present them as correctness failures
# (r15 verdict #6). q155 embeds six per-method O(n^2)/exhaustive ground
# truths and measured ~600 s at sf1-stress — the single heaviest compare.
DECLARED_BUDGETS = {"q155_ann_recall": 3600}

def main():
    out, sf, report_path = sys.argv[1], sys.argv[2], sys.argv[3]
    timeout = 300
    workers = 4
    retry_secs = 0
    if "--timeout" in sys.argv:
        timeout = int(sys.argv[sys.argv.index("--timeout") + 1])
    if "--workers" in sys.argv:
        workers = int(sys.argv[sys.argv.index("--workers") + 1])
    if "--retry-timeouts" in sys.argv:
        retry_secs = int(sys.argv[sys.argv.index("--retry-timeouts") + 1])
    # every registered query has an oracle, so its keys are the suite: a
    # query whose dump is missing is compared (and fails), not dropped
    names = sorted(json.load(open(os.path.join(out, "oracle_sql.json"))))
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        names = [n for n in names if n in only]

    check_py = os.path.join(os.path.dirname(__file__), "check.py")
    cte_args = []
    if "--cte-cache" in sys.argv:
        # build sequentially BEFORE the pool (one closure computation for
        # the whole sweep); a build failure just falls back to plain runs
        dbpath = os.path.join(out, "cte_cache.duckdb")
        try:
            b = subprocess.run(
                [sys.executable, check_py, out, sf,
                 "--build-cte-cache", dbpath],
                capture_output=True, text=True, timeout=timeout * 6)
            if b.returncode == 0:
                cte_args = ["--cte-db", dbpath]
                print(b.stdout.strip())
            else:
                sys.stderr.write(f"CTE cache build failed, running without:\n"
                                 f"{b.stdout[-500:]}\n{b.stderr[-500:]}\n")
        except subprocess.TimeoutExpired:
            sys.stderr.write("CTE cache build timed out, running without\n")

    def spark_rows(name):
        try:
            import pyarrow.parquet as pq
            return sum(pq.ParquetFile(f).metadata.num_rows
                       for f in glob.glob(os.path.join(out, name, "*.parquet")))
        except Exception:
            return None

    def one(name, budget=None):
        t0 = time.time()
        try:
            p = subprocess.run(
                [sys.executable, check_py, out, sf, name] + cte_args,
                capture_output=True, text=True,
                timeout=budget or DECLARED_BUDGETS.get(name) or timeout)
            # exact one-query summary, not a substring ("0 fail" would
            # also match "20 fail"); check.py is invoked with exactly one
            # query so the expected line is "== 1 pass, 0 fail =="
            ok = (p.returncode == 0 and f"PASS {name}" in p.stdout
                  and re.search(r"== \d+ pass, 0 fail ==", p.stdout))
            blob = p.stdout + p.stderr
            resource_wall = ("No space left" in blob or "MemoryError" in blob
                             or "OutOfMemory" in blob
                             or "could not allocate" in blob.lower())
            if ok:
                status = "pass"
            elif resource_wall:
                # DuckDB/pandas themselves hit a resource wall (spill-space
                # exhaustion or OOM on the recursive pair-scan oracles) —
                # not an engine mismatch; keep it distinct from "fail".
                # Any OTHER oracle exception (e.g. a syntax error from an
                # SQL refactor) is a real, gating failure.
                status = "oracle_error"
            else:
                status = "fail"
            if not ok:
                sys.stderr.write(f"--- {name} ---\n{p.stdout[-2000:]}\n"
                                 f"{p.stderr[-800:]}\n")
        except subprocess.TimeoutExpired:
            status = "oracle_timeout"
        return name, {"status": status, "secs": round(time.time() - t0, 1),
                      "spark_rows": spark_rows(name)}

    with ThreadPoolExecutor(max_workers=workers) as ex:
        results = dict(ex.map(one, names))
    if retry_secs:
        # the declared O(n^2)-oracle yardsticks need big SEQUENTIAL
        # budgets; rerun just the timeouts, one at a time
        for name in sorted(n for n, r in results.items()
                           if r["status"] == "oracle_timeout"):
            print(f"retrying {name} with {retry_secs}s sequential budget")
            _, results[name] = one(name, budget=retry_secs)
    counts = {}
    for r in results.values():
        counts[r["status"]] = counts.get(r["status"], 0) + 1
    json.dump({"sf_dir": sf, "timeout_secs": timeout, "summary": counts,
               "queries": results},
              open(report_path, "w"), indent=1, sort_keys=True)
    print(f"== sweep: {counts} -> {report_path} ==")
    sys.exit(1 if counts.get("fail", 0) else 0)

if __name__ == "__main__":
    main()
