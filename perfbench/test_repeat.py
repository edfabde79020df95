#!/usr/bin/env python3
"""Exact-repeat check: two traced runs at fixed partitions must report the
same counts. Timings vary run to run; these counts may not, so a count that
moves between two runs of one commit is a tracing defect, and a count that
moves between commits is evidence about the change.

  python3 perfbench/test_repeat.py [workload ...]    (default: ops_sf001 etl_daily)

Runs `run.py --trace 1` twice per workload with one seed and
SPARK_GRAFT_CPUS fixed (shuffle partitions follow it), and compares the
counts below. Exit code 1 on any difference. events_stream is not listed:
its batch boundaries follow wall-clock arrival, so its counts legitimately
differ between runs.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

EXACT = {
    "ops_sf001": ["ops.jobs", "ops.stages", "ops.tasks", "ops.exchanges",
                  "ops.shuffle_read_bytes", "ops.shuffle_write_bytes", "memo.builds",
                  "prop.jobs"],
    "etl_daily": ["etl.task_attempts", "etl.consume_batches", "etl.jobs"],
}


def traced(workload, i, seed=7, seconds=5, cpus=4):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    rec = os.path.join(ROOT, ".bench_build", "records", f"repeat_{workload}_{i}.json")
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
                        "--record", rec], cwd=ROOT, env=env, capture_output=True, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{workload}: run failed\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
    with open(rec) as f:
        per_query = json.load(f)["extra"].get("per_query", {})
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"], per_query


def check(workload):
    (a, qa), (b, qb) = traced(workload, 1), traced(workload, 2)
    diff = {k: (a[k]["value"], b[k]["value"]) for k in EXACT[workload]
            if a[k]["value"] != b[k]["value"]}
    for k in EXACT[workload]:
        print(f"{workload} {k}: {a[k]['value']} / {b[k]['value']}"
              f"{'  DIFFERS' if k in diff else ''}")
    # narrow a difference down to the queries whose counts moved
    for q in sorted(qa):
        moved = {k: (qa[q][k], qb[q][k]) for k in ("jobs", "stages", "exchanges",
                                                    "shuffle_write_bytes")
                 if qa[q][k] != qb.get(q, {}).get(k)}
        if moved:
            print(f"{workload}   {q}: {moved}")
    return not diff


def test_counts_repeat():
    for w in EXACT:
        assert check(w), f"{w}: counts differ between two traced runs"


if __name__ == "__main__":
    todo = sys.argv[1:] or list(EXACT)
    ok = all([check(w) for w in todo])
    sys.exit(0 if ok else 1)
