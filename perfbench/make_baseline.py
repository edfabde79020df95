#!/usr/bin/env python3
"""Measure a baseline of the current checkout and write it as one JSON file.

  python3 perfbench/make_baseline.py --out perfbench/baseline/NAME.json
                                     [--runs 10] [--seed0 100] [--workloads ...]

Per workload: `--runs` untraced runs, each with its own seed, summarised
per end-to-end metric as median, quartiles and spread (quartile distance
over median, the figure BENCHMARK.json's bounds are checked against); one
traced run (per-layer record); and, for etl_daily and events_stream, one
`local[1]` reference run (--cpus 1), which the gated runs never include.
Every run's result line and load evidence is kept.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace, cpus=None):
    rec = os.path.join(ROOT, ".bench_build", "records", f"baseline_{workload}_{seed}_{trace}_{cpus or 'n'}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed",
           str(seed), "--seconds", str(seconds), "--trace", str(trace), "--record", rec]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    t = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    line = json.loads(p.stdout.strip().splitlines()[-1])
    with open(rec) as f:
        record = json.load(f)
    print(f"{workload} seed={seed} trace={trace} cpus={cpus or 'nproc'} rc={p.returncode} "
          f"wall={time.time() - t:.0f}s", file=sys.stderr, flush=True)
    return {"seed": seed, "rc": p.returncode, "result": line, "evidence": record["evidence"],
            "e2e": record["e2e"], "layers": record["layers"], "checks": record["checks"],
            "extra": {k: v for k, v in record["extra"].items() if k != "ops_out"}}


def summary(runs):
    out = {}
    for k in runs[0]["result"]["metrics"]:
        xs = [r["result"]["metrics"][k]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4)[0], statistics.median(xs), \
            statistics.quantiles(xs, n=4)[2]
        out[k] = {"unit": runs[0]["result"]["metrics"][k]["unit"], "median": med,
                  "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": xs}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=100)
    ap.add_argument("--workloads", nargs="*", default=None)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    names = a.workloads or [w["name"] for w in spec["workloads"]]
    base = {"host": {"nproc": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                     "python": platform.python_version()},
            "run_seconds": seconds, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "workloads": {}}
    for w in names:
        runs = [one(w, a.seed0 + i, seconds, 0) for i in range(a.runs)]
        entry = {"untraced": summary(runs), "runs": runs,
                 "traced": one(w, a.seed0, seconds, 1)}
        if w in ("etl_daily", "events_stream"):
            entry["local1_reference"] = one(w, a.seed0, seconds, 0, cpus=1)
        base["workloads"][w] = entry
    base["finished"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, e in base["workloads"].items():
        for k, s in e["untraced"].items():
            print(f"{w:14s} {k:18s} median {s['median']:.5g} {s['unit']:5s} spread {s['spread']:.4f}")


if __name__ == "__main__":
    main()
