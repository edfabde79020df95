#!/usr/bin/env python3
"""Pair runner: parent vs change, alternating which side runs first.

  python3 perfbench/pairs.py --parent DIR --change DIR --workload NAME
                             [--pairs 10] [--seed0 1000] [--out FILE]

DIR is a checkout of each commit (for example a `git archive` export);
both must carry the same perfbench/ (a change that claims a gain does not
edit the benchmark). Pair i uses seed seed0+i on both sides;
even pairs run the parent first, odd pairs the change first.

Reports, per end-to-end metric of BENCHMARK.json: each side's median and
quartiles, the parent's own spread (quartile distance), the change's win
rate over the pairs (ties count for neither side), and whether the claim
rule holds: wins >= 9/10 of pairs and |median difference| > parent spread.
Every run's full result line is kept in the output.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_side(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"{checkout}: no result line (rc {p.returncode})\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def summarize(spec, runs):
    out = {}
    for m in spec["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        par = [r["parent"]["metrics"][name]["value"] for r in runs]
        chg = [r["change"]["metrics"][name]["value"] for r in runs]
        wins = sum(1 for p, c in zip(par, chg) if (c > p if higher else c < p))
        pq, cq = quartiles(par), quartiles(chg)
        spread = pq[2] - pq[0]
        out[name] = {
            "unit": m["unit"], "better": m["better"], "bound": m["bound"],
            "parent": {"q1": pq[0], "median": pq[1], "q3": pq[2]},
            "change": {"q1": cq[0], "median": cq[1], "q3": cq[2]},
            "parent_spread": spread, "wins": wins, "pairs": len(runs),
            "win_rate": wins / len(runs),
            "gain_claim_holds": wins >= 0.9 * len(runs) and abs(cq[1] - pq[1]) > spread,
            "regression_beyond_bound": (pq[1] - cq[1] if higher else cq[1] - pq[1])
            > m["bound"] * abs(pq[1]),
        }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_side(getattr(a, side), a.workload, seed, seconds)
        runs.append(pair)
        print(f"pair {i} seed {seed}: " + ", ".join(
            f"{s}={pair[s]['metrics'][spec['end_to_end'][1]['name']]['value']:.4g}"
            for s in ("parent", "change")), file=sys.stderr, flush=True)
    report = {"workload": a.workload, "seconds": seconds,
              "summary": summarize(spec, runs), "runs": runs}
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    for name, s in report["summary"].items():
        print(f"{name:18s} parent {s['parent']['median']:.5g} [{s['parent']['q1']:.5g}, "
              f"{s['parent']['q3']:.5g}]  change {s['change']['median']:.5g} "
              f"[{s['change']['q1']:.5g}, {s['change']['q3']:.5g}]  wins {s['wins']}/"
              f"{s['pairs']}  claim {'holds' if s['gain_claim_holds'] else 'not shown'}"
              f"{'  REGRESSION' if s['regression_beyond_bound'] else ''}")


if __name__ == "__main__":
    main()
