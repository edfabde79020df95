#!/usr/bin/env bash
# Standing sf1 (10x) scale gate — the second point of the growth curve the
# driver's sf0.01 gate can't see. One command:
#   1. regenerate the (gitignored) sf1 dataset deterministically
#   2. dump every SparkEntry query at sf1 (graft.Verify)
#   3. record a PAIRED bench (sf0.1 then sf1, same boot) into bench_records/
#   4. run the DuckDB oracle sweep — LAST and alone (its spill traffic must
#      never overlap sbt/Spark: the closure oracles fill the disk), with the
#      components-CTE cache and a big sequential retry budget for the
#      declared O(n^2) yardstick oracles
#
# Usage: tools/sf1.sh [report=CORRECTNESS_SF1.json] [corpus=realistic]
#   corpus: realistic | stress-uniform (see graft.GenData)
set -euo pipefail
cd "$(dirname "$0")/.."

report=${1:-CORRECTNESS_SF1.json}
corpus=${2:-realistic}
sfdir="$PWD/testdata_sf1"
dump=/tmp/graft_sf1_out
# this host's CPU count unless the caller already set one (as tools/gate.sh)
cpus=${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}
testdata="$HOME/testdata"
tag=$(date -u +%m%dT%H%M)

echo "== gendata 10x ($corpus) =="
SPARK_GRAFT_CPUS=$cpus sbt -batch \
  "runMain graft.GenData $testdata/sf0.1 $sfdir 10 $corpus"

echo "== verify dump at sf1 =="
SPARK_GRAFT_CPUS=$cpus sbt -batch "runMain graft.Verify $sfdir $dump"

echo "== paired bench: sf0.1 then sf1 (same boot) =="
# Bench persists its metric line to SPARK_GRAFT_BENCH_OUT itself — no
# grep|head pipeline, which under pipefail could fail the whole gate on
# head's early-exit SIGPIPE (Bench prints TWO metric-shaped lines).
SPARK_GRAFT_SF_DIR="$testdata/sf0.1" SPARK_GRAFT_CPUS=$cpus \
  SPARK_GRAFT_BENCH_OUT="bench_records/sf1pair_${tag}_sf01.json" \
  sbt -batch "runMain graft.Bench"
SPARK_GRAFT_SF_DIR=$sfdir SPARK_GRAFT_CPUS=$cpus \
  SPARK_GRAFT_BENCH_OUT="bench_records/sf1pair_${tag}_sf1.json" \
  sbt -batch "runMain graft.Bench"
for side in sf01 sf1; do
  test -s "bench_records/sf1pair_${tag}_${side}.json" \
    || { echo "ERROR: empty bench record ($side)"; exit 1; }
done

echo "== oracle sweep (sequenced after all Spark work) =="
# per-query budgets: sweep.py's DECLARED_BUDGETS carries the known-heavy
# oracles (q155's six embedded ground truths: ~600 s at sf1-stress) so a
# tightened --timeout can't re-present their cost as a regression
python3 tools/sweep.py "$dump" "$sfdir" "$report" \
  --timeout 600 --workers 4 --cte-cache --retry-timeouts 3600

echo "== sf1 gate done: $report + bench_records/sf1pair_${tag}_* =="
