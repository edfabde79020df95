#!/usr/bin/env bash
# Full local gate: compile, unit tests, tri-scale DuckDB-oracle verify,
# and the sf0.1 bench. Mirrors what the round driver checks.
#
# Usage: tools/gate.sh [--quick]
#   --quick: sf0.01 verify only (skip sf0.001/sf0.1 and the bench)
set -euo pipefail
cd "$(dirname "$0")/.."

quick=${1:-}
testdata="$HOME/testdata"

# The same sbt invocation as the ROADMAP tier-1 command: offline
# resolvers, then Test/compile and `testOnly *` with the test JVM sized
# to this host. One CPU count for every phase (tests, verify, bench):
# this host's, unless the caller already set one.
export COURSIER_MODE=offline SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"

echo "== compile + test =="
sbt --batch -Dsbt.log.noformat=true Test/compile
SPARK_DRIVER_MEM="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)" \
  SPARK_LOCAL_DIRS=/tmp/spark-local \
  sbt --batch -Dsbt.log.noformat=true "testOnly *"

verify_at() {
  local sf="$1" out="/tmp/graft_gate_$1"
  echo "== verify sf$sf =="
  sbt -batch "runMain graft.Verify $testdata/sf$sf $out"
  python3 tools/check.py "$out" "$testdata/sf$sf"
}

verify_at 0.01
if [[ "$quick" != "--quick" ]]; then
  verify_at 0.001
  verify_at 0.1
  echo "== bench sf0.1 =="
  SPARK_GRAFT_SF_DIR="$testdata/sf0.1" sbt -batch "runMain graft.Bench" | grep '"metric"'
fi
echo "== gate green =="
