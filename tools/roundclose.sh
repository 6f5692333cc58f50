#!/bin/bash
# Round close: sf0.01 correctness first (the gate: Verify plus the DuckDB
# parity check), then the full ladder refresh (tools/ladder_refresh.sh),
# then sf0.1 correctness. Sequential on purpose: two sbt invocations race
# each other on target/. Verify runs on every core of this host.
#
#   bash tools/roundclose.sh
set -e
cd "$(dirname "$0")/.."
# the sf testdata tables sit next to the checkout
DATA="$(cd .. && pwd)/testdata"
CPUS=$(nproc)

verify() {
  local sf=$1 out=/tmp/roundclose_verify_$1
  echo "=== verify $sf $(date +%T)"
  rm -rf "$out"
  SPARK_GRAFT_CPUS=$CPUS sbt -batch "runMain graft.Verify $DATA/$sf $out" \
    > "$out.log" 2>&1
  python3 tools/parity.py "$DATA/$sf" "$out" > "/tmp/roundclose_parity_$sf.log" 2>&1
  tail -1 "/tmp/roundclose_parity_$sf.log"
}

verify sf0.01

echo "=== ladder refresh $(date +%T)"
bash tools/ladder_refresh.sh

verify sf0.1

echo "=== round close done $(date +%T)"
