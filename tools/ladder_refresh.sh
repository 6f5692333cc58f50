#!/bin/bash
# Round-close ladder refresh: rebuild the x10..x128 corpora, re-run the
# parity rung benches, run the TUNED operating-point series (x40/x64/x128
# — LSH bits by the log2(corpus/125) rule, ANN sampleMod 4, editdist mod
# 2, calibration mod 4), and refresh BENCH_LOCAL at sf0.1. Every rung runs
# once: Bench takes a cold and three warm passes itself and reads no
# earlier sidecar. Sequential on purpose: two sbt invocations race each
# other on target/.
set -e
cd "$(dirname "$0")/.."
# the sf testdata tables sit next to the checkout
DATA="$(cd .. && pwd)/testdata"
CPUS=$(nproc)

# Corpus builds are skipped only on a COMPLETION MARKER carrying a
# CONTENT hash of the generator's source set — bare directory existence
# would silently reuse a partially-written corpus from an interrupted
# run (set -e aborts mid-loop) or one built by an older generator, and
# the previous git-log key missed uncommitted working-tree edits and
# changes to the generator's source dependencies (r12 ADVICE 3): the
# hash covers the files' bytes as they are NOW, committed or dirty.
# FixtureCorpora.scala is in the set because the generator materializes
# its derivations as the dirty-fixture tables, ToolSession.scala because
# it builds the generator's session.
GENREV=$(cat src/main/scala/graft/tools/BenchAtScale.scala \
             src/main/scala/graft/tools/ToolSession.scala \
             src/main/scala/graft/functions/FixtureCorpora.scala \
         | sha256sum | cut -d' ' -f1)
for K in 10 20 40 64 128; do
  MARKER=/tmp/graft_sf_x$K/_SUCCESS
  if [ ! -f "$MARKER" ] || [ "$(cat "$MARKER")" != "$GENREV" ]; then
    echo "=== build x$K corpus $(date +%T)"
    rm -rf /tmp/graft_sf_x$K
    SPARK_GRAFT_SF_DIR=$DATA/sf0.1 \
      sbt -batch "runMain graft.tools.BenchAtScale $K /tmp/graft_sf_x$K" \
      > /tmp/build_x$K.log 2>&1
    echo "$GENREV" > "$MARKER"
  fi
done

for K in 10 20 40 64 128; do
  echo "=== parity bench x$K $(date +%T)"
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf_x$K SPARK_GRAFT_CPUS=$CPUS \
    SPARK_GRAFT_BENCH_OUT=BENCH_x$K.json \
    sbt -batch "runMain graft.Bench" > /tmp/bench_x$K.log 2>&1
  grep -o '"value":[0-9.]*' BENCH_x$K.json | head -1
done

declare -A BITS=([40]=9 [64]=10 [128]=11)
for K in 40 64 128; do
  echo "=== tuned bench x$K $(date +%T)"
  SPARK_GRAFT_SF_DIR=/tmp/graft_sf_x$K SPARK_GRAFT_CPUS=$CPUS \
    SPARK_GRAFT_BENCH_OUT=BENCH_x${K}_tuned.json \
    SPARK_GRAFT_LSH_BITS=${BITS[$K]} SPARK_GRAFT_ANN_SAMPLE_MOD=4 \
    SPARK_GRAFT_EDITDIST_SAMPLE_MOD=2 SPARK_GRAFT_CALIBRATION_SAMPLE_MOD=4 \
    sbt -batch "runMain graft.Bench" > /tmp/bench_x${K}_tuned.log 2>&1
  grep -o '"value":[0-9.]*' BENCH_x${K}_tuned.json | head -1
done

echo "=== BENCH_LOCAL refresh $(date +%T)"
SPARK_GRAFT_SF_DIR=$DATA/sf0.1 SPARK_GRAFT_CPUS=$CPUS \
  sbt -batch "runMain graft.Bench" > /tmp/bench_local.log 2>&1
grep -o '"value":[0-9.]*' BENCH_LOCAL.json | head -1
echo "=== done $(date +%T)"
