#!/usr/bin/env bash
# Fresh-JVM isolation runs of the 8 BASELINE.md headline queries on the
# ~58M-edge replicated GraphAr fixture (ScaleBench headline): one forked
# Spark JVM per query, so each number is free of prior queries' heap
# pressure / GC state / shuffle-file cache (the SCALE.md round-6
# contamination lesson). The fixture is built once by the first
# invocation.
#
# Usage: scripts/headline_isolated.sh [replicas] [out_log]
set -u
R="${1:-100}"
LOG="${2:-/tmp/headline_isolated_x${R}.log}"
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-64g}"

run_one() { # label reps
  echo "=== isolated $1 (x${R} replicas, reps=$2) ===" | tee -a "$LOG"
  sbt -batch "runMain graft.ScaleBench headline $R $2 only=$1" 2>&1 \
    | grep -E "^HEADLINE" | tee -a "$LOG"
}

: > "$LOG"
for q in vertex_count edge_count three_vertices one_hop two_hop \
         max_degree degree_distribution path_exist; do
  run_one "$q" 2
done
echo "isolated headline run complete -> $LOG"
