#!/usr/bin/env bash
# Fresh-JVM isolation runs of the Zipf stress queries — java variant.
# One plain `java` process per query (scripts/bench_java.sh running
# graft.ScaleBench zipf) against a SNAPSHOT of the compiled classes
# (taken once at launch), so (a) each query gets a genuinely cold JVM
# with no prior heap/GC/code-cache/shuffle-file state, and (b) sbt's
# project lock stays free for concurrent development.
#
# Usage: scripts/zipf_isolated_java.sh <edgesMillions> [out_log]
# Fixture (+ cached hub/mid anchors) is built by the first invocation.
# Heavy queries run 1 rep, the rest 2 — reps repeat INSIDE the query's
# JVM (self-interference is not the failure mode; cross-query state is).
set -u
M="${1:-60}"
LOG="${2:-/tmp/zipf_isolated_${M}m.log}"
cd "$(dirname "$0")/.."
SNAPPED=0

run_one() { # label reps extra_flags
  echo "=== isolated $1 (${M}M edges, reps=$2) ===" | tee -a "$LOG"
  # shellcheck disable=SC2086
  BENCH_MAIN=graft.ScaleBench SKIP_SNAPSHOT="$SNAPPED" \
    scripts/bench_java.sh zipf "$M" "$2" ${3:-} "only=$1" 2>&1 \
    | grep -E "^ZIPF" | tee -a "$LOG"
  SNAPPED=1
}

: > "$LOG"
# flat/offset queries (heap-insensitive, kept as sanity anchors)
for q in edge_count degrees degrees_salted one_hop_hub one_more_hop_hub \
         two_hop_mid bfs_hub_to_tail; do
  run_one "$q" 2 ""
done
# iterative analytics — the interference-sensitive set
for q in connected_components pagerank_10iter sssp_8iter kcore_k20 \
         communities_3round scc hits_8iter ktruss_k4_3r; do
  run_one "$q" 2 ""
done
run_one triangles 1 ""
run_one clustering_coef 1 ""
# round-6 approximate tier
for q in katz_6iter triangles_approx_p25 anf_hll_h3 rpq_mid mis; do
  run_one "$q" 2 "r6 noexact"
done
run_one mst 1 "r6 noexact"
echo "isolated run complete -> $LOG"
