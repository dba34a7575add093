#!/usr/bin/env bash
# Fresh-JVM isolation runs of the Zipf stress queries (ScaleBench zipf):
# one forked Spark JVM per query (run/fork := true), so iterative ops are
# measured without prior queries' heap pressure, GC state, or
# shuffle-file cache.
# SCALE.md round-6 flagged the contamination: katz measured 282 s after
# a cold-start suite vs 40 s standalone in the shared-JVM runs.
#
# Usage: scripts/zipf_isolated.sh <edgesMillions> [out_log] [set]
# The fixture (and its cached hub/mid anchors) is built once by the
# first invocation. Heavy queries run 1 rep, the rest 2 — reps repeat
# INSIDE the query's JVM (self-interference is not the failure mode;
# cross-query state is).
# set = "all" (default) | "r7" (the round-7 structural family only:
# coreness/WL/matching/bipartite/neigh-agg + the round-8 sampled
# betweenness) | "r9" (the converged-form trio: wall-time-to-fixpoint
# + [graft-converged] rounds lines) — for filling in a single rung
# without re-running the recorded suite.
set -u
M="${1:-60}"
LOG="${2:-/tmp/zipf_isolated_${M}m.log}"
SET="${3:-all}"
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-64g}"

run_one() { # label reps extra_flag
  echo "=== isolated $1 (${M}M edges, reps=$2) ===" | tee -a "$LOG"
  sbt -batch "runMain graft.ScaleBench zipf $M $2 ${3:-} only=$1" 2>&1 \
    | grep -E "^ZIPF|graft-converged" | tee -a "$LOG"
}

: > "$LOG"
if [ "$SET" = "r9" ]; then
  for q in coreness_conv matching_conv coloring_conv; do
    run_one "$q" 1 ""
  done
  echo "isolated r9-converged run complete -> $LOG"
  exit 0
fi
if [ "$SET" = "r7" ]; then
  for q in coreness_14r wl_refine_3r matching_6r bipartite neigh_agg_2l; do
    run_one "$q" 2 ""
  done
  run_one betweenness_approx_k8 2 ""
  run_one betweenness_approx_k32 1 ""
  echo "isolated r7-structural run complete -> $LOG"
  exit 0
fi
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
  run_one "$q" 2 r6
done
run_one mst 1 r6
echo "isolated run complete -> $LOG"
