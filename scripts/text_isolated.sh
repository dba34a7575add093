#!/usr/bin/env bash
# Fresh-JVM isolation runs of the text/retrieval scale rung
# (ScaleBench text): one forked Spark JVM per op. The corpus and the
# postings index are marker-/state-cached in /tmp between JVMs, so the
# maintenance sequence (append → delta probes → compact → vacuum →
# post-compact probe) carries its on-disk state across invocations in
# the order listed here.
#
# Usage: scripts/text_isolated.sh <docsMillions> [out_log] [set]
# set = "serve" (default: build + serving probes + maintenance)
#     | "all"   (adds the dedup/analysis tier already recorded at 2M)
set -u
M="${1:-20}"
LOG="${2:-/tmp/text_isolated_${M}m.log}"
SET="${3:-serve}"
cd "$(dirname "$0")/.."
export SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-64g}"

run_one() { # label reps
  echo "=== isolated $1 (${M}M docs, reps=$2) ===" | tee -a "$LOG"
  sbt -batch "runMain graft.ScaleBench text $M $2 only=$1" 2>&1 \
    | grep -E "^TEXTSCALE" | tee -a "$LOG"
}

: > "$LOG"
# set = "prefix": the dictionary-resolved prefix probes, over an index
# whose base was (re)written by an r9+ build or compaction (dict present)
if [ "$SET" = "prefix" ]; then
  run_one prefix_stored_selective 2
  run_one prefix_stored_broad 2
  echo "isolated prefix run complete -> $LOG"
  exit 0
fi
# set = "del": only the delete lifecycle, over an index a prior serve
# run left on disk (compacted single-generation base)
if [ "$SET" = "del" ]; then
  run_one postings_delete_1pct 1
  run_one search_stored_tombed_probe 2
  run_one phrase_stored_tombed_probe 2
  run_one postings_compact_tombs 1
  run_one postings_vacuum_tombs 1
  run_one search_stored_postdelete 2
  echo "isolated delete-lifecycle run complete -> $LOG"
  exit 0
fi
run_one postings_build 1
for q in search_stored_probe bm25_stored_probe phrase_stored_probe \
         phrase_stored_hot proximity_stored; do
  run_one "$q" 2
done
run_one bm25_top20 1
run_one phrase_scan 1
# maintenance sequence — order is load-bearing (state carries on disk)
run_one postings_append_1pct 1
run_one search_stored_delta_probe 2
run_one phrase_stored_delta_probe 2
run_one postings_compact 1
run_one postings_vacuum 1
run_one search_stored_postcompact 2
# delete lifecycle: tombstone 1%, probe through the fence, fold + reclaim
run_one postings_delete_1pct 1
run_one search_stored_tombed_probe 2
run_one phrase_stored_tombed_probe 2
run_one postings_compact_tombs 1
run_one postings_vacuum_tombs 1
run_one search_stored_postdelete 2
if [ "$SET" = "all" ]; then
  for q in exact_dedup minhash_pairs snm_pairs pmi_bigrams quality_scan \
           tokens_count leak_safe_split; do
    run_one "$q" 1
  done
fi
echo "isolated text run complete -> $LOG"
