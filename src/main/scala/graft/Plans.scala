package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._

/** Regenerates `docs/PLANS.md` — the executed-plan artifact backing the
  * scale-design claims in README.md. Run after any change that could
  * move a plan: `sbt "runMain graft.Plans [sfDir] [outPath]"`.
  *
  * `Plans dump <sfDir> <outDir> <suffix> <name> [name ...]` instead
  * writes the plan evidence of declared queries (see [[dump]]).
  */
object Plans {
  sealed trait Mode
  final case class Regenerate(sfDir: String, out: String) extends Mode
  final case class Dump(sfDir: String, outDir: String, suffix: String,
                        names: Seq[String]) extends Mode

  /** Pure argument parsing: an unknown query name fails here, before
    * any session is built. */
  def parse(args: Seq[String]): Mode = args match {
    case Seq("dump", sfDir, outDir, suffix, names @ _*) if names.nonEmpty =>
      SparkEntry.requireKnown(names)
      Dump(sfDir, outDir, suffix, names)
    case Seq("dump", _*) => throw new IllegalArgumentException(
      "usage: Plans dump <sfDir> <outDir> <suffix> <name> [name ...]")
    case _ => Regenerate(args.headOption.getOrElse("/root/testdata/sf0.01"),
      if (args.length > 1) args(1) else "docs/PLANS.md")
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Regenerate(sfDir, out) => regenerate(sfDir, out)
    case d: Dump => dump(d)
  }

  private def regenerate(sfDir: String, out: String): Unit = {
    val spark = Harness.session(cores = 8)

    val yaml = sources.graphar.GraphArQueries.fixture(spark, sfDir)
    val g = graph.GraphArGraph(spark, yaml)

    val sections: Seq[(String, DataFrame)] = Seq(
      "vertex_count (metadata aggregate pushdown, answered with no job)" ->
        g.vertices("Part").agg(count(lit(1)).as("n")),
      "one_hop_count (seek count from two offset entries, answered with no job)" ->
        g.edges("Part", "link", "Part").filter(col("_graphArSrcIndex") === 42L)
          .agg(count(lit(1)).as("n")),
      "vertex_full_scan (columnar boundary: batches cross the DSv2 scan)" ->
        g.vertices("Part").select(col("_graphArVertexIndex"), col("p_partkey"),
          col("p_name")),
      "one_hop (CSR seek + exact statistics)" ->
        g.edges("Part", "link", "Part").filter(col("_graphArSrcIndex") === 42L),
      "edge_in_seek (IN-set offset seeks; filter stays residual)" ->
        g.edges("Part", "link", "Part")
          .filter(col(meta.GraphArMeta.SrcIndexCol).isin(7L, 42L, 99L)),
      "two_hop (driver-probed frontier: src IN seek + broadcast local frontier)" ->
        g.twoHop("Part", "link", "Part", 42L),
      "q1_agg (pushdown + partial aggregation)" ->
        operators.Relational.queries("q1_agg")(spark, sfDir),
      "q2_join (broadcast dims)" ->
        operators.Relational.queries("q2_join")(spark, sfDir),
      "minhash_dedup (compiled signature expr + id-only band join)" ->
        operators.Dedup.queries("d_minhash_lsh")(spark, sfDir),
      "p_decontaminate (broadcast benchmark n-gram set, map-side explode)" ->
        operators.Pipeline.queries("p_decontaminate")(spark, sfDir),
      "d_semdedup (broadcast centroid argmin + within-cluster pair pruning)" ->
        operators.Similarity.queries("d_semdedup")(spark, sfDir),
      "sim_pq (broadcast codebook/LUT, grouped order-pinned ADC fold)" ->
        operators.Similarity.queries("sim_pq")(spark, sfDir),
      "t_pii (PII redaction: pure map-side, zero exchanges)" ->
        operators.TextAnalysis.queries("t_pii")(spark, sfDir),
      "q24_profile (one scan + Expand serves every profiled column)" ->
        operators.Relational.queries("q24_profile")(spark, sfDir),
      "d_substring (window hashes shuffle, text stays map-side)" ->
        operators.Dedup.queries("d_substring")(spark, sfDir),
      "d_incremental (delta bands probe corpus bands; no corpus self-join)" ->
        operators.Dedup.queries("d_incremental")(spark, sfDir),
      // eager = false: the production call materializes-then-releases its
      // caches; the lazy variant exposes the same plan for the artifact
      "g_clustering (degree-ordered triangle equi-joins)" ->
        graph.GraphOps.clusteringCoefficients(
          graph.GraphQueries.edgesFrom(spark, sfDir), eager = false),
      "sim_pq_rerank (ADC shortlist, exact re-rank bounded by c per query)" ->
        operators.Similarity.queries("sim_pq_rerank")(spark, sfDir),
      "p_source_cap (map-side WindowGroupLimit Partial truncates hot groups)" ->
        operators.Pipeline.queries("p_source_cap")(spark, sfDir),
      "q27_correlated (subqueries decorrelated to equi-joins)" ->
        operators.Relational.queries("q27_correlated")(spark, sfDir),
      "d_bloom_gate (bloom routes novel rows past the anti-join)" ->
        operators.Dedup.queries("d_bloom_gate")(spark, sfDir),
      "ga_changes (CDF: ±1 tag + group-by-all, one shuffle, no join)" ->
        sources.graphar.GraphArQueries.queries("ga_changes")(spark, sfDir),
      "g_motif_broker (motif equi-join chain + anti-join, no cartesian)" ->
        graph.GraphQueries.queries("g_motif_broker")(spark, sfDir),
      "g_sample_neighbors (GNN fan-out: ONE hash exchange + windowed top-k)" ->
        graph.GraphQueries.queries("g_sample_neighbors")(spark, sfDir),
      "g_jaccard_pairs (pairs meet only through shared destinations)" ->
        graph.GraphQueries.queries("g_jaccard_pairs")(spark, sfDir),
      "g_assortativity (two degree joins collapse to a 1-row moment aggregate)" ->
        graph.GraphQueries.queries("g_assortativity")(spark, sfDir),
      "t_stopword_strip (list HOFs inside whole-stage codegen, zero exchanges)" ->
        operators.TextAnalysis.queries("t_stopword_strip")(spark, sfDir),
      "g_adamic_adar (shared-dst equi-joins + map-combined pair counts)" ->
        graph.GraphOps.adamicAdarPairs(
          graph.GraphQueries.edgesFrom(spark, sfDir), minCommon = 8),
      "s_heavy_hitters (broadcast CMS gate BELOW the one aggregation shuffle)" ->
        operators.Sketches.queries("s_heavy_hitters")(spark, sfDir),
      "p_weighted_sample (map-side priorities, WindowGroupLimit Partial rank)" ->
        operators.Pipeline.queries("p_weighted_sample")(spark, sfDir),
      "p_zorder read-back (2-D range filter pushed to the clustered scan)" ->
        operators.Layout.queries("p_zorder")(spark, sfDir),
      "sim_kmeans (broadcast centroid state; recompute = map-combinable int sums)" ->
        operators.Similarity.queries("sim_kmeans")(spark, sfDir),
      "sim_sq8 (broadcast per-dim stats; ADC shortlist + in-row exact rerank)" ->
        operators.Similarity.queries("sim_sq8")(spark, sfDir),
      "s_bloom_join (bloom gate prunes the fact side BELOW the join)" ->
        operators.Sketches.queries("s_bloom_join")(spark, sfDir),
      "q28_markov (one user-keyed shuffle; denominators from the tiny matrix)" ->
        operators.Relational.queries("q28_markov")(spark, sfDir),
      "m_phash_dup (one int per image shuffles; banded candidate join)" ->
        operators.Multimodal.queries("m_phash_dup")(spark, sfDir),
      "t_ppl_buckets (broadcast tercile cuts; map-side bucket assignment)" ->
        operators.TextAnalysis.queries("t_ppl_buckets")(spark, sfDir),
      "d_keep_best (tiny cluster table broadcast into both corpus joins)" ->
        operators.Dedup.queries("d_keep_best")(spark, sfDir),
      "g_katz (static links; only the O(V) score vector re-shuffles per iter)" ->
        graph.GraphQueries.queries("g_katz")(spark, sfDir),
      "g_triangles_approx (hash coin prunes BEFORE the wedge join)" ->
        graph.GraphQueries.queries("g_triangles_approx")(spark, sfDir),
      "s_kmv_distinct (map-side hash, per-partition top-k, k-row merge)" ->
        operators.Sketches.queries("s_kmv_distinct")(spark, sfDir),
      "t_boilerplate (line digests shuffle, text stays in its partition)" ->
        operators.TextAnalysis.queries("t_boilerplate")(spark, sfDir),
      "ga_sql_delete (remove deltas fold as anti-joins over the CSR scan)" ->
        sources.graphar.GraphArQueries.queries("ga_sql_delete")(spark, sfDir),
      "ga_sql_update (row-level upsert delta folds as anti-join + union)" ->
        sources.graphar.GraphArQueries.queries("ga_sql_update")(spark, sfDir),
      "sim_mmr (greedy rounds bounded by the shortlist, never the corpus)" ->
        operators.Similarity.queries("sim_mmr")(spark, sfDir),
      "q30_recursive (Spark 4 recursive CTE: UnionLoop over the edge scan)" ->
        operators.Relational.queries("q30_recursive")(spark, sfDir),
      "p_split (pure map-side hash assignment, no sample state)" ->
        operators.Pipeline.queries("p_split")(spark, sfDir),
      "g_widest (static edge table; O(V) capacity vector per max-min round)" ->
        graph.GraphQueries.queries("g_widest")(spark, sfDir),
      "p_hilbert read-back (2-D range filter over Hilbert-clustered files)" ->
        operators.Layout.queries("p_hilbert")(spark, sfDir),
      "ga_bloom_lookup (string point probe; bloom sidecars skip chunks pre-open)" ->
        sources.graphar.GraphArQueries.queries("ga_bloom_lookup")(spark, sfDir),
      "g_matching (per-vertex min proposal map-side combined; mutuality equi-join)" ->
        graph.GraphQueries.queries("g_matching")(spark, sfDir),
      "d_containment (pairs meet ONLY through shared shingles; partial pair counts)" ->
        operators.Dedup.queries("d_containment")(spark, sfDir),
      "g_pagerank_weighted (transition shares folded into the static link table)" ->
        graph.GraphQueries.queries("g_pagerank_weighted")(spark, sfDir),
      "sim_range (broadcast queries, no window, no shuffle — threshold filter only)" ->
        operators.Similarity.queries("sim_range")(spark, sfDir),
      "g_bipartite (double cover: one CC over 2|E| lifted edges, two O(V) decodes)" ->
        graph.GraphQueries.queries("g_bipartite")(spark, sfDir),
      "t_bm25 (query-term postings only; ≤|q| df rows broadcast; micro-int sum)" ->
        operators.Retrieval.queries("t_bm25")(spark, sfDir),
      "t_search (stored postings: static bucket partition filter on the probe)" ->
        operators.Retrieval.queries("t_search")(spark, sfDir),
      "p_dsir (bucket tables broadcast onto the token stream; one weight shuffle)" ->
        operators.Pipeline.queries("p_dsir")(spark, sfDir),
      "s_kmv_intersect (three sort-limit sketches; all joins on ≤k rows)" ->
        operators.Sketches.queries("s_kmv_intersect")(spark, sfDir),
      "t_pmi (map-side pair gen; marginals from the aggregated pair table)" ->
        operators.TextAnalysis.queries("t_pmi")(spark, sfDir),
      "t_hybrid_rrf (fusion joins run on O(c) rows; corpus only in the probes)" ->
        operators.Retrieval.queries("t_hybrid_rrf")(spark, sfDir),
      "d_sorted_neighborhood (range-sort once; (w-1)*N linear candidates)" ->
        operators.Dedup.queries("d_sorted_neighborhood")(spark, sfDir),
      "g_neigh_agg (static adjacency reused across both layers; O(V) vectors move)" ->
        graph.GraphQueries.queries("g_neigh_agg")(spark, sfDir),
      "g_wl_refine (commutative multiset hash: partial-agg sum, no collect_list)" ->
        graph.GraphQueries.queries("g_wl_refine")(spark, sfDir),
      "g_transitivity (degree-ordered wedge bound + map-combinable wedge sum)" ->
        graph.GraphQueries.queries("g_transitivity")(spark, sfDir),
      "g_coreness (bucketed H-index histogram; window over distinct values, not degree)" ->
        graph.GraphQueries.queries("g_coreness")(spark, sfDir),
      "t_phrase (zero-shuffle map-side token-window scan)" ->
        operators.Retrieval.queries("t_phrase")(spark, sfDir),
      "t_phrase_stored (positional-index probe: bucket partition filter, position-array intersect)" ->
        operators.Retrieval.queries("t_phrase_stored")(spark, sfDir),
      "t_proximity (stored slop-window probe over the same positional index)" ->
        operators.Retrieval.queries("t_proximity")(spark, sfDir),
      "g_betweenness_approx (seeded pivot sample + batched Brandes: 2*depth joins for any k)" ->
        graph.GraphQueries.queries("g_betweenness_approx")(spark, sfDir),
      "p_classify scoring stage (zero-shuffle map-side scan, weights inlined)" ->
        operators.Pipeline.perceptronScore(
          graft.Tables.t(spark, sfDir, "documents"),
          Array(3L, -2L, 5L, 0L, 1L, -4L, 2L, 7L, -1L)),
      "g_lpa_seeded (seed table broadcast; O(labeled) vector per round)" ->
        graph.GraphQueries.queries("g_lpa_seeded")(spark, sfDir),
      "p_leak_safe_split (cluster table from pair graph; corpus joined once)" ->
        operators.Pipeline.queries("p_leak_safe_split")(spark, sfDir),
      "g_modularity (two label joins + partial-agg sums; 1-row m broadcast)" ->
        graph.GraphQueries.queries("g_modularity")(spark, sfDir),
      "g_rich_club (entire curve on two histograms; no V/E-sized relation downstream)" ->
        graph.GraphQueries.queries("g_rich_club")(spark, sfDir),
      "g_squares (one adjacency self-join on the wedge center; partial pair counts)" ->
        graph.GraphQueries.queries("g_squares")(spark, sfDir),
      "t_heaps (first-occurrence + per-doc histograms; broadcast cut joins)" ->
        operators.TextAnalysis.queries("t_heaps")(spark, sfDir),
      "t_bigram_lm (scores assembled on the aggregated bigram table; one stream shuffle)" ->
        operators.TextAnalysis.queries("t_bigram_lm")(spark, sfDir),
      "t_rake (per-doc segmentation window; vocab-bounded phrase table)" ->
        operators.TextAnalysis.queries("t_rake")(spark, sfDir),
      "p_train_classifier (broadcast weights; mistake gradient = partial-agg sums)" ->
        operators.Pipeline.queries("p_train_classifier")(spark, sfDir),
      "t_phrase_delta (positional probe over base+delta: bucket filter on EVERY generation scan)" ->
        operators.Retrieval.queries("t_phrase_delta")(spark, sfDir),
      "t_min_window (snippet primitive: ending-occurrence sweep in codegen over the pivoted positions)" ->
        operators.Retrieval.queries("t_min_window")(spark, sfDir),
      "m_video_frames (container-index parse + per-frame codec decode, narrow map)" ->
        operators.Multimodal.queries("m_video_frames")(spark, sfDir),
      "m_audio_features (WAV decode + exact-integer features, narrow map)" ->
        operators.Multimodal.queries("m_audio_features")(spark, sfDir),
      "t_search_deleted (tombstone fence: bucket-pruned generation scans + broadcast anti-filter)" ->
        operators.Retrieval.queries("t_search_deleted")(spark, sfDir),
      "sim_pq_deleted (PQ generational probe: codes union + fence, codebook broadcast)" ->
        operators.Similarity.queries("sim_pq_deleted")(spark, sfDir),
      "sim_filtered_stored (attribute predicate AFTER cluster pruning, BEFORE the top-k window)" ->
        operators.Similarity.queries("sim_filtered_stored")(spark, sfDir),
      "sim_filtered_ivfpq (allow-list semi-join on m-byte code rows, partition pruning intact)" ->
        operators.Similarity.queries("sim_filtered_ivfpq")(spark, sfDir),
      "sim_filtered_trained (allow-list semi-join over the Lloyd-trained codes, pruning intact)" ->
        operators.Similarity.queries("sim_filtered_trained")(spark, sfDir),
      "sim_trained_rerank (trained-ADC shortlist, broadcast exact-cosine refine at point-lookup cost)" ->
        operators.Similarity.queries("sim_trained_rerank")(spark, sfDir),
      "sim_filtered_trained_rerank (the production triple: predicate-pruned trained shortlist + broadcast refine)" ->
        operators.Similarity.queries("sim_filtered_trained_rerank")(spark, sfDir),
      "sim_ivfpq_trained_sampled (Lloyd rounds read ONLY the sample scan; coding pass stays full-corpus)" ->
        operators.Similarity.queries("sim_ivfpq_trained_sampled")(spark, sfDir),
      "p_bpe_tvf_deep (SQL TVF surface of the deep encode: one vocab aggregation at resolution)" ->
        operators.Pipeline.queries("p_bpe_tvf_deep")(spark, sfDir),
      "t_fuzzy_stored (dict-resolved edit-distance expansion, bucket-pruned probe)" ->
        operators.Retrieval.queries("t_fuzzy_stored")(spark, sfDir),
      "p_bpe_encode_deep (1262-merge batched encode: vocab-level passes + one corpus join)" ->
        operators.Pipeline.queries("p_bpe_encode_deep")(spark, sfDir),
      "ga_ivm_components_del (affected-subgraph recompute spliced into untouched labels)" ->
        sources.graphar.GraphArQueries.queries("ga_ivm_components_del")(spark, sfDir),
      "ga_ivm_degrees (CDF fold: O(changes) delta agg unioned with prev, one shuffle)" ->
        sources.graphar.GraphArQueries.queries("ga_ivm_degrees")(spark, sfDir),
      "ga_ivm_components (insert-only merge: broadcast relabel of prev, no edge rescan)" ->
        sources.graphar.GraphArQueries.queries("ga_ivm_components")(spark, sfDir),
      "p_chunk (RAG chunk prep: tokenize + bounded explode, zero exchanges)" ->
        operators.Pipeline.queries("p_chunk")(spark, sfDir),
      "p_pack_split (one per-source window; only (id, count) rows shuffle, text never moves)" ->
        operators.Pipeline.queries("p_pack_split")(spark, sfDir),
      "sim_ivfpq_stored (cluster PartitionFilters on the codes scan; LUT broadcast; ADC fold)" ->
        operators.Similarity.queries("sim_ivfpq_stored")(spark, sfDir),
      "sim_ivf (assignment as aggregate argmax: map-side partial fold, no candidate-product window)" ->
        operators.Similarity.queries("sim_ivf")(spark, sfDir)
    )

    val sb = new StringBuilder
    sb.append("# Physical plans of the headline queries (")
    sb.append(s"${new java.io.File(sfDir).getName}, local[8])\n\n")
    sb.append("Generated by `graft.Plans` from `.explain(\"formatted\")` — the\n")
    sb.append("artifact backing the scale-design claims in README.md (pushdown\n")
    sb.append("reaching scans, pruned ReadSchema, columnar batch emission,\n")
    sb.append("broadcast frontiers, metadata counts, partial aggregation).\n\n")
    sections.foreach { case (title, df) =>
      sb.append(s"## $title\n\n```\n")
      sb.append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n\n")
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"PLANS written to $out (${sections.size} sections)")
    spark.stop()
  }

  /** For each named declared query, writes `<outDir>/<name>_<suffix>.txt`
    * with (a) the returned frame's formatted plan and (b) every EXECUTED
    * plan observed while building and running the query through the
    * noop sink — the loop-based operators (pageRank, kTruss, …)
    * materialize per-round frames during build, so their interesting
    * plans (join strategy inside a round) only show up here, not in the
    * final frame's explain. Env: SWEEP_CONF. */
  private def dump(d: Dump): Unit = {
    val spark = Harness.session(conf = Harness.envConf)
    new java.io.File(d.outDir).mkdirs()

    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add(s"-- executed [$funcName] --\n" +
          qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    })

    d.names.foreach { name =>
      captured.clear()
      val df = SparkEntry.queries(name)(spark, d.sfDir)
      val finalPlan = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      df.write.format("noop").mode("overwrite").save()
      Thread.sleep(2000) // listener bus is async
      val sb = new StringBuilder
      sb.append(s"== $name (${d.suffix}) — final frame, explain(formatted) ==\n")
      sb.append(finalPlan).append('\n')
      sb.append("== executed plans observed during build + noop run ==\n")
      val it = captured.iterator()
      var i = 0
      while (it.hasNext && i < 200) { sb.append(it.next()).append('\n'); i += 1 }
      if (it.hasNext) sb.append("... (truncated at 200 executed plans)\n")
      Files.write(Paths.get(d.outDir, s"${name}_${d.suffix}.txt"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${name}_${d.suffix}.txt")
    }
    spark.stop()
  }
}
