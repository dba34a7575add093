package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Correctness-gate wiring for the graph operators (SURVEY.md §2.3, §2.4,
  * F1/F2): a deterministic directed multigraph derived from the lineitem
  * table (src = l_orderkey % 4096, dst = l_partkey % 4096) so every graph
  * operator can be hash-checked against a DuckDB oracle on the same
  * parquet. The BFS oracle is a bounded recursive CTE computing min-depth.
  */
object GraphQueries {

  val V = 4096
  val RootVid = 42L

  /** Edge CTE shared by all oracle queries. */
  private val edgesSql =
    s"SELECT l_orderkey % $V AS src, l_partkey % $V AS dst FROM lineitem"

  def edgesFrom(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem").select(
      expr(s"l_orderkey % $V").as("src"),
      expr(s"l_partkey % $V").as("dst"))

  /** BFS probe pairs: self-path, near, and two arbitrary roots. */
  val bfsPairs: Seq[(Long, Long)] =
    Seq((42L, 42L), (42L, 977L), (7L, 3333L), (3967L, 15L))
  val bfsMaxDepth = 8

  private def recursiveCte(name: String, root: Long): String =
    s"""$name AS (
       |  SELECT CAST($root AS BIGINT) AS v, CAST(0 AS BIGINT) AS d
       |  UNION
       |  SELECT e.dst AS v, $name.d + 1 AS d
       |  FROM $name JOIN e ON e.src = $name.v WHERE $name.d < $bfsMaxDepth)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_one_hop" -> { (s, d) => GraphOps.oneHop(edgesFrom(s, d), RootVid) },
    "g_two_hop" -> { (s, d) => GraphOps.twoHop(edgesFrom(s, d), RootVid) },
    "g_one_more_hop" -> { (s, d) => GraphOps.oneMoreHop(edgesFrom(s, d), RootVid) },
    "g_degrees" -> { (s, d) => GraphOps.degrees(edgesFrom(s, d)) },
    // salted two-phase variant: same result, skew-resistant shuffle
    "g_degrees_salted" -> { (s, d) => GraphOps.degreesSalted(edgesFrom(s, d)) },
    "g_max_degree" -> { (s, d) => GraphOps.maxDegree(edgesFrom(s, d)) },
    "g_degree_dist" -> { (s, d) => GraphOps.degreeDistribution(edgesFrom(s, d)) },
    "g_bfs_length" -> { (s, d) =>
      import s.implicits._
      val e = edgesFrom(s, d).persist()
      val rows = bfsPairs.map { case (a, b) =>
        (a, b, GraphOps.bfsLength(s, e, a, b, bfsMaxDepth))
      }
      e.unpersist()
      rows.toDF("src_id", "dst_id", "len")
    },
    "g_bfs_bidi" -> { (s, d) =>
      import s.implicits._
      val e = edgesFrom(s, d).persist()
      val rows = bfsPairs.map { case (a, b) =>
        (a, b, GraphOps.bfsLengthBidirectional(s, e, a, b, bfsMaxDepth))
      }
      e.unpersist()
      rows.toDF("src_id", "dst_id", "len")
    },
    "g_bfs_exist" -> { (s, d) =>
      import s.implicits._
      val e = edgesFrom(s, d).persist()
      val rows = bfsPairs.map { case (a, b) =>
        (a, b, GraphOps.bfsLength(s, e, a, b, bfsMaxDepth) != -1L)
      }
      e.unpersist()
      rows.toDF("src_id", "dst_id", "reachable")
    },
    // batched variant: one frontier join per level for ALL pairs — must
    // match the per-pair oracle exactly
    "g_bfs_multi" -> { (s, d) =>
      import s.implicits._
      val e = edgesFrom(s, d).persist()
      val rows = GraphOps.bfsLengths(s, e, bfsPairs, bfsMaxDepth)
      e.unpersist()
      rows.toDF("src_id", "dst_id", "len")
    },
    // cost-based strategy pick: at gate scale this takes the CSR path
    // (collect + in-memory batch BFS) — must match the same oracle as
    // the distributed variants
    "g_bfs_auto" -> { (s, d) =>
      import s.implicits._
      val e = edgesFrom(s, d).persist()
      val rows = GraphOps.bfsLengthsAuto(s, e, bfsPairs, bfsMaxDepth)
      e.unpersist()
      rows.toDF("src_id", "dst_id", "len")
    },
    // undirected connected components via min-label propagation.
    // Gate runs on the <512 induced subgraph: the DuckDB oracle is a
    // reachability closure whose working set is O(component²) pairs —
    // 77 s on the full (single-component) graph, ~1 s here. The
    // operator itself is iterative (no closure) and runs the FULL graph
    // in ScaleBench.
    "g_components" -> { (s, d) =>
      GraphOps.connectedComponents(s,
        edgesFrom(s, d).filter(col("src") < 512 && col("dst") < 512))
    },
    // SCC on the same <512 induced subgraph (the oracle is a DIRECTED
    // two-way reachability closure — O(component²) pairs, so induced).
    "g_scc" -> { (s, d) =>
      GraphOps.stronglyConnectedComponents(s,
        edgesFrom(s, d).filter(col("src") < 512 && col("dst") < 512))
    },
    // BFS 2-coloring + odd-cycle bipartiteness test on the <512
    // induced subgraph (the oracle needs the reachability closure for
    // components AND a min-distance BFS — both O(component²) pairs)
    "g_bipartite" -> { (s, d) =>
      GraphOps.bipartiteColoring(s,
        edgesFrom(s, d).filter(col("src") < 512 && col("dst") < 512))
    },
    // deterministic synchronous LPA, 3 rounds, min tie-break — the
    // oracle unrolls the same 3 rounds (async LPA could not be oracled)
    "g_communities" -> { (s, d) =>
      GraphOps.labelPropagationCommunities(s, edgesFrom(s, d), rounds = 3)
    },
    // per-community modularity breakdown of the 3-round LPA partition:
    // exact integer counts + one fixed 6-op fp chain per community
    "g_modularity" -> { (s, d) =>
      val e = edgesFrom(s, d)
      GraphOps.modularityByCommunity(s, e,
        GraphOps.labelPropagationCommunities(s, e, rounds = 3))
    },
    // Louvain first-phase local moves: integerized modularity-gain
    // scores + parity-gated synchronous rounds make the classic
    // un-oracle-able algorithm exactly reproducible in SQL (3 rounds
    // unrolled in the oracle)
    "g_louvain" -> { (s, d) =>
      GraphOps.louvainCommunities(s, edgesFrom(s, d), rounds = 3)
    },
    // PageRank, hash-checked against an unrolled power-iteration CTE.
    // Raw rank sums are fp-accumulation-order-dependent (Spark's partial
    // aggregation vs DuckDB's single-threaded sum differ in the last
    // bits), so the gate compares ranks quantized to integer micro-units:
    // floor(rank·1e6 + 0.5) — pure fp arithmetic on both engines, no
    // decimal-string rounding dialect involved. Cross-engine drift is
    // ~1e-15 while the grid step is 1e-6, so quantization absorbs it.
    // Boundary audit (all three SFs): every rank whose sum is
    // order-DEPENDENT (in-degree > 1) sits ≥ 4.3e-6 grid units from a
    // rounding boundary — 1000× the drift; the ranks that DO land
    // exactly on a boundary (0.15, in-degree 0/1) involve no
    // accumulation and are bitwise-identical on both engines.
    // Full-precision numeric correctness stays spec-tested against a
    // driver-side power iteration (HopProps).
    "g_pagerank" -> { (s, d) =>
      GraphOps.pageRank(s, edgesFrom(s, d))
        .select(col("v"),
          floor(col("rank") * lit(1e6) + lit(0.5)).as("rank_micro"))
    },
    // edge-weighted PageRank over the g_sssp weight derivation, micro-
    // quantized exactly like g_pagerank (integer weights make the
    // per-source out-weight sums exact; only the in-sum accumulation is
    // order-sensitive, the class the grid absorbs). Boundary audit
    // (sf0.001 + sf0.01): min distance of any rank to a rounding
    // boundary is 1.0e-4 grid units ≈ 1e-10 in rank — ~10⁴× the
    // cross-engine drift — and, unlike the unweighted gate, NO rank
    // lands exactly on a boundary (weighted in-sums shift the
    // no-accumulation 0.15 cases off-grid).
    "g_pagerank_weighted" -> { (s, d) =>
      GraphOps.pageRankWeighted(s,
        edgesFrom(s, d).withColumn("w",
          pmod(col("src") * 31 + col("dst"), lit(7L)) + 1))
        .select(col("v"),
          floor(col("rank") * lit(1e6) + lit(0.5)).as("rank_micro"))
    },
    "g_triangles" -> { (s, d) =>
      GraphOps.triangleCount(edgesFrom(s, d))
    },
    // deterministic maximal matching (mutual-proposal rounds under
    // per-round md5-hashed edge priorities — the MIS symmetry breaker);
    // the oracle unrolls the same fixed rounds with the same hash coin,
    // so results are identical even pre-convergence
    "g_matching" -> { (s, d) =>
      GraphOps.maximalMatching(s, edgesFrom(s, d), rounds = MatchRounds)
    },
    // (Δ+1)-coloring by deterministic random color trial (derandomized
    // Johansson — hash-picked candidate from [0..deg] minus colored
    // neighbors' colors, adjacent equal picks resolved by round-salted
    // priority; see GraphOps.trialColoring for why priority PEELING
    // is clique-bound and stalls on the Zipf head); 6 fixed rounds
    // unrolled in the oracle — vertices still uncolored after round 6
    // are absent on both engines, so the partial coloring hashes
    // identically
    "g_coloring" -> { (s, d) =>
      GraphOps.trialColoring(s, edgesFrom(s, d), rounds = ColorRounds)
    },
    // SimRank on the <SimRankInduced induced subgraph (exact pair state
    // is Θ(V²) — the scale path is walk-sampling, GraphOps.simRank
    // scaladoc); 3 fixed rounds unrolled in the oracle. INTEGER
    // fixed-point (10⁻¹² units, C = 3/4 as a floor division) — fp
    // SimRank scores land exactly on rational grid boundaries (21/640
    // et al.), where accumulation-order drift defeats any quantized
    // double compare; all-long arithmetic is order-independent.
    "g_simrank" -> { (s, d) =>
      GraphOps.simRank(s,
        edgesFrom(s, d).filter(col("src") < SimRankInduced &&
          col("dst") < SimRankInduced),
        rounds = SimRankRounds)
    },
    // weighted SSSP, 8 bounded Bellman-Ford rounds from the root; the
    // edge weight is derived from (src, dst) so the oracle re-derives
    // it without an extra column: w = (src·31 + dst) mod 7 + 1
    "g_sssp" -> { (s, d) =>
      GraphOps.sssp(s,
        edgesFrom(s, d).withColumn("w",
          pmod(col("src") * 31 + col("dst"), lit(7L)) + 1),
        RootVid, iters = SsspIters)
    },
    // widest (bottleneck) path: maximize the MINIMUM edge weight along
    // a path — the max–min tropical dual of g_sssp, same bounded-round
    // contract and the same derived weight w = (src·31 + dst) mod 7 + 1
    "g_widest" -> { (s, d) =>
      GraphOps.widestPaths(s,
        edgesFrom(s, d).withColumn("w",
          pmod(col("src") * 31 + col("dst"), lit(7L)) + 1),
        RootVid, iters = SsspIters)
    },
    // time-respecting reachability: a path is valid only if edge
    // timestamps never decrease along it. Timestamps are derived from
    // (src, dst) so the oracle re-derives them without an extra column:
    // ts = (src·13 + dst) mod 97. Same bounded-round contract as g_sssp.
    "g_temporal_reach" -> { (s, d) =>
      GraphOps.temporalReachability(s,
        edgesFrom(s, d).withColumn("ts",
          pmod(col("src") * 13 + col("dst"), lit(97L))),
        RootVid, rounds = TemporalRounds)
    },
    // bounded k-core peel (k=20 converges within the 6 fixed rounds on
    // this graph; the oracle unrolls the same 6 rounds so the hashes
    // agree even where it wouldn't converge)
    "g_kcore" -> { (s, d) =>
      GraphOps.kCore(s, edgesFrom(s, d), KCoreK, rounds = KCoreRounds)
    },
    // link-prediction overlap counts vs the root (integer-exact)
    "g_neighbor_overlap" -> { (s, d) =>
      GraphOps.neighborOverlap(edgesFrom(s, d), RootVid)
    },
    // per-vertex local clustering coefficient; the only double is ONE
    // division of exact integers (cross-engine bit-stable)
    "g_clustering" -> { (s, d) =>
      GraphOps.clusteringCoefficients(edgesFrom(s, d))
    },
    // semi-supervised label propagation: seeds = vertices < 16 labeled
    // v % 4, 4 synchronous rounds, (count desc, label asc) tie-break
    "g_lpa_seeded" -> { (s, d) =>
      val e = edgesFrom(s, d)
      val seeds = e.select(col("src").as("v"))
        .unionAll(e.select(col("dst").as("v"))).distinct()
        .filter(col("v") < 16)
        .withColumn("label", pmod(col("v"), lit(4L)))
      GraphOps.labelPropagationSeeded(s, e, seeds)
    },
    // full core decomposition by H-index iteration (14 fixed rounds —
    // the gate graph's measured fixed point, spec-asserted); hub-safe
    // bucketed histogram instead of a per-vertex neighbor sort
    "g_coreness" -> { (s, d) =>
      GraphOps.corenessHIndex(s, edgesFrom(s, d))
    },
    // Weisfeiler–Leman color refinement, 3 rounds, commutative-hash
    // multiset encoding (map-side-combinable; no collect_list on hubs)
    "g_wl_refine" -> { (s, d) =>
      GraphOps.wlRefine(s, edgesFrom(s, d))
    },
    // directed-edge reciprocity: one row, exact integer floor-division
    "g_reciprocity" -> { (s, d) =>
      GraphOps.reciprocity(edgesFrom(s, d))
    },
    // global transitivity: 3·triangles/wedges, exact BIGINTs throughout
    "g_transitivity" -> { (s, d) =>
      GraphOps.transitivity(edgesFrom(s, d))
    },
    // 2-layer GNN-style mean aggregation (knn(v) then re-aggregate),
    // integer micro-units so the per-vertex output hash-checks
    "g_neigh_agg" -> { (s, d) =>
      GraphOps.neighborhoodAgg(edgesFrom(s, d))
    },
    // personalized PageRank seeded at PprSources, quantized to micro-
    // units exactly like g_pagerank (same unrolled-CTE oracle shape)
    "g_ppr" -> { (s, d) =>
      GraphOps.personalizedPageRank(s, edgesFrom(s, d), PprSources)
        .select(col("v"),
          floor(col("rank") * lit(1e6) + lit(0.5)).as("rank_micro"))
    },
    // motif matching: directed 3-cycles counted per canonical anchor
    // (a < b, a < c picks one rotation of each cycle)
    "g_motif_cycle3" -> { (s, d) =>
      Motif.find(edgesFrom(s, d), "(a)-[]->(b); (b)-[]->(c); (c)-[]->(a)")
        .filter(col("a") < col("b") && col("a") < col("c"))
        .groupBy(col("a")).agg(count(lit(1)).as("n_cycles"))
    },
    // motif with negation: open brokerage wedges a→b→c with NO a→c
    // shortcut, counted per middle vertex b
    "g_motif_broker" -> { (s, d) =>
      Motif.find(edgesFrom(s, d), "(a)-[]->(b); (b)-[]->(c); !(a)-[]->(c)")
        .filter(col("a") =!= col("c"))
        .groupBy(col("b")).agg(count(lit(1)).as("n_open"))
    },
    // deterministic GraphSAGE-style fan-out sample: ≤ SampleK out-edges
    // per vertex ranked by md5(src‖dst‖seed) — both engines compute the
    // identical hex digest, so the sampled subgraph hash-matches
    "g_sample_neighbors" -> { (s, d) =>
      GraphOps.sampleNeighbors(edgesFrom(s, d), SampleK, WalkSeed)
        .withColumn("sample_rank", col("sample_rank").cast("long"))
    },
    // deterministic hash-seeded walks from WalkRoots (node2vec-style
    // corpus generation); the oracle unrolls one arg_min CTE per step
    "g_random_walk" -> { (s, d) =>
      GraphOps.randomWalks(s, edgesFrom(s, d), WalkRoots, WalkSteps, WalkSeed)
    },
    // layered GNN minibatch neighborhoods: fanouts (3, 2) from the walk
    // roots, sampled with the SAME md5 ranking as g_sample_neighbors —
    // the oracle unrolls one sampled-adjacency CTE per distinct fanout
    "g_ego_nets" -> { (s, d) =>
      GraphOps.sampleEgoNets(s, edgesFrom(s, d), WalkRoots, EgoFanouts,
        WalkSeed)
    },
    // all-pairs common-out-neighbor similarity (link prediction);
    // minCommon bounds the emitted pair set
    "g_jaccard_pairs" -> { (s, d) =>
      GraphOps.jaccardPairs(edgesFrom(s, d), JaccardMinCommon)
    },
    // HITS hubs/authorities, micro-quantized like g_pagerank (max
    // normalization per half-step is fp-order-independent; only the
    // per-vertex sums drift, absorbed by the quantization)
    "g_hits" -> { (s, d) =>
      GraphOps.hits(s, edgesFrom(s, d), HitsIters)
        .select(col("v"),
          floor(col("h") * lit(1e6) + lit(0.5)).as("hub_micro"),
          floor(col("a") * lit(1e6) + lit(0.5)).as("auth_micro"))
    },
    // bounded k-truss peel (KTrussRounds covers convergence on this
    // graph — verified by the fixpoint spec; the oracle unrolls the
    // same rounds so hashes agree regardless)
    "g_ktruss" -> { (s, d) =>
      GraphOps.kTruss(s, edgesFrom(s, d), KTrussK, KTrussRounds)
    },
    // degree assortativity: exact integer moments; the correlation is a
    // fixed double expression over them (bit-stable cross-engine)
    "g_assortativity" -> { (s, d) =>
      GraphOps.degreeAssortativity(edgesFrom(s, d))
    },
    // sampled betweenness (Brandes from the PPR source set, depth 4),
    // micro-quantized: σ counts are exact ints, δ sums are the only fp
    "g_betweenness" -> { (s, d) =>
      GraphOps.betweennessSampled(s, edgesFrom(s, d), PprSources, BcDepth)
        .select(col("v"),
          floor(col("bc") * lit(1e6) + lit(0.5)).as("bc_micro"))
    },
    // Brandes–Pich pivot-sampled betweenness ESTIMATE: seeded-md5
    // pivot set (a pure function of the vertex ids, so the oracle
    // recomputes the identical sample) + (V/k) extrapolation — the
    // documented scale path next to the exact-from-fixed-sources gate
    // entry above
    "g_betweenness_approx" -> { (s, d) =>
      GraphOps.betweennessApprox(s, edgesFrom(s, d), BcApproxK, BcDepth)
    },
    // sampled harmonic closeness from the same source set — exact
    // per-level counts + one fixed-order double combine, bit-stable
    // cross-engine (no quantization; see harmonicCloseness scaladoc)
    "g_closeness" -> { (s, d) =>
      GraphOps.harmonicCloseness(s, edgesFrom(s, d), PprSources, BcDepth)
    },
    // Adamic–Adar link prediction through shared destinations; the
    // 1/ln(indeg) sum is the only fp accumulation → micro-quantized
    "g_adamic_adar" -> { (s, d) =>
      GraphOps.adamicAdarPairs(edgesFrom(s, d), JaccardMinCommon)
        .select(col("a"), col("b"), col("n_common"),
          floor(col("aa") * lit(1e6) + lit(0.5)).as("aa_micro"))
    },
    // Katz centrality, 6 unrolled power iterations, micro-quantized
    // like g_pagerank (same fp-drift-vs-grid argument: values are
    // O(1), drift ~1e-15, grid 1e-6)
    "g_katz" -> { (s, d) =>
      GraphOps.katzCentrality(s, edgesFrom(s, d), KatzIters, KatzAlpha)
        .select(col("v"),
          floor(col("score") * lit(1e6) + lit(0.5)).as("score_micro"))
    },
    // regular path query 0·1*·2 over hash-derived edge labels from
    // RootVid — automaton-product BFS; the oracle is the (v, state)
    // fixpoint as a recursive CTE
    "g_rpq" -> { (s, d) =>
      GraphOps.regularPathQuery(s, labeledEdges(s, d), RootVid,
        RpqTransitions, RpqAccept)
    },
    // exact neighborhood function on the <1024 induced subgraph (the
    // layered closure the oracle can also afford); the full-graph
    // scale path is g_anf_hll
    "g_anf" -> { (s, d) =>
      GraphOps.neighborhoodFunction(s,
        edgesFrom(s, d).filter(col("src") < 1024 && col("dst") < 1024),
        AnfExactH)
    },
    // HyperBall/HLL sketch neighborhood function on the FULL graph —
    // integer-exact register math + single-rounded per-vertex division
    // makes the approximate estimator bit-reproducible in SQL
    "g_anf_hll" -> { (s, d) =>
      GraphOps.anfHll(s, edgesFrom(s, d), AnfHllH)
    },
    // Luby MIS, 4 deterministic hash-priority rounds on the <1024
    // induced subgraph (keeps the unrolled oracle's per-round CTEs
    // affordable); remainder reported as 'undecided'
    "g_mis" -> { (s, d) =>
      GraphOps.maximalIndependentSet(s,
        edgesFrom(s, d).filter(col("src") < 1024 && col("dst") < 1024),
        MisRounds)
    },
    // node2vec second-order biased walks (back 1 : common 4 : far 2),
    // deterministic weighted choice — oracle unrolls the same steps
    "g_node2vec" -> { (s, d) =>
      GraphOps.node2vecWalks(s, edgesFrom(s, d), WalkRoots, N2vSteps,
        seed = WalkSeed)
    },
    // DOULION sparsified triangle count (p = 1/4): the estimator is
    // integer-exact and the hash coin is shared, so the ESTIMATE is
    // oracle-checked; accuracy vs exact is spec-tested
    "g_triangles_approx" -> { (s, d) =>
      GraphOps.triangleCountApprox(edgesFrom(s, d))
    },
    // effective diameter off the HLL-ANF sketch: smallest h whose
    // estimated reachable-pair mass covers 90% of the h=maxH mass —
    // pure integer arithmetic over the oracle-checked est_micro values
    "g_eff_diameter" -> { (s, d) =>
      val nf = GraphOps.anfHll(s, edgesFrom(s, d), AnfHllH)
      val total = nf.filter(col("h") === AnfHllH)
        .select(col("est_micro").as("total_micro"))
      nf.crossJoin(broadcast(total))
        .filter(col("est_micro") * 10 >= col("total_micro") * 9)
        .agg(min(col("h")).as("eff_diameter"))
    },
    // Borůvka minimum spanning forest over the sssp edge weights, on
    // the <512 induced subgraph (g_components pattern): the DuckDB
    // oracle unrolls ⌈log₂512⌉=9 Borůvka rounds as CTEs — per round a
    // min-(w,a,b) pick per component plus a recursive-closure
    // contraction — and the distinct (w,a,b) total order makes the
    // forest unique, so hashes match. The FULL-graph run stays in
    // `ScaleBench zipf` (105 s at Zipf 60M) and the Kruskal spec (MstSpec).
    "g_mst" -> { (s, d) =>
      GraphOps.minimumSpanningForest(s,
        edgesFrom(s, d)
          .filter(col("src") < MstInduced && col("dst") < MstInduced)
          .withColumn("w",
            pmod(col("src") * 31 + col("dst"), lit(7L)) + 1))
        .orderBy(col("a"), col("b"))
    },
    // rich-club coefficient over a fixed threshold ladder: exact-integer
    // histogram math, so the whole row set hash-matches the oracle
    "g_rich_club" -> { (s, d) =>
      GraphOps.richClub(edgesFrom(s, d), RichClubKs)
    },
    // exact 4-cycle count (min-vertex diagonal decomposition) + the
    // DOULION-coin estimate (inv=2 → ×16 scale-up) — the estimate itself
    // is deterministic, so both rows are oracle-checked
    "g_squares" -> { (s, d) => GraphOps.squareCount(edgesFrom(s, d)) },
    "g_squares_approx" -> { (s, d) =>
      GraphOps.squareCountApprox(edgesFrom(s, d), inv = SquaresInv)
    },
    // Bahmani-et-al greedy peeling (ε = 1/2): per-round density trace in
    // exact integers; the oracle unrolls the same rounds as CTEs
    "g_densest" -> { (s, d) =>
      GraphOps.densestSubgraph(s, edgesFrom(s, d))
    },
    // exact directed eccentricity on the <256 induced subgraph (all-pairs
    // state is quadratic, so the gate induces — the g_simrank pattern);
    // EccSpec asserts the round bound reaches fixpoint on this graph, so
    // bounded ecc here IS exact ecc. Full-scale path: anfHll.
    "g_ecc" -> { (s, d) =>
      GraphOps.eccentricity(s,
        edgesFrom(s, d)
          .filter(col("src") < EccInduced && col("dst") < EccInduced),
        EccRounds)
    },
    // diameter / radius / center / periphery summary off the same
    // bounded all-pairs BFS table
    "g_graph_summary" -> { (s, d) =>
      GraphOps.graphSummary(s,
        edgesFrom(s, d)
          .filter(col("src") < EccInduced && col("dst") < EccInduced),
        EccRounds)
    },
    // weighted bipartite projection: top-k co-occurring parts per part
    // over the (order, part) incidence — integerized cosine, basket cap
    // BEFORE the pair self-join (the co-occurrence skew guard)
    "g_cooccur" -> { (s, d) =>
      GraphOps.cooccurrenceTopK(
        t(s, d, "lineitem").select(col("l_orderkey").as("basket"),
          col("l_partkey").as("item")),
        CoMinSupport, CoMaxBasket, CoTopK)
    }
  )

  val KatzIters = 6
  val KatzAlpha = 0.005
  /** NFA for the RPQ pattern 0·(1)*·2 over lbl = (src·7 + dst) mod 3. */
  val RpqTransitions: Seq[(Int, Long, Int)] =
    Seq((0, 0L, 1), (1, 1L, 1), (1, 2L, 2))
  val RpqAccept: Set[Int] = Set(2)
  val AnfExactH = 4
  val AnfHllH = 3

  def labeledEdges(spark: SparkSession, dir: String): DataFrame =
    edgesFrom(spark, dir)
      .withColumn("lbl", pmod(col("src") * 7 + col("dst"), lit(3L)))

  val PprSources = Seq(42L, 7L, 3967L)
  val BcDepth = 4
  val BcApproxK = 8
  val SampleK = 2
  val HitsIters = 8
  // k=4 on this graph peels 48k → 4226 → 202 → 60 edges and is at
  // fixpoint by round 3 (TrussProbe); 4 rounds = fixpoint + one spare
  val KTrussK = 4
  val KTrussRounds = 4
  val EgoFanouts = Seq(3, 2)
  val JaccardMinCommon = 8
  val WalkRoots = Seq(42L, 7L, 977L, 3333L, 3967L)
  val WalkSteps = 6
  val WalkSeed = "graft"
  val N2vSteps = 4
  val MisRounds = 4
  /** g_mst gate scope + unroll depth: the <`MstInduced` induced subgraph
    * merges to its component fixpoint within ⌈log₂ MstInduced⌉ Borůvka
    * rounds (components at least halve per round); later rounds no-op. */
  val MstInduced = 512
  /** Rich-club degree-threshold ladder (g_rich_club). */
  val RichClubKs: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)
  /** g_squares_approx keep probability 1/SquaresInv (estimator ×inv⁴). */
  val SquaresInv = 2
  /** g_densest oracle unroll depth: peeling removes ≥ 1/3 of survivors
    * per round (ε = 1/2), so ⌈log₁.₅ V⌉ = 21 rounds empty the V = 4096
    * gate graph; 24 leaves slack and extra rounds emit no rows. */
  val DensestRounds = 24
  val MstRounds = 9
  /** g_ecc / g_graph_summary gate scope + round bound: all-pairs BFS
    * state is O(V²), so the gate induces (the [[SimRankInduced]]
    * pattern); EccSpec asserts rounds ≥ the induced graph's true
    * diameter, so the bounded values are exact here. */
  val EccInduced = 256
  val EccRounds = 12
  /** g_cooccur knobs: pair support floor, basket-size cap applied BEFORE
    * the pair self-join (skew guard — a B-item basket yields B² pairs),
    * and partners kept per item. */
  val CoMinSupport = 2
  val CoMaxBasket = 8
  val CoTopK = 5

  val SsspIters = 8
  val TemporalRounds = 8
  /** g_simrank gate scope + fixed iteration count (see the queries
    * entry: exact pair state is quadratic, so the gate induces). */
  val SimRankInduced = 256
  val SimRankRounds = 3
  /** g_matching fixed round count (MatchProbe: the full graph retires
    * every matchable vertex well inside 6 mutual-proposal rounds). */
  val MatchRounds = 6
  /** g_coloring fixed round count (partial coloring past it). */
  val ColorRounds = 6
  /** Lexicographic (a, b) pairs as single BIGINTs in the matching
    * oracle — valid because every vertex id < V < this base. */
  val MatchKeyBase = 100000L
  val KCoreK = 20
  val KCoreRounds = 6

  /** Unrolled bounded Bellman-Ford mirroring [[GraphOps.sssp]]. */
  private def ssspSql: String = {
    val steps = (1 to SsspIters).map { i =>
      s"""d$i AS (
         |  SELECT v, min(d) AS d FROM (
         |    SELECT v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, d${i - 1}.d + e.w AS d
         |    FROM d${i - 1} JOIN e ON e.src = d${i - 1}.v)
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst, (src * 31 + dst) % 7 + 1 AS w FROM ($edgesSql)),
       |d0 AS (SELECT CAST($RootVid AS BIGINT) AS v, CAST(0 AS BIGINT) AS d),
       |$steps
       |SELECT v, d AS dist FROM d$SsspIters""".stripMargin
  }

  /** Unrolled bounded max–min relaxation mirroring
    * [[GraphOps.widestPaths]] — [[ssspSql]] with (min, +) swapped for
    * (max, least); all-integer capacities keep the hash exact.
    */
  private def widestSql: String = {
    val steps = (1 to SsspIters).map { i =>
      s"""c$i AS (
         |  SELECT v, max(c) AS c FROM (
         |    SELECT v, c FROM c${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, least(c${i - 1}.c, e.w) AS c
         |    FROM c${i - 1} JOIN e ON e.src = c${i - 1}.v)
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst, (src * 31 + dst) % 7 + 1 AS w FROM ($edgesSql)),
       |c0 AS (SELECT CAST($RootVid AS BIGINT) AS v,
       |              CAST(${GraphOps.WidestSourceCap} AS BIGINT) AS c),
       |$steps
       |SELECT v, c AS cap FROM c$SsspIters""".stripMargin
  }

  /** Unrolled bounded temporal relaxation mirroring
    * [[GraphOps.temporalReachability]]: per round, a vertex's arrival is
    * the min over (kept arrivals) ∪ (timestamps of in-edges whose ts ≥
    * the source's arrival). The root starts at −1 so all its out-edges
    * are eligible; all-integer arrivals keep the hash exact.
    */
  private def temporalSql: String = {
    val steps = (1 to TemporalRounds).map { i =>
      s"""a$i AS (
         |  SELECT v, min(arr) AS arr FROM (
         |    SELECT v, arr FROM a${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, e.ts AS arr
         |    FROM a${i - 1} JOIN e ON e.src = a${i - 1}.v AND e.ts >= a${i - 1}.arr)
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst, (src * 13 + dst) % 97 AS ts FROM ($edgesSql)),
       |a0 AS (SELECT CAST($RootVid AS BIGINT) AS v, CAST(-1 AS BIGINT) AS arr),
       |$steps
       |SELECT v, arr AS arrival FROM a$TemporalRounds""".stripMargin
  }

  /** Unrolled bounded k-core peel mirroring [[GraphOps.kCore]]. */
  private def kcoreSql: String = {
    val steps = (1 to KCoreRounds).map { i =>
      s"""k$i AS (
         |  SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $KCoreK),
         |e$i AS (
         |  SELECT e${i - 1}.src, e${i - 1}.dst FROM e${i - 1}
         |  JOIN k$i a ON a.src = e${i - 1}.src
         |  JOIN k$i b ON b.src = e${i - 1}.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM ($edgesSql) WHERE src <> dst
       |    UNION ALL
       |    SELECT dst AS src, src AS dst FROM ($edgesSql) WHERE src <> dst)),
       |$steps
       |SELECT src AS v, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e$KCoreRounds GROUP BY src""".stripMargin
  }

  /** Unrolled personalized power iteration mirroring
    * [[GraphOps.personalizedPageRank]]: restart mass on PprSources only,
    * rank⁰ = the source indicator, restart factor written `(1.0 - 0.85)`
    * so both engines compute the identical double. Quantization as in
    * [[pageRankSql]].
    */
  private def pprSql: String = {
    val iters = 10
    val seeds = PprSources.mkString(", ")
    val ind = s"(CASE WHEN verts.v IN ($seeds) THEN 1.0 ELSE 0.0 END)"
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v,
         |    (1.0 - 0.85) * $ind + 0.85 * coalesce(s.in_sum, 0.0) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT links.dst AS v, sum(r${i - 1}.rank / links.odeg) AS in_sum
         |    FROM links JOIN r${i - 1} ON r${i - 1}.v = links.src
         |    GROUP BY links.dst) s ON s.v = verts.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |deg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |links AS (SELECT e.src, e.dst, deg.odeg FROM e JOIN deg ON deg.src = e.src),
       |r0 AS (SELECT v, CASE WHEN v IN ($seeds) THEN 1.0 ELSE 0.0 END AS rank
       |       FROM verts),
       |$steps
       |SELECT v, CAST(floor(rank * 1000000.0 + 0.5) AS BIGINT) AS rank_micro
       |FROM r$iters""".stripMargin
  }

  /** Unrolled hash-seeded walk mirroring [[GraphOps.randomWalks]]: one
    * arg_min CTE per step; both engines rank candidates by the identical
    * md5 hex digest, so the chosen successor matches exactly.
    */
  private def randomWalkSql: String = {
    val rootRows = WalkRoots.map(r => s"($r)").mkString(", ")
    val steps = (1 to WalkSteps).map { i =>
      s"""w$i AS (
         |  SELECT walk, arg_min(dst,
         |    md5(concat_ws('_', walk, $i, dst, '$WalkSeed'))) AS v
         |  FROM w${i - 1} JOIN e ON e.src = w${i - 1}.v GROUP BY walk)""".stripMargin
    }.mkString(",\n")
    val selects = (0 to WalkSteps).map { i =>
      s"SELECT walk, CAST($i AS BIGINT) AS step, v FROM w$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($edgesSql),
       |w0 AS (SELECT CAST(r AS BIGINT) AS walk, CAST(r AS BIGINT) AS v
       |       FROM (VALUES $rootRows) t(r)),
       |$steps
       |$selects""".stripMargin
  }

  /** Unrolled 10-iteration power iteration mirroring [[GraphOps.pageRank]]
    * exactly: multigraph contributions (duplicate edges count twice),
    * rank₀ = 1.0, rankᵢ₊₁(v) = 0.15 + 0.85·Σ_in rankᵢ(u)/odeg(u), no
    * dangling-mass redistribution. Output quantized to micro-units (see
    * the queries entry for why).
    */
  /** Unrolled Brandes mirroring [[GraphOps.betweennessSampled]]: per
    * source a level-synchronous σ-counting BFS (exact integer path
    * counts) then per-level dependency accumulation; δ expressions are
    * written exactly as the Spark side computes them. MATERIALIZED
    * everywhere (see the hitsSql inlining note). Quantization as in
    * [[pageRankSql]].
    */
  private def betweennessSql: String = {
    val perSource = PprSources.zipWithIndex.map { case (s, j) =>
      val fwd = (1 to BcDepth).map { l =>
        s"""lv${j}_$l AS MATERIALIZED (
           |  SELECT e.dst AS v, CAST(sum(p.sigma) AS BIGINT) AS sigma
           |  FROM e JOIN lv${j}_${l - 1} p ON p.v = e.src
           |  WHERE e.dst NOT IN (SELECT v FROM vis${j}_${l - 1})
           |  GROUP BY e.dst),
           |vis${j}_$l AS MATERIALIZED (
           |  SELECT v FROM vis${j}_${l - 1}
           |  UNION ALL SELECT v FROM lv${j}_$l)""".stripMargin
      }.mkString(",\n")
      val bwd = (BcDepth - 1 to 0 by -1).map { l =>
        s"""del${j}_$l AS MATERIALIZED (
           |  SELECT l.v, coalesce(c.contrib, 0.0) AS delta
           |  FROM lv${j}_$l l LEFT JOIN (
           |    SELECT e.src AS v,
           |      sum(CAST(lb.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
           |        * (1.0 + w.delta)) AS contrib
           |    FROM e
           |    JOIN (SELECT lw.v, lw.sigma, d.delta
           |          FROM lv${j}_${l + 1} lw
           |          JOIN del${j}_${l + 1} d ON d.v = lw.v) w ON w.v = e.dst
           |    JOIN lv${j}_$l lb ON lb.v = e.src
           |    GROUP BY e.src) c ON c.v = l.v)""".stripMargin
      }.mkString(",\n")
      s"""lv${j}_0 AS MATERIALIZED (
         |  SELECT CAST($s AS BIGINT) AS v, CAST(1 AS BIGINT) AS sigma),
         |vis${j}_0 AS MATERIALIZED (SELECT v FROM lv${j}_0),
         |$fwd,
         |del${j}_$BcDepth AS MATERIALIZED (
         |  SELECT v, 0.0 AS delta FROM lv${j}_$BcDepth),
         |$bwd""".stripMargin
    }.mkString(",\n")
    val unions = PprSources.zipWithIndex.flatMap { case (s, j) =>
      (0 to BcDepth).map(l =>
        s"SELECT CAST($s AS BIGINT) AS s, v, delta FROM del${j}_$l")
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |$perSource,
       |alldel AS (
       |$unions)
       |SELECT v, CAST(floor(sum(delta) * 1000000.0 + 0.5) AS BIGINT) AS bc_micro
       |FROM alldel WHERE s <> v GROUP BY v""".stripMargin
  }

  /** Unrolled Brandes–Pich mirroring [[GraphOps.betweennessApprox]]:
    * the pivot set is recomputed IN SQL (order vertices by
    * md5('bc-'||v) with v tiebreak, take k — bit-identical to the
    * Spark sample), then one generic multi-source forward/backward
    * chain keyed by (s, v) — the [[closenessSql]] NOT-EXISTS shape
    * rather than [[betweennessSql]]'s per-literal-source unrolling,
    * because the pivots aren't known at SQL-build time. The (V/k)
    * extrapolation is applied inside the same floor-quantization
    * expression, op-for-op as the Spark side.
    */
  private def betweennessApproxSql: String = {
    val fwd = (1 to BcDepth).map { l =>
      s"""lv$l AS MATERIALIZED (
         |  SELECT p.s, e.dst AS v, CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM e JOIN lv${l - 1} p ON p.v = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${l - 1} x
         |                    WHERE x.s = p.s AND x.v = e.dst)
         |  GROUP BY 1, 2),
         |vis$l AS MATERIALIZED (
         |  SELECT s, v FROM vis${l - 1} UNION ALL SELECT s, v FROM lv$l)"""
        .stripMargin
    }.mkString(",\n")
    val bwd = (BcDepth - 1 to 0 by -1).map { l =>
      s"""del$l AS MATERIALIZED (
         |  SELECT l.s, l.v, coalesce(c.contrib, 0.0) AS delta
         |  FROM lv$l l LEFT JOIN (
         |    SELECT w.s, e.src AS v,
         |      sum(CAST(lb.sigma AS DOUBLE) / CAST(w.sigma AS DOUBLE)
         |        * (1.0 + w.delta)) AS contrib
         |    FROM e
         |    JOIN (SELECT lw.s, lw.v, lw.sigma, d.delta
         |          FROM lv${l + 1} lw
         |          JOIN del${l + 1} d ON d.s = lw.s AND d.v = lw.v) w
         |      ON w.v = e.dst
         |    JOIN lv$l lb ON lb.s = w.s AND lb.v = e.src
         |    GROUP BY 1, 2) c ON c.s = l.s AND c.v = l.v)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to BcDepth).map(l =>
      s"SELECT s, v, delta FROM del$l").mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |verts AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |nv AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM verts),
       |piv AS MATERIALIZED (
       |  SELECT v FROM verts
       |  ORDER BY md5('bc-' || CAST(v AS VARCHAR)), v LIMIT $BcApproxK),
       |lv0 AS MATERIALIZED (
       |  SELECT v AS s, v, CAST(1 AS BIGINT) AS sigma FROM piv),
       |vis0 AS MATERIALIZED (SELECT s, v FROM lv0),
       |$fwd,
       |del$BcDepth AS MATERIALIZED (
       |  SELECT s, v, 0.0 AS delta FROM lv$BcDepth),
       |$bwd,
       |alldel AS (
       |$unions)
       |SELECT v,
       |  CAST(floor(sum(delta) * (CAST(n AS DOUBLE) / CAST($BcApproxK AS DOUBLE))
       |    * 1000000.0 + 0.5) AS BIGINT) AS bc_est_micro
       |FROM alldel CROSS JOIN nv WHERE s <> v GROUP BY v, n""".stripMargin
  }

  /** Unrolled multi-source BFS mirroring [[GraphOps.harmonicCloseness]]:
    * all sources ride one per-level CTE (the (s,v) anti-join is a NOT
    * EXISTS); per vertex the sources-at-distance-l counts are exact
    * integers and the final harmonic combine is written as the IDENTICAL
    * fixed-order double expression the Spark side evaluates — bit-stable
    * cross-engine, no quantization.
    */
  private def closenessSql: String = {
    val srcRows = PprSources.map(s =>
      s"SELECT CAST($s AS BIGINT) AS s, CAST($s AS BIGINT) AS v")
      .mkString("\nUNION ALL\n")
    val lvls = (1 to BcDepth).map { l =>
      s"""lv$l AS MATERIALIZED (
         |  SELECT DISTINCT p.s, e.dst AS v
         |  FROM e JOIN lv${l - 1} p ON p.v = e.src
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${l - 1} x
         |                    WHERE x.s = p.s AND x.v = e.dst)),
         |vis$l AS MATERIALIZED (
         |  SELECT s, v FROM vis${l - 1} UNION ALL SELECT s, v FROM lv$l)"""
        .stripMargin
    }.mkString(",\n")
    val unions = (1 to BcDepth).map(l =>
      s"SELECT v, $l AS d FROM lv$l").mkString("\nUNION ALL\n")
    val counts = (1 to BcDepth).map(l =>
      s"sum(CASE WHEN d = $l THEN 1 ELSE 0 END) AS c$l").mkString(", ")
    val combine = (1 to BcDepth).map(l =>
      s"CAST(c$l AS DOUBLE) / CAST($l AS DOUBLE)").mkString(" + ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |lv0 AS MATERIALIZED (
       |$srcRows),
       |vis0 AS MATERIALIZED (SELECT s, v FROM lv0),
       |$lvls,
       |alld AS (
       |$unions)
       |SELECT v, $combine AS harmonic
       |FROM (SELECT v, $counts FROM alld GROUP BY v)""".stripMargin
  }

  /** Unrolled HITS mirroring [[GraphOps.hits]]: per iteration one
    * authority half-step then one hub half-step, each max-normalized
    * (max is fp-order-independent, so the division is cross-engine
    * exact given equal inputs). Quantization as in [[pageRankSql]].
    *
    * Every CTE is MATERIALIZED: each `a$i`/`h$i` references its raw
    * CTE twice (value + max subquery), and DuckDB inlines plain CTEs
    * per reference — un-materialized, the 8-level chain expands
    * exponentially (observed as thousands of parquet re-opens).
    */
  private def hitsSql: String = {
    val steps = (1 to HitsIters).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT e.dst AS v, sum(h${i - 1}.h) AS ar
         |  FROM e JOIN h${i - 1} ON h${i - 1}.v = e.src GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         |  SELECT verts.v,
         |    coalesce(a${i}r.ar, 0.0) / (SELECT max(ar) FROM a${i}r) AS a
         |  FROM verts LEFT JOIN a${i}r ON a${i}r.v = verts.v),
         |h${i}r AS MATERIALIZED (
         |  SELECT e.src AS v, sum(a$i.a) AS hr
         |  FROM e JOIN a$i ON a$i.v = e.dst GROUP BY e.src),
         |h$i AS MATERIALIZED (
         |  SELECT verts.v,
         |    coalesce(h${i}r.hr, 0.0) / (SELECT max(hr) FROM h${i}r) AS h
         |  FROM verts LEFT JOIN h${i}r ON h${i}r.v = verts.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),
       |verts AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT v, 1.0 AS h FROM verts),
       |$steps
       |SELECT h$HitsIters.v,
       |  CAST(floor(h$HitsIters.h * 1000000.0 + 0.5) AS BIGINT) AS hub_micro,
       |  CAST(floor(a$HitsIters.a * 1000000.0 + 0.5) AS BIGINT) AS auth_micro
       |FROM h$HitsIters JOIN a$HitsIters ON a$HitsIters.v = h$HitsIters.v""".stripMargin
  }

  /** Unrolled k-truss peel mirroring [[GraphOps.kTruss]]: per round,
    * per-edge support = common neighbors of the endpoints over the
    * current undirected edge set, then drop edges below k−2. The wedge
    * enumeration differs from Spark's degree-ordered orientation but
    * counts the same triangles — supports are exact integers.
    */
  private def ktrussSql: String = {
    // MATERIALIZED throughout: each round references the previous ~3×
    // (two und sides + the edge join) — see the hitsSql inlining note
    def supCte(i: Int): String =
      s"""und$i AS MATERIALIZED (
         |  SELECT a, b FROM e$i UNION ALL SELECT b AS a, a AS b FROM e$i),
         |sup$i AS MATERIALIZED (
         |  SELECT n1.a AS a, n2.a AS b, CAST(count(*) AS BIGINT) AS support
         |  FROM und$i n1 JOIN und$i n2 ON n2.b = n1.b AND n1.a < n2.a
         |  JOIN e$i ed ON ed.a = n1.a AND ed.b = n2.a
         |  GROUP BY n1.a, n2.a)""".stripMargin
    val steps = (0 until KTrussRounds).map { i =>
      s"""${supCte(i)},
         |e${i + 1} AS MATERIALIZED (
         |  SELECT a, b FROM sup$i WHERE support >= ${KTrussK - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM ($edgesSql) WHERE src <> dst),
       |$steps,
       |${supCte(KTrussRounds)}
       |SELECT e$KTrussRounds.a, e$KTrussRounds.b,
       |  coalesce(sup$KTrussRounds.support, CAST(0 AS BIGINT)) AS support
       |FROM e$KTrussRounds
       |LEFT JOIN sup$KTrussRounds
       |  ON sup$KTrussRounds.a = e$KTrussRounds.a
       |  AND sup$KTrussRounds.b = e$KTrussRounds.b""".stripMargin
  }

  /** Unrolled seeded-LPA rounds mirroring
    * [[GraphOps.labelPropagationSeeded]]: per round the same
    * neighbor-label vote over the undirected simple adjacency and the
    * same (count DESC, label ASC) argmax; seeds re-assert each round.
    */
  private def lpaSeededSql: String = {
    val rounds = 4
    val steps = (1 to rounds).map { r =>
      s"""vt$r AS MATERIALIZED (
         |  SELECT adj.src AS u, l.label, CAST(count(*) AS BIGINT) AS n
         |  FROM adj JOIN l${r - 1} l ON l.v = adj.dst
         |  GROUP BY adj.src, l.label),
         |w$r AS (
         |  SELECT u AS v, label FROM (
         |    SELECT u, label,
         |      row_number() OVER (PARTITION BY u ORDER BY n DESC, label) AS rn
         |    FROM vt$r) WHERE rn = 1),
         |l$r AS MATERIALIZED (
         |  SELECT v, label FROM seeds
         |  UNION ALL
         |  SELECT w.v, w.label FROM w$r w
         |  WHERE w.v NOT IN (SELECT v FROM seeds))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |adj AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
       |        UNION ALL SELECT b AS src, a AS dst FROM und),
       |verts AS (SELECT DISTINCT src AS v FROM e
       |          UNION SELECT DISTINCT dst AS v FROM e),
       |seeds AS MATERIALIZED (
       |  SELECT v, CAST(v % 4 AS BIGINT) AS label FROM verts WHERE v < 16),
       |l0 AS (SELECT v, label FROM seeds),
       |$steps
       |SELECT v, label FROM l$rounds""".stripMargin
  }

  /** Unrolled H-index coreness rounds mirroring
    * [[GraphOps.corenessHIndex]]: per round the same (v, value, cnt)
    * neighbor histogram and the same max(least(value, running-count))
    * read-off, so even a pre-convergence state hashes identically.
    */
  private def corenessSql: String = {
    val rounds = 14
    val steps = (1 to rounds).map { r =>
      s"""h$r AS MATERIALIZED (
         |  SELECT adj.v, l.c, CAST(count(*) AS BIGINT) AS cnt
         |  FROM adj JOIN c${r - 1} l ON l.v = adj.u GROUP BY adj.v, l.c),
         |c$r AS MATERIALIZED (
         |  SELECT v, CAST(max(least(c, cum)) AS BIGINT) AS c FROM (
         |    SELECT v, c, sum(cnt) OVER (PARTITION BY v ORDER BY c DESC
         |      ROWS UNBOUNDED PRECEDING) AS cum FROM h$r)
         |  GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |adj AS MATERIALIZED (SELECT a AS v, b AS u FROM und
       |        UNION ALL SELECT b AS v, a AS u FROM und),
       |c0 AS MATERIALIZED (
       |  SELECT v, CAST(count(*) AS BIGINT) AS c FROM adj GROUP BY v),
       |$steps
       |SELECT v, c AS coreness FROM c$rounds""".stripMargin
  }

  /** Unrolled WL color-refinement rounds mirroring [[GraphOps.wlRefine]]:
    * per round the commutative neighbor-multiset hash (same md5-prefix
    * 36-bit integers, exact BIGINT sum) and the same
    * `old|sum|deg`-string relabel, so colors match byte-for-byte.
    */
  private def wlRefineSql: String = {
    val rounds = 3
    val steps = (1 to rounds).map { r =>
      s"""s$r AS (
         |  SELECT adj.v,
         |    CAST(sum(CAST(('0x' || substr(md5('wl-$r-' || l.wl), 1, 9))
         |      AS BIGINT)) AS BIGINT) AS s
         |  FROM adj JOIN l${r - 1} l ON l.v = adj.u GROUP BY adj.v),
         |l$r AS (
         |  SELECT p.v, md5(p.wl || '|' || CAST(s$r.s AS VARCHAR) || '|' ||
         |    CAST(deg.deg AS VARCHAR)) AS wl
         |  FROM l${r - 1} p JOIN s$r ON s$r.v = p.v
         |  JOIN deg ON deg.v = p.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |adj AS (SELECT a AS v, b AS u FROM und
       |        UNION ALL SELECT b AS v, a AS u FROM und),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
       |        FROM adj GROUP BY v),
       |l0 AS (SELECT v, CAST(deg AS VARCHAR) AS wl FROM deg),
       |$steps,
       |cls AS (SELECT wl, CAST(count(*) AS BIGINT) AS class_size
       |        FROM l$rounds GROUP BY wl)
       |SELECT l$rounds.v, deg.deg, l$rounds.wl, cls.class_size
       |FROM l$rounds
       |JOIN deg ON deg.v = l$rounds.v
       |JOIN cls ON cls.wl = l$rounds.wl""".stripMargin
  }

  /** Unrolled mutual-proposal matching rounds mirroring
    * [[GraphOps.maximalMatching]]: per round, per-vertex min incident
    * edge under the (md5 priority, a, b) order — row_number mirrors
    * Spark's `min(struct(h, a, b))`, and the md5 bigint is the same
    * [[misSql]] construction — an edge matches iff both endpoints
    * picked it, matched vertices' edges drop.
    */
  private def matchingSql: String = {
    val base = MatchKeyBase
    def h(r: Int) =
      s"CAST(('0x' || substr(md5('match-$r-' || CAST(a AS VARCHAR) || " +
        s"'-' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT)"
    val steps = (1 to MatchRounds).map { i =>
      s"""hh$i AS MATERIALIZED (
         |  SELECT a, b, a * $base + b AS k, ${h(i)} AS h FROM a${i - 1}),
         |p$i AS MATERIALIZED (
         |  SELECT v, k AS pk FROM (
         |    SELECT v, k, row_number() OVER (PARTITION BY v ORDER BY h, a, b) AS rn
         |    FROM (
         |      SELECT a AS v, a, b, k, h FROM hh$i
         |      UNION ALL
         |      SELECT b AS v, a, b, k, h FROM hh$i))
         |  WHERE rn = 1),
         |m$i AS MATERIALIZED (
         |  SELECT x.a, x.b FROM a${i - 1} x
         |  JOIN p$i p1 ON p1.v = x.a JOIN p$i p2 ON p2.v = x.b
         |  WHERE p1.pk = x.a * $base + x.b AND p2.pk = x.a * $base + x.b),
         |mv$i AS MATERIALIZED (SELECT a AS v FROM m$i UNION SELECT b FROM m$i),
         |a$i AS MATERIALIZED (
         |  SELECT x.a, x.b FROM a${i - 1} x
         |  WHERE x.a NOT IN (SELECT v FROM mv$i)
         |    AND x.b NOT IN (SELECT v FROM mv$i))""".stripMargin
    }.mkString(",\n")
    val unions = (1 to MatchRounds)
      .map(i => s"SELECT a, b FROM m$i").mkString("\nUNION ALL\n")
    s"""WITH a0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM ($edgesSql) WHERE src <> dst),
       |$steps
       |$unions""".stripMargin
  }

  /** Unrolled random-color-trial rounds mirroring
    * [[GraphOps.trialColoring]] (derandomized Johansson): per round,
    * each undecided vertex hash-picks a candidate uniformly from
    * [0..deg] minus its colored neighbors' colors; adjacent equal
    * candidates resolve to the strict max under the round-salted
    * (md5 priority, v) order.
    */
  private def coloringSql: String = {
    def h(salt: String, i: Int, x: String) =
      s"CAST(('0x' || substr(md5('$salt-$i-' || CAST($x AS VARCHAR)), 1, 15)) AS BIGINT)"
    val steps = (1 to ColorRounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT u.v, list(DISTINCT c.color) AS f
         |  FROM und$i u JOIN ue ON ue.t = u.v
         |  JOIN colored${i - 1} c ON c.v = ue.s
         |  GROUP BY u.v),
         |pick$i AS MATERIALIZED (
         |  SELECT v, ${h("color", i, "v")} AS p,
         |    avail[1 + (${h("colorpick", i, "v")} % len(avail))] AS cand
         |  FROM (
         |    SELECT u.v, list_filter(range(0, d.deg + 1),
         |      x -> NOT list_contains(coalesce(f.f, CAST([] AS BIGINT[])), x))
         |      AS avail
         |    FROM und$i u JOIN deg d ON d.v = u.v
         |    LEFT JOIN f$i f ON f.v = u.v)),
         |win$i AS MATERIALIZED (
         |  SELECT u.v, u.cand FROM pick$i u WHERE NOT EXISTS (
         |    SELECT 1 FROM ue JOIN pick$i n ON n.v = ue.s
         |    WHERE ue.t = u.v AND n.cand = u.cand
         |      AND (n.p > u.p OR (n.p = u.p AND n.v > u.v)))),
         |colored$i AS MATERIALIZED (
         |  SELECT v, color FROM colored${i - 1}
         |  UNION ALL SELECT v, cand AS color FROM win$i),
         |und${i + 1} AS MATERIALIZED (
         |  SELECT u.v FROM und$i u
         |  WHERE u.v NOT IN (SELECT v FROM win$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM ($edgesSql) WHERE src <> dst),
       |ue AS MATERIALIZED (SELECT a AS s, b AS t FROM e0 UNION ALL SELECT b, a FROM e0),
       |deg AS MATERIALIZED (
       |  SELECT s AS v, CAST(count(*) AS BIGINT) AS deg FROM ue GROUP BY 1),
       |und1 AS MATERIALIZED (SELECT v FROM deg),
       |colored0 AS MATERIALIZED (
       |  SELECT CAST(NULL AS BIGINT) AS v, CAST(NULL AS BIGINT) AS color
       |  WHERE false),
       |$steps
       |SELECT v, color FROM colored$ColorRounds""".stripMargin
  }

  /** Unrolled bounded SimRank iteration mirroring [[GraphOps.simRank]]:
    * per round, every off-diagonal pair's score is (3·Σ previous-round
    * in-neighbor-pair scores) div (4·d_a·d_b) in 10⁻¹² fixed-point
    * units (diagonal fixed at 10¹², re-added each round). All-integer
    * floor division on positive values — bit-identical on both engines
    * regardless of accumulation order.
    */
  private def simRankSql: String = {
    val steps = (1 to SimRankRounds).map { i =>
      s"""s$i AS (
         |  SELECT a, b, s FROM s0
         |  UNION ALL
         |  SELECT e1.a AS a, e2.a AS b,
         |    CAST((3 * sum(sp.s)) // (4 * ia.d * ib.d) AS BIGINT) AS s
         |  FROM e e1 JOIN s${i - 1} sp ON sp.a = e1.u
         |  JOIN e e2 ON e2.u = sp.b
         |  JOIN ind ia ON ia.a = e1.a
         |  JOIN ind ib ON ib.a = e2.a
         |  WHERE e1.a <> e2.a
         |  GROUP BY e1.a, e2.a, ia.d, ib.d)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT dst AS a, src AS u FROM ($edgesSql)
       |  WHERE src < $SimRankInduced AND dst < $SimRankInduced),
       |ind AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY a),
       |verts AS (SELECT a AS v FROM e UNION SELECT u FROM e),
       |s0 AS (SELECT v AS a, v AS b,
       |       CAST(${GraphOps.SimRankOne} AS BIGINT) AS s FROM verts),
       |$steps
       |SELECT a, b, s AS s_fp FROM s$SimRankRounds WHERE a < b""".stripMargin
  }

  /** [[pageRankSql]] with weighted transition shares: links carries
    * p = w/Σw (rounded once, exactly as the operator precomputes it)
    * and the in-sum folds rank·p. Same micro-quantized output grid.
    */
  private def pageRankWeightedSql: String = {
    val iters = 10
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v, 0.15 + 0.85 * coalesce(s.in_sum, 0.0) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT links.dst AS v, sum(r${i - 1}.rank * links.p) AS in_sum
         |    FROM links JOIN r${i - 1} ON r${i - 1}.v = links.src
         |    GROUP BY links.dst) s ON s.v = verts.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT src, dst,
       |    CAST((src * 31 + dst) % 7 + 1 AS DOUBLE) AS w FROM ($edgesSql)),
       |ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY src),
       |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |links AS (SELECT e.src, e.dst, e.w / ow.ow AS p
       |          FROM e JOIN ow ON ow.src = e.src),
       |r0 AS (SELECT v, 1.0 AS rank FROM verts),
       |$steps
       |SELECT v, CAST(floor(rank * 1000000.0 + 0.5) AS BIGINT) AS rank_micro
       |FROM r$iters""".stripMargin
  }

  private def pageRankSql: String = {
    val iters = 10
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT verts.v, 0.15 + 0.85 * coalesce(s.in_sum, 0.0) AS rank
         |  FROM verts LEFT JOIN (
         |    SELECT links.dst AS v, sum(r${i - 1}.rank / links.odeg) AS in_sum
         |    FROM links JOIN r${i - 1} ON r${i - 1}.v = links.src
         |    GROUP BY links.dst) s ON s.v = verts.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |deg AS (SELECT src, count(*) AS odeg FROM e GROUP BY src),
       |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |links AS (SELECT e.src, e.dst, deg.odeg FROM e JOIN deg ON deg.src = e.src),
       |r0 AS (SELECT v, 1.0 AS rank FROM verts),
       |$steps
       |SELECT v, CAST(floor(rank * 1000000.0 + 0.5) AS BIGINT) AS rank_micro
       |FROM r$iters""".stripMargin
  }

  def oracle: Map[String, String] = {
    val roots = bfsPairs.map(_._1).distinct
    val ctes = (Seq(s"e AS ($edgesSql)") ++
      roots.map(r => recursiveCte(s"b$r", r))).mkString(",\n")
    val bfsSelects = bfsPairs.map { case (a, b) =>
      s"""SELECT CAST($a AS BIGINT) AS src_id, CAST($b AS BIGINT) AS dst_id,
         |  coalesce((SELECT min(d) FROM b$a WHERE v = $b), -1) AS len""".stripMargin
    }.mkString("\nUNION ALL\n")
    val existSelects = bfsPairs.map { case (a, b) =>
      s"""SELECT CAST($a AS BIGINT) AS src_id, CAST($b AS BIGINT) AS dst_id,
         |  (SELECT min(d) FROM b$a WHERE v = $b) IS NOT NULL AS reachable""".stripMargin
    }.mkString("\nUNION ALL\n")

    Map(
      "g_one_hop" ->
        s"WITH e AS ($edgesSql) SELECT src, dst FROM e WHERE src = $RootVid",
      "g_two_hop" ->
        s"""WITH e AS ($edgesSql)
           |SELECT src, dst FROM e WHERE src = $RootVid
           |UNION ALL
           |SELECT e2.src, e2.dst FROM e AS e1 JOIN e AS e2 ON e2.src = e1.dst
           |WHERE e1.src = $RootVid""".stripMargin,
      "g_one_more_hop" ->
        s"""WITH e AS ($edgesSql)
           |SELECT src, dst FROM e WHERE src = $RootVid
           |UNION ALL
           |SELECT e2.src, e2.dst FROM e AS e2
           |WHERE e2.src IN (SELECT dst FROM e WHERE src = $RootVid)
           |  AND e2.dst IN (SELECT dst FROM e WHERE src = $RootVid)""".stripMargin,
      "g_degrees" ->
        s"""WITH e AS ($edgesSql)
           |SELECT count(*) AS degree, src AS grapharId FROM e GROUP BY src""".stripMargin,
      "g_degrees_salted" ->
        s"""WITH e AS ($edgesSql)
           |SELECT count(*) AS degree, src AS grapharId FROM e GROUP BY src""".stripMargin,
      "g_max_degree" ->
        s"""WITH e AS ($edgesSql)
           |SELECT max(degree) AS max_degree FROM
           |  (SELECT count(*) AS degree FROM e GROUP BY src)""".stripMargin,
      "g_degree_dist" ->
        s"""WITH e AS ($edgesSql)
           |SELECT degree, count(*) AS n_vertices FROM
           |  (SELECT count(*) AS degree FROM e GROUP BY src) GROUP BY degree""".stripMargin,
      "g_bfs_length" -> s"WITH RECURSIVE\n$ctes\n$bfsSelects",
      "g_bfs_bidi" -> s"WITH RECURSIVE\n$ctes\n$bfsSelects",
      "g_bfs_multi" -> s"WITH RECURSIVE\n$ctes\n$bfsSelects",
      "g_bfs_auto" -> s"WITH RECURSIVE\n$ctes\n$bfsSelects",
      "g_bfs_exist" -> s"WITH RECURSIVE\n$ctes\n$existSelects",
      // component(v) = min vertex id reachable in the undirected closure
      // (<512 induced subgraph — see the queries entry)
      "g_components" ->
        s"""WITH RECURSIVE e AS (
           |  SELECT src, dst FROM ($edgesSql) WHERE src < 512 AND dst < 512),
           |ue AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
           |reach(v, r) AS (
           |  SELECT DISTINCT src AS v, src AS r FROM ue
           |  UNION
           |  SELECT reach.v, ue.dst AS r FROM reach JOIN ue ON ue.src = reach.r)
           |SELECT v, min(r) AS component FROM reach GROUP BY v""".stripMargin,
      // bipartite double cover: lift v to 2v/2v+1 with side-flipping
      // edges, take the component closure of the LIFTED graph; a
      // vertex's two lifts sharing a class ⇔ an odd closed walk
      // through it. component/color/verdict all decode from the two
      // cover labels (mirrors GraphOps.bipartiteColoring exactly)
      "g_bipartite" ->
        s"""WITH RECURSIVE e AS (
           |  SELECT src, dst FROM ($edgesSql) WHERE src < 512 AND dst < 512),
           |canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |          FROM e WHERE src <> dst),
           |dce AS (
           |  SELECT a * 2 AS src, b * 2 + 1 AS dst FROM canon
           |  UNION ALL SELECT a * 2 + 1, b * 2 FROM canon
           |  UNION ALL SELECT b * 2, a * 2 + 1 FROM canon
           |  UNION ALL SELECT b * 2 + 1, a * 2 FROM canon),
           |reach(v, r) AS (
           |  SELECT DISTINCT src AS v, src AS r FROM dce
           |  UNION
           |  SELECT reach.v, dce.dst AS r FROM reach JOIN dce ON dce.src = reach.r),
           |comp2 AS (SELECT v, min(r) AS c FROM reach GROUP BY v),
           |pair AS (
           |  SELECT s0.v // 2 AS v, s0.c AS c0, s1.c AS c1
           |  FROM comp2 s0 JOIN comp2 s1 ON s1.v = s0.v + 1
           |  WHERE s0.v % 2 = 0)
           |SELECT v, CAST(least(c0, c1) // 2 AS BIGINT) AS component,
           |  CAST(CASE WHEN c0 <= c1 THEN 0 ELSE 1 END AS INT) AS color,
           |  (c0 <> c1) AS comp_bipartite
           |FROM pair""".stripMargin,
      // scc(v) = min u with v→*u AND u→*v in the directed closure of
      // the <512 induced subgraph (mirrors the g_components shape)
      "g_scc" ->
        s"""WITH RECURSIVE e AS (
           |  SELECT DISTINCT src, dst FROM ($edgesSql)
           |  WHERE src < 512 AND dst < 512),
           |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
           |reach(a, b) AS (
           |  SELECT v, v FROM verts
           |  UNION
           |  SELECT reach.a, e.dst FROM reach JOIN e ON e.src = reach.b)
           |SELECT r1.a AS v, CAST(min(r1.b) AS BIGINT) AS scc
           |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
           |GROUP BY r1.a""".stripMargin,
      // 3 unrolled synchronous LPA rounds over the undirected simple
      // graph; per round: count neighbor labels, keep the most frequent
      // with min-label tie-break (row_number mirrors Spark's max_by over
      // struct(count, -label))
      "g_communities" -> {
        def round(prev: String, cur: String): String =
          s"""c$cur AS (
             |  SELECT ue.src AS v, l$prev.label, count(*) AS n
             |  FROM ue JOIN l$prev ON l$prev.v = ue.dst
             |  GROUP BY ue.src, l$prev.label),
             |l$cur AS (
             |  SELECT v, label FROM (
             |    SELECT v, label,
             |      row_number() OVER (PARTITION BY v ORDER BY n DESC, label) AS rn
             |    FROM c$cur) WHERE rn = 1)""".stripMargin
        s"""WITH e AS ($edgesSql),
           |cn AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |ue AS (SELECT a AS src, b AS dst FROM cn
           |       UNION ALL SELECT b, a FROM cn),
           |l0 AS (SELECT DISTINCT src AS v, src AS label FROM ue),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")}
           |SELECT v, CAST(label AS BIGINT) AS community FROM l3""".stripMargin
      },
      // the g_communities 3-round LPA chain + exact-integer modularity
      // accounting; the fp chain inside floor() mirrors the Spark ops
      "g_modularity" -> {
        def round(prev: String, cur: String): String =
          s"""c$cur AS (
             |  SELECT ue.src AS v, l$prev.label, count(*) AS n
             |  FROM ue JOIN l$prev ON l$prev.v = ue.dst
             |  GROUP BY ue.src, l$prev.label),
             |l$cur AS (
             |  SELECT v, label FROM (
             |    SELECT v, label,
             |      row_number() OVER (PARTITION BY v ORDER BY n DESC, label) AS rn
             |    FROM c$cur) WHERE rn = 1)""".stripMargin
        s"""WITH e AS ($edgesSql),
           |cn AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |ue AS MATERIALIZED (SELECT a AS src, b AS dst FROM cn
           |       UNION ALL SELECT b, a FROM cn),
           |l0 AS (SELECT DISTINCT src AS v, src AS label FROM ue),
           |${round("0", "1")},
           |${round("1", "2")},
           |${round("2", "3")},
           |part AS MATERIALIZED (
           |  SELECT v, CAST(label AS BIGINT) AS community FROM l3),
           |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM cn),
           |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
           |        FROM ue GROUP BY src),
           |ein AS (
           |  SELECT pa.community, CAST(count(*) AS BIGINT) AS e_in
           |  FROM cn JOIN part pa ON pa.v = cn.a
           |  JOIN part pb ON pb.v = cn.b
           |  WHERE pa.community = pb.community GROUP BY pa.community),
           |comm AS (
           |  SELECT part.community, CAST(count(*) AS BIGINT) AS n_nodes,
           |    CAST(sum(COALESCE(deg.deg, 0)) AS BIGINT) AS vol
           |  FROM part LEFT JOIN deg ON deg.v = part.v
           |  GROUP BY part.community)
           |SELECT comm.community, comm.n_nodes,
           |  CAST(COALESCE(ein.e_in, 0) AS BIGINT) AS e_in, comm.vol,
           |  CAST(floor(1000000.0 * (
           |    CAST(COALESCE(ein.e_in, 0) AS DOUBLE) / CAST(m AS DOUBLE) -
           |    (CAST(comm.vol AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))) *
           |    (CAST(comm.vol AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))))
           |    AS BIGINT) AS contrib_micro
           |FROM comm LEFT JOIN ein ON ein.community = comm.community
           |CROSS JOIN mm""".stripMargin
      },
      // Louvain first phase, 3 unrolled rounds mirroring
      // GraphOps.louvainCommunities: all-integer gain scores
      // (2m·e − deg·vol(c∖v)), stay-then-min-label tie-break, parity
      // gate v % 2 = r % 2. CAST sums to BIGINT (HUGEINT trap).
      // Every multiply-referenced CTE is MATERIALIZED: DuckDB inlines
      // plain CTEs per reference, and with ~6 references per round the
      // 3-round unroll re-computes the chain exponentially (it filled
      // the disk with spill before this hint — 1.4 s after).
      "g_louvain" -> {
        def round(p: String, r: Int): String =
          s"""vol$r AS MATERIALIZED (
             |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS vol
             |  FROM l$p l JOIN deg d ON d.v = l.v GROUP BY l.label),
             |evc$r AS MATERIALIZED (
             |  SELECT ue.src AS v, l.label, CAST(count(*) AS BIGINT) AS e
             |  FROM ue JOIN l$p l ON l.v = ue.dst GROUP BY ue.src, l.label),
             |cand$r AS MATERIALIZED (
             |  SELECT * FROM evc$r
             |  UNION ALL
             |  SELECT l.v, l.label, CAST(0 AS BIGINT) AS e FROM l$p l
             |  WHERE NOT EXISTS (SELECT 1 FROM evc$r x
             |                    WHERE x.v = l.v AND x.label = l.label)),
             |sc$r AS MATERIALIZED (
             |  SELECT c.v, c.label,
             |    2 * m.m * c.e - d.deg *
             |      (vo.vol - CASE WHEN c.label = l.label THEN d.deg ELSE 0 END)
             |      AS score,
             |    CASE WHEN c.label = l.label THEN 1 ELSE 0 END AS stay
             |  FROM cand$r c
             |  JOIN l$p l ON l.v = c.v
             |  JOIN deg d ON d.v = c.v
             |  JOIN vol$r vo ON vo.label = c.label
             |  CROSS JOIN m),
             |b$r AS MATERIALIZED (
             |  SELECT v, label AS best FROM (
             |    SELECT v, label, row_number() OVER (PARTITION BY v
             |      ORDER BY score DESC, stay DESC, label) AS rn
             |    FROM sc$r) WHERE rn = 1),
             |l$r AS MATERIALIZED (
             |  SELECT l.v,
             |    CASE WHEN l.v % 2 = ${r % 2} THEN b.best ELSE l.label END AS label
             |  FROM l$p l JOIN b$r b ON b.v = l.v)""".stripMargin
        s"""WITH e AS ($edgesSql),
           |cn AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |ue AS MATERIALIZED (SELECT a AS src, b AS dst FROM cn
           |       UNION ALL SELECT b, a FROM cn),
           |deg AS MATERIALIZED (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
           |        FROM ue GROUP BY src),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM cn),
           |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS label FROM ue),
           |${round("0", 1)},
           |${round("1", 2)},
           |${round("2", 3)}
           |SELECT v, CAST(label AS BIGINT) AS community FROM l3""".stripMargin
      },
      "g_pagerank" -> pageRankSql,
      "g_pagerank_weighted" -> pageRankWeightedSql,
      "g_simrank" -> simRankSql,
      "g_matching" -> matchingSql,
      "g_coloring" -> coloringSql,
      "g_hits" -> hitsSql,
      "g_ktruss" -> ktrussSql,
      "g_betweenness" -> betweennessSql,
      "g_betweenness_approx" -> betweennessApproxSql,
      "g_closeness" -> closenessSql,
      // Adamic–Adar through shared destinations: indeg(w) >= 2 for
      // every contributing w (both a and b point at it) so ln is
      // always positive; the fp sum is micro-quantized like pagerank
      "g_adamic_adar" ->
        s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesSql)),
           |indeg AS (
           |  SELECT dst, CAST(count(*) AS BIGINT) AS n_in
           |  FROM e GROUP BY dst),
           |pairs AS (
           |  SELECT e1.src AS a, e2.src AS b,
           |    CAST(count(*) AS BIGINT) AS n_common,
           |    sum(CAST(1 AS DOUBLE) / ln(CAST(i.n_in AS DOUBLE))) AS aa
           |  FROM e e1
           |  JOIN e e2 ON e2.dst = e1.dst AND e1.src < e2.src
           |  JOIN indeg i ON i.dst = e1.dst
           |  GROUP BY e1.src, e2.src
           |  HAVING count(*) >= $JaccardMinCommon)
           |SELECT a, b, n_common,
           |  CAST(floor(aa * 1000000.0 + 0.5) AS BIGINT) AS aa_micro
           |FROM pairs""".stripMargin,
      // degree assortativity over both orientations of the undirected
      // simple edge set; integer moments exact, double combine
      // fixed-order (mirrors GraphOps.degreeAssortativity)
      "g_assortativity" ->
        s"""WITH und AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM ($edgesSql) WHERE src <> dst),
           |bi AS MATERIALIZED (
           |  SELECT a AS s, b AS t FROM und
           |  UNION ALL SELECT b AS s, a AS t FROM und),
           |deg AS MATERIALIZED (
           |  SELECT s, CAST(count(*) AS BIGINT) AS deg FROM bi GROUP BY s),
           |m AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(dx.deg) AS BIGINT) AS sum_x,
           |    CAST(sum(dx.deg * dx.deg) AS BIGINT) AS sum_xx,
           |    CAST(sum(dx.deg * dy.deg) AS BIGINT) AS sum_xy
           |  FROM bi
           |  JOIN deg dx ON dx.s = bi.s
           |  JOIN deg dy ON dy.s = bi.t)
           |SELECT n_pairs, sum_x, sum_xx, sum_xy,
           |  CASE WHEN CAST(n_pairs AS DOUBLE) * CAST(sum_xx AS DOUBLE) -
           |            CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE) <> 0.0
           |    THEN (CAST(n_pairs AS DOUBLE) * CAST(sum_xy AS DOUBLE) -
           |          CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE)) /
           |         (CAST(n_pairs AS DOUBLE) * CAST(sum_xx AS DOUBLE) -
           |          CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
           |  END AS r
           |FROM m""".stripMargin,
      "g_ppr" -> pprSql,
      "g_random_walk" -> randomWalkSql,
      "g_sample_neighbors" ->
        s"""WITH e AS ($edgesSql),
           |r AS (
           |  SELECT src, dst, row_number() OVER (
           |    PARTITION BY src
           |    ORDER BY md5(concat_ws('_', src, dst, '$WalkSeed')), dst)
           |    AS sample_rank
           |  FROM e)
           |SELECT src, dst, sample_rank FROM r
           |WHERE sample_rank <= $SampleK""".stripMargin,
      // layered ego-nets: one sampled-adjacency CTE per distinct fanout
      // (identical md5 ranking to g_sample_neighbors), then one
      // join-and-dedup per layer — the unrolled twin of sampleEgoNets
      "g_ego_nets" -> {
        def sampledCte(name: String, k: Int): String =
          s"""$name AS (
             |  SELECT src, dst FROM (
             |    SELECT src, dst, row_number() OVER (
             |      PARTITION BY src
             |      ORDER BY md5(concat_ws('_', src, dst, '$WalkSeed')), dst)
             |      AS rn
             |    FROM de) WHERE rn <= $k)""".stripMargin
        val rootRows = WalkRoots.map(r => s"(CAST($r AS BIGINT))").mkString(", ")
        s"""WITH e AS ($edgesSql),
           |de AS (SELECT DISTINCT src, dst FROM e),
           |${sampledCte("s1", EgoFanouts(0))},
           |${sampledCte("s2", EgoFanouts(1))},
           |r AS (SELECT root FROM (VALUES $rootRows) AS t(root)),
           |l1 AS (
           |  SELECT r.root, 1 AS layer, s1.src, s1.dst
           |  FROM r JOIN s1 ON s1.src = r.root),
           |f1 AS (SELECT DISTINCT root, dst AS v FROM l1),
           |l2 AS (
           |  SELECT f1.root, 2 AS layer, s2.src, s2.dst
           |  FROM f1 JOIN s2 ON s2.src = f1.v)
           |SELECT root, layer, src, dst FROM l1
           |UNION ALL SELECT root, layer, src, dst FROM l2""".stripMargin
      },
      // all-pairs Jaccard over distinct out-neighbor sets, pairs meet
      // only through shared destinations; n >= $JaccardMinCommon bound
      "g_jaccard_pairs" ->
        s"""WITH e AS (SELECT DISTINCT src, dst FROM ($edgesSql)),
           |odeg AS (
           |  SELECT src, CAST(count(*) AS BIGINT) AS n_out
           |  FROM e GROUP BY src),
           |common AS (
           |  SELECT e1.src AS a, e2.src AS b,
           |    CAST(count(*) AS BIGINT) AS n_common
           |  FROM e e1 JOIN e e2 ON e2.dst = e1.dst AND e1.src < e2.src
           |  GROUP BY e1.src, e2.src
           |  HAVING count(*) >= $JaccardMinCommon)
           |SELECT common.a, common.b, n_common,
           |  CAST(da.n_out + db.n_out - n_common AS BIGINT) AS n_union,
           |  n_common * 1.0 / (da.n_out + db.n_out - n_common) AS jaccard
           |FROM common
           |JOIN odeg da ON da.src = common.a
           |JOIN odeg db ON db.src = common.b""".stripMargin,
      "g_motif_cycle3" ->
        s"""WITH e AS ($edgesSql)
           |SELECT e1.src AS a, CAST(count(*) AS BIGINT) AS n_cycles
           |FROM e e1
           |JOIN e e2 ON e2.src = e1.dst
           |JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src
           |WHERE e1.src < e1.dst AND e1.src < e2.dst
           |GROUP BY e1.src""".stripMargin,
      "g_motif_broker" ->
        s"""WITH e AS ($edgesSql),
           |w AS (
           |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
           |  FROM e e1 JOIN e e2 ON e2.src = e1.dst)
           |SELECT w.b, CAST(count(*) AS BIGINT) AS n_open
           |FROM w
           |WHERE w.a <> w.c AND NOT EXISTS (
           |  SELECT 1 FROM e WHERE e.src = w.a AND e.dst = w.c)
           |GROUP BY w.b""".stripMargin,
      "g_sssp" -> ssspSql,
      "g_widest" -> widestSql,
      "g_temporal_reach" -> temporalSql,
      "g_kcore" -> kcoreSql,
      "g_neighbor_overlap" ->
        s"""WITH e AS ($edgesSql),
           |nroot AS (SELECT DISTINCT dst FROM e WHERE src = $RootVid),
           |common AS (
           |  SELECT e.src, count(DISTINCT e.dst) AS n_common
           |  FROM e JOIN nroot ON nroot.dst = e.dst
           |  WHERE e.src <> $RootVid GROUP BY e.src),
           |odeg AS (SELECT src, count(DISTINCT dst) AS n_out FROM e GROUP BY src),
           |rdeg AS (SELECT count(*) AS n_root FROM nroot)
           |SELECT common.src AS v, CAST(n_common AS BIGINT) AS n_common,
           |  CAST(n_out + n_root - n_common AS BIGINT) AS n_union
           |FROM common JOIN odeg ON odeg.src = common.src CROSS JOIN rdeg
           |WHERE n_common >= 3""".stripMargin,
      "g_triangles" ->
        s"""WITH e AS ($edgesSql),
           |und AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst)
           |SELECT CAST(count(*) AS BIGINT) AS n_triangles
           |FROM und e1 JOIN und e2 ON e2.a = e1.b
           |JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin,
      "g_coreness" -> corenessSql,
      "g_lpa_seeded" -> lpaSeededSql,
      "g_wl_refine" -> wlRefineSql,
      "g_reciprocity" ->
        s"""WITH e AS ($edgesSql),
           |simple AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
           |m AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_mutual FROM simple s
           |  WHERE EXISTS (SELECT 1 FROM simple r
           |                WHERE r.src = s.dst AND r.dst = s.src)),
           |n AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM simple)
           |SELECT n_edges, n_mutual,
           |  CAST((1000000 * n_mutual) // n_edges AS BIGINT)
           |    AS reciprocity_micro
           |FROM n, m""".stripMargin,
      "g_transitivity" ->
        s"""WITH e AS ($edgesSql),
           |und AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |tri AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
           |  FROM und e1 JOIN und e2 ON e2.a = e1.b
           |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
           |deg AS (
           |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
           |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
           |  GROUP BY v),
           |w AS (SELECT CAST(sum((deg * (deg - 1)) // 2) AS BIGINT)
           |        AS n_wedges FROM deg)
           |SELECT n_triangles, n_wedges,
           |  CASE WHEN n_wedges > 0
           |    THEN CAST((3000000 * n_triangles) // n_wedges AS BIGINT)
           |    ELSE CAST(0 AS BIGINT) END AS transitivity_micro
           |FROM tri, w""".stripMargin,
      "g_neigh_agg" ->
        s"""WITH e AS ($edgesSql),
           |und AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |adj AS (SELECT a AS v, b AS u FROM und
           |        UNION ALL SELECT b AS v, a AS u FROM und),
           |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg
           |        FROM adj GROUP BY v),
           |s1 AS (
           |  SELECT adj.v AS v, CAST(sum(du.deg) AS BIGINT) AS s
           |  FROM adj JOIN deg du ON du.v = adj.u GROUP BY adj.v),
           |h1 AS (
           |  SELECT s1.v, CAST((1000000 * s1.s) // d.deg AS BIGINT) AS h1_micro
           |  FROM s1 JOIN deg d ON d.v = s1.v),
           |s2 AS (
           |  SELECT adj.v AS v, CAST(sum(h.h1_micro) AS BIGINT) AS s
           |  FROM adj JOIN h1 h ON h.v = adj.u GROUP BY adj.v),
           |h2 AS (
           |  SELECT s2.v, CAST(s2.s // d.deg AS BIGINT) AS h2_micro
           |  FROM s2 JOIN deg d ON d.v = s2.v)
           |SELECT d.v, d.deg, h1.h1_micro, h2.h2_micro
           |FROM deg d JOIN h1 ON h1.v = d.v JOIN h2 ON h2.v = d.v""".stripMargin,
      "g_clustering" ->
        s"""WITH e AS ($edgesSql),
           |und AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |deg AS (
           |  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
           |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
           |  GROUP BY v),
           |tri AS (
           |  SELECT v, CAST(count(*) AS BIGINT) AS tri FROM (
           |    SELECT unnest([e1.a, e1.b, e2.b]) AS v
           |    FROM und e1 JOIN und e2 ON e2.a = e1.b
           |    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
           |  GROUP BY v)
           |SELECT deg.v, deg.deg, COALESCE(tri.tri, 0) AS tri,
           |  CASE WHEN deg.deg >= 2
           |    THEN COALESCE(tri.tri, 0) * 2.0 / (deg.deg * (deg.deg - 1))
           |    ELSE 0.0 END AS lcc
           |FROM deg LEFT JOIN tri ON tri.v = deg.v""".stripMargin,
      "g_katz" -> katzSql,
      "g_mis" -> misSql,
      "g_mst" -> mstSql,
      "g_ecc" -> eccSql,
      "g_graph_summary" -> graphSummarySql,
      "g_cooccur" -> cooccurSql,
      "g_node2vec" -> node2vecSql,
      "g_rpq" -> rpqSql,
      "g_anf" -> anfSql,
      "g_anf_hll" -> anfHllSql,
      "g_triangles_approx" ->
        s"""WITH e AS ($edgesSql),
           |und AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |kept AS (
           |  SELECT a, b FROM und
           |  WHERE CAST(('0x' || substr(md5('tri-' || CAST(a AS VARCHAR) ||
           |    '_' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) < ${(1L << 32) / 4}),
           |tri AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n
           |  FROM kept e1 JOIN kept e2 ON e2.a = e1.b
           |  JOIN kept e3 ON e3.a = e1.a AND e3.b = e2.b)
           |SELECT n AS n_sampled, CAST(n * 64 AS BIGINT) AS est_triangles
           |FROM tri""".stripMargin,
      "g_eff_diameter" ->
        s"""WITH nf AS ($anfHllSql)
           |SELECT CAST(min(h) AS INTEGER) AS eff_diameter FROM nf
           |WHERE est_micro * 10 >=
           |  (SELECT est_micro FROM nf WHERE h = $AnfHllH) * 9""".stripMargin,
      // rich club: both counts come from the same degree table; integer
      // floor division mirrors GraphOps.richClub's phi_micro exactly
      "g_rich_club" ->
        s"""WITH e AS ($edgesSql),
           |und AS (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM e WHERE src <> dst),
           |deg AS (
           |  SELECT v, count(*) AS deg FROM (
           |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
           |  GROUP BY v),
           |em AS (
           |  SELECT least(da.deg, db.deg) AS m
           |  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
           |ks(k) AS (VALUES ${RichClubKs.map(k => s"($k)").mkString(", ")}),
           |agg AS (
           |  SELECT CAST(k AS BIGINT) AS k,
           |    (SELECT count(*) FROM deg WHERE deg > ks.k) AS n_k,
           |    (SELECT count(*) FROM em WHERE m > ks.k) AS e_k
           |  FROM ks)
           |SELECT k, CAST(n_k AS BIGINT) AS n_k, CAST(e_k AS BIGINT) AS e_k,
           |  CAST(CASE WHEN n_k >= 2 THEN (2000000 * e_k) // (n_k * (n_k - 1))
           |       ELSE 0 END AS BIGINT) AS phi_micro
           |FROM agg""".stripMargin,
      // min-vertex diagonal decomposition, verbatim (see
      // GraphOps.squareCount)
      "g_squares" -> squaresSql(coin = false),
      "g_squares_approx" -> squaresSql(coin = true),
      "g_densest" -> densestSql
    )
  }

  /** Exact 4-cycle count; with `coin`, over the md5-sparsified edge set
    * (the estimate is ×inv⁴ and deterministic, so it oracle-checks). */
  private def squaresSql(coin: Boolean): String = {
    val keepFilter =
      if (!coin) ""
      else
        s"""
           |  WHERE CAST(('0x' || substr(md5('sq-' || CAST(a AS VARCHAR) ||
           |    '_' || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)
           |    < ${(1L << 32) / SquaresInv}""".stripMargin
    val m = SquaresInv.toLong * SquaresInv * SquaresInv * SquaresInv
    val tail =
      if (!coin)
        "SELECT CAST(coalesce(sum((c * (c - 1)) // 2), 0) AS BIGINT) AS n_squares FROM c"
      else
        s"""SELECT CAST(coalesce(sum((c * (c - 1)) // 2), 0) AS BIGINT) AS n_sampled,
           |  CAST(coalesce(sum((c * (c - 1)) // 2), 0) * $m AS BIGINT)
           |    AS est_squares FROM c""".stripMargin
    s"""WITH e AS ($edgesSql),
       |und0 AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |und AS (SELECT a, b FROM und0$keepFilter),
       |adj AS (SELECT a AS x, b AS n FROM und UNION ALL SELECT b, a FROM und),
       |w AS (
       |  SELECT l.n AS s, r.n AS u FROM adj l JOIN adj r ON r.x = l.x
       |  WHERE l.n < l.x AND r.n > l.n),
       |c AS (SELECT s, u, count(*) AS c FROM w GROUP BY s, u)
       |$tail""".stripMargin
  }

  /** Unrolled Bahmani-peeling rounds mirroring [[GraphOps.densestSubgraph]]
    * (ε = 1/2 → keep iff deg·|S| > 3·|E|); rounds past the empty fixpoint
    * emit no rows on both engines. */
  private def densestSql: String = {
    // AS MATERIALIZED everywhere: each round references its predecessor
    // several times, and DuckDB's default CTE inlining would expand the
    // 24-round chain exponentially (observed as thousands of parquet
    // re-opens); materialization makes the oracle linear in rounds
    val rounds = (0 until DensestRounds).map { r =>
      s"""st$r AS MATERIALIZED (
         |  SELECT (SELECT count(*) FROM s$r) AS nv,
         |         (SELECT count(*) FROM e$r) AS ne),
         |deg$r AS MATERIALIZED (
         |  SELECT v, count(*) AS deg FROM (
         |    SELECT a AS v FROM e$r UNION ALL SELECT b AS v FROM e$r)
         |  GROUP BY v),
         |s${r + 1} AS MATERIALIZED (
         |  SELECT s.v FROM s$r s LEFT JOIN deg$r d ON d.v = s.v
         |  WHERE coalesce(d.deg, 0) * (SELECT nv FROM st$r)
         |        > 3 * (SELECT ne FROM st$r)),
         |e${r + 1} AS MATERIALIZED (
         |  SELECT a, b FROM e$r
         |  WHERE a IN (SELECT v FROM s${r + 1})
         |    AND b IN (SELECT v FROM s${r + 1}))""".stripMargin
    }.mkString(",\n")
    val rows = (0 until DensestRounds).map { r =>
      s"""SELECT * FROM (
         |  SELECT CAST($r AS INT) AS round, CAST(nv AS BIGINT) AS n_vertices,
         |    CAST(ne AS BIGINT) AS n_edges,
         |    CAST(CASE WHEN nv > 0 THEN (1000000 * ne) // nv ELSE 0 END
         |      AS BIGINT) AS density_micro
         |  FROM st$r)
         |WHERE n_vertices > 0""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($edgesSql),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       |e0 AS MATERIALIZED (SELECT a, b FROM und),
       |s0 AS MATERIALIZED (SELECT a AS v FROM und UNION SELECT b FROM und),
       |$rounds
       |$rows""".stripMargin
  }

  /** Unrolled Katz power iteration mirroring [[GraphOps.katzCentrality]]:
    * x₀ = 1, xᵢ₊₁(v) = 1 + α·Σ_{u→v} xᵢ(u) (multigraph), micro-quantized
    * with the same drift-vs-grid argument as [[pageRankSql]]. */
  private def katzSql: String = {
    val steps = (1 to KatzIters).map { i =>
      s"""x$i AS (
         |  SELECT verts.v, 1.0 + $KatzAlpha * coalesce(s.in_sum, 0.0) AS score
         |  FROM verts LEFT JOIN (
         |    SELECT e.dst AS v, sum(x${i - 1}.score) AS in_sum
         |    FROM e JOIN x${i - 1} ON x${i - 1}.v = e.src
         |    GROUP BY e.dst) s ON s.v = verts.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesSql),
       |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |x0 AS (SELECT v, 1.0 AS score FROM verts),
       |$steps
       |SELECT v, CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS score_micro
       |FROM x$KatzIters""".stripMargin
  }

  /** Unrolled Luby rounds mirroring [[GraphOps.maximalIndependentSet]]
    * on the <1024 induced subgraph: per round, round-salted md5
    * priorities over the still-undecided set, strict-minimum test
    * against undecided neighbors, neighbor knock-out. Priority-VALUE
    * comparisons only, so both engines agree even on hash ties. */
  private def misSql: String = {
    def p(r: Int, v: String) =
      s"CAST(('0x' || substr(md5('mis-$r-' || CAST($v AS VARCHAR)), 1, 15)) AS BIGINT)"
    val rounds = (1 to MisRounds).map { r =>
      s"""u$r AS MATERIALIZED (SELECT v, ${p(r, "v")} AS p FROM st${r - 1} WHERE st = 'undecided'),
         |mn$r AS MATERIALIZED (
         |  SELECT ut.v, min(us.p) AS mn
         |  FROM ue
         |  JOIN u$r us ON us.v = ue.s
         |  JOIN u$r ut ON ut.v = ue.t
         |  GROUP BY ut.v),
         |in$r AS MATERIALIZED (
         |  SELECT u$r.v FROM u$r LEFT JOIN mn$r ON mn$r.v = u$r.v
         |  WHERE mn$r.mn IS NULL OR u$r.p < mn$r.mn),
         |out$r AS MATERIALIZED (
         |  SELECT DISTINCT ue.t AS v FROM ue
         |  JOIN in$r ON in$r.v = ue.s
         |  WHERE ue.t NOT IN (SELECT v FROM in$r)),
         |st$r AS MATERIALIZED (
         |  SELECT s.v,
         |    CASE WHEN s.st <> 'undecided' THEN s.st
         |         WHEN s.v IN (SELECT v FROM in$r) THEN 'in'
         |         WHEN s.v IN (SELECT v FROM out$r) THEN 'out'
         |         ELSE 'undecided' END AS st
         |  FROM st${r - 1} s)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM ($edgesSql) WHERE src <> dst AND src < 1024 AND dst < 1024),
       |ue AS MATERIALIZED (SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e),
       |st0 AS MATERIALIZED (SELECT DISTINCT s AS v, 'undecided' AS st FROM ue),
       |$rounds
       |SELECT v, st FROM st$MisRounds""".stripMargin
  }

  /** Unrolled Borůvka rounds mirroring [[GraphOps.minimumSpanningForest]]
    * on the <[[MstInduced]] induced subgraph. Per round: every component
    * picks its minimum outgoing edge under the total order (w, a, b) —
    * row_number mirrors Spark's `min(struct(w, a, b))` — then the
    * ≤|components|-edge merge graph is contracted with a recursive
    * min-label reachability closure (the same closure shape as the
    * g_components oracle, but on component labels, so it is tiny).
    * Distinct (w, a, b) tie-breaks make the forest unique; both engines
    * converge within [[MstRounds]] rounds and extra rounds no-op. */
  private def mstSql: String = {
    val rounds = (1 to MstRounds).map { r =>
      val p = r - 1
      s"""ext$r AS MATERIALIZED (
         |  SELECT la.c AS ca, lb.c AS cb, cn.w, cn.a, cn.b
         |  FROM cn JOIN lab$p la ON la.v = cn.a
         |          JOIN lab$p lb ON lb.v = cn.b
         |  WHERE la.c <> lb.c),
         |pick$r AS MATERIALIZED (
         |  SELECT DISTINCT a, b, w FROM (
         |    SELECT comp, a, b, w,
         |      row_number() OVER (PARTITION BY comp ORDER BY w, a, b) AS rn
         |    FROM (SELECT ca AS comp, w, a, b FROM ext$r
         |          UNION ALL SELECT cb, w, a, b FROM ext$r))
         |  WHERE rn = 1),
         |me$r AS MATERIALIZED (
         |  SELECT la.c AS s, lb.c AS t
         |  FROM pick$r pk JOIN lab$p la ON la.v = pk.a
         |                 JOIN lab$p lb ON lb.v = pk.b
         |  UNION
         |  SELECT lb.c, la.c
         |  FROM pick$r pk JOIN lab$p la ON la.v = pk.a
         |                 JOIN lab$p lb ON lb.v = pk.b),
         |mr$r(c, rc) AS (
         |  SELECT s, s FROM me$r
         |  UNION
         |  SELECT mr$r.c, me$r.t FROM mr$r JOIN me$r ON me$r.s = mr$r.rc),
         |nl$r AS MATERIALIZED (SELECT c, min(rc) AS nc FROM mr$r GROUP BY c),
         |lab$r AS MATERIALIZED (
         |  SELECT l.v, COALESCE(nl.nc, l.c) AS c
         |  FROM lab$p l LEFT JOIN nl$r nl ON nl.c = l.c)""".stripMargin
    }.mkString(",\n")
    val pickUnion = (1 to MstRounds)
      .map(r => s"SELECT a, b, w FROM pick$r").mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE cn AS MATERIALIZED (
       |  SELECT least(src, dst) AS a, greatest(src, dst) AS b,
       |    CAST(min((src * 31 + dst) % 7 + 1) AS BIGINT) AS w
       |  FROM ($edgesSql)
       |  WHERE src <> dst AND src < $MstInduced AND dst < $MstInduced
       |  GROUP BY least(src, dst), greatest(src, dst)),
       |lab0 AS MATERIALIZED (
       |  SELECT v, v AS c FROM (SELECT a AS v FROM cn UNION SELECT b FROM cn)),
       |$rounds
       |SELECT DISTINCT a, b, w FROM ($pickUnion)""".stripMargin
  }

  /** Unrolled bounded all-pairs BFS shared by the g_ecc and
    * g_graph_summary oracles, mirroring [[GraphOps.eccentricity]] on the
    * <[[EccInduced]] induced subgraph: d0 seeds every vertex at distance
    * 0 from itself; each round extends by one hop with a min-d fold (the
    * [[ssspSql]] relaxation shape, seeded all-sources). Ends with an
    * `ecc` CTE — callers append their final SELECT. */
  private def eccDistSql: String = {
    val steps = (1 to EccRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT s, v, min(d) AS d FROM (
         |    SELECT s, v, d FROM d${i - 1}
         |    UNION ALL
         |    SELECT d${i - 1}.s, e.dst AS v, d${i - 1}.d + 1 AS d
         |    FROM d${i - 1} JOIN e ON e.src = d${i - 1}.v)
         |  GROUP BY s, v)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM ($edgesSql)
       |  WHERE src < $EccInduced AND dst < $EccInduced),
       |vs AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
       |d0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS d FROM vs),
       |$steps,
       |ecc AS (SELECT s AS v, max(d) AS ecc FROM d$EccRounds GROUP BY s)""".stripMargin
  }

  private def eccSql: String = s"$eccDistSql\nSELECT v, ecc FROM ecc"

  /** Diameter/radius/center/periphery over [[eccDistSql]]'s ecc table —
    * radius over POSITIVE eccentricities only, mirroring
    * [[GraphOps.graphSummary]]. */
  private def graphSummarySql: String =
    s"""$eccDistSql,
       |pos AS (SELECT ecc FROM ecc WHERE ecc > 0)
       |SELECT max(ecc) AS diameter, min(ecc) AS radius,
       |  CAST(sum(CASE WHEN ecc = (SELECT min(ecc) FROM pos)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS center_size,
       |  CAST(sum(CASE WHEN ecc = (SELECT max(ecc) FROM pos)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS periphery_size
       |FROM pos""".stripMargin

  /** Item–item co-occurrence mirroring [[GraphOps.cooccurrenceTopK]] on
    * the (l_orderkey, l_partkey) incidence: basket cap, support floor,
    * integerized-cosine floor division, total-order top-k. */
  private def cooccurSql: String =
    s"""WITH inc AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
       |  FROM lineitem),
       |kept AS MATERIALIZED (
       |  SELECT inc.basket, inc.item FROM inc
       |  JOIN (SELECT basket FROM inc GROUP BY basket
       |        HAVING count(*) <= $CoMaxBasket) k USING (basket)),
       |tot AS (SELECT item, CAST(count(*) AS BIGINT) AS c
       |        FROM kept GROUP BY item),
       |pr AS (
       |  SELECT x.item AS a, y.item AS b, CAST(count(*) AS BIGINT) AS support
       |  FROM kept x JOIN kept y ON x.basket = y.basket AND x.item < y.item
       |  GROUP BY x.item, y.item
       |  HAVING count(*) >= $CoMinSupport),
       |sc AS (
       |  SELECT a, b, support,
       |    (1000000 * support * support) // (ta.c * tb.c) AS sim_micro
       |  FROM pr JOIN tot ta ON ta.item = pr.a
       |          JOIN tot tb ON tb.item = pr.b),
       |sym AS (
       |  SELECT a AS item, b AS partner, support, sim_micro FROM sc
       |  UNION ALL
       |  SELECT b AS item, a AS partner, support, sim_micro FROM sc)
       |SELECT item, partner, support, sim_micro, CAST(rnk AS INTEGER) AS rnk
       |FROM (SELECT sym.*, row_number() OVER (PARTITION BY item
       |        ORDER BY sim_micro DESC, support DESC, partner) AS rnk
       |      FROM sym)
       |WHERE rnk <= $CoTopK""".stripMargin

  /** Unrolled node2vec steps mirroring [[GraphOps.node2vecWalks]]: the
    * second-order weight is a CASE over (return / common-neighbor
    * EXISTS / far), the weighted draw replicates each candidate
    * `weight` times via a tag join, and arg_min over the shared md5
    * digest picks the identical successor on both engines. */
  private def node2vecSql: String = {
    val (wBack, wCommon, wFar) = (1, 4, 2)
    val maxW = Seq(wBack, wCommon, wFar).max
    val rootRows = WalkRoots.map(r => s"($r)").mkString(", ")
    val tagRows = (0 until maxW).map(t => s"($t)").mkString(", ")
    val steps = (1 to N2vSteps).map { i =>
      s"""c$i AS (
         |  SELECT n${i - 1}.walk, n${i - 1}.u, n${i - 1}.v, e.dst AS w,
         |    CASE WHEN e.dst = n${i - 1}.u THEN $wBack
         |         WHEN EXISTS (SELECT 1 FROM e e2
         |                      WHERE e2.src = n${i - 1}.u AND e2.dst = e.dst)
         |           THEN $wCommon
         |         ELSE $wFar END AS wt
         |  FROM n${i - 1} JOIN e ON e.src = n${i - 1}.v),
         |n$i AS (
         |  SELECT walk, v AS u,
         |    arg_min(w, md5(concat_ws('_', walk, $i, w, t.t, '$WalkSeed'))) AS v
         |  FROM c$i JOIN (VALUES $tagRows) t(t) ON t.t < c$i.wt
         |  GROUP BY walk, v)""".stripMargin
    }.mkString(",\n")
    val selects = (0 to N2vSteps).map { i =>
      s"SELECT walk, CAST($i AS BIGINT) AS step, v FROM n$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS ($edgesSql),
       |n0 AS (SELECT CAST(r AS BIGINT) AS walk, CAST(-1 AS BIGINT) AS u,
       |       CAST(r AS BIGINT) AS v FROM (VALUES $rootRows) t(r)),
       |$steps
       |$selects""".stripMargin
  }

  /** (v, state) fixpoint of the RPQ automaton product as a recursive
    * CTE — UNION (not UNION ALL) dedup terminates it without a depth
    * bound, exactly like [[GraphOps.regularPathQuery]]'s visited set. */
  private def rpqSql: String = {
    val transRows = RpqTransitions
      .map { case (s0, l, s1) => s"($s0, $l, $s1)" }.mkString(", ")
    val acceptList = RpqAccept.toSeq.sorted.mkString(", ")
    s"""WITH RECURSIVE rpq AS (
       |  SELECT CAST($RootVid AS BIGINT) AS v, 0 AS st
       |  UNION
       |  SELECT e.dst AS v, t.st1 AS st
       |  FROM rpq
       |  JOIN (SELECT src, dst, (src * 7 + dst) % 3 AS lbl FROM ($edgesSql)) e
       |    ON e.src = rpq.v
       |  JOIN (VALUES $transRows) t(st0, lbl, st1)
       |    ON t.st0 = rpq.st AND t.lbl = e.lbl)
       |SELECT DISTINCT v FROM rpq WHERE st IN ($acceptList)""".stripMargin
  }

  /** Unrolled layered transitive closure mirroring
    * [[GraphOps.neighborhoodFunction]] on the <1024 induced subgraph. */
  private def anfSql: String = {
    val steps = (2 to AnfExactH).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT DISTINCT u, v FROM (
         |    SELECT u, v FROM r${i - 1}
         |    UNION ALL
         |    SELECT r${i - 1}.u, e.dst AS v
         |    FROM r${i - 1} JOIN e ON e.src = r${i - 1}.v)
         |  WHERE u <> v)""".stripMargin
    }.mkString(",\n")
    val selects = (1 to AnfExactH).map { i =>
      s"SELECT $i AS h, CAST(count(*) AS BIGINT) AS n_pairs FROM r$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM ($edgesSql)
       |  WHERE src < 1024 AND dst < 1024 AND src <> dst),
       |r1 AS MATERIALIZED (SELECT src AS u, dst AS v FROM e),
       |$steps
       |$selects""".stripMargin
  }

  /** Unrolled sparse-register HLL propagation mirroring
    * [[GraphOps.anfHll]] bit-for-bit: same md5-prefix hash, same
    * branch-free ctz, integer register sums, single-rounded per-vertex
    * division, exact BIGINT total of the micro-quantized estimates. */
  private def anfHllSql: String = {
    val m = GraphOps.AnfM
    val cap = GraphOps.AnfRhoCap
    val unit = 1L << cap
    val alphaM2 = "%.17g".format(GraphOps.AnfAlphaM2)
    val steps = (1 to AnfHllH).map { i =>
      s"""g$i AS MATERIALIZED (
         |  SELECT v, reg, max(rho) AS rho FROM (
         |    SELECT e.dst AS v, g${i - 1}.reg, g${i - 1}.rho
         |    FROM g${i - 1} JOIN e ON e.src = g${i - 1}.v
         |    UNION ALL
         |    SELECT v, reg, rho FROM g${i - 1})
         |  GROUP BY v, reg)""".stripMargin
    }.mkString(",\n")
    val selects = (1 to AnfHllH).map { i =>
      s"""SELECT $i AS h, CAST(sum(cm) AS DOUBLE) AS est_micro FROM (
         |  SELECT CAST(floor(
         |    (CASE WHEN raw <= ${2.5 * m} AND zeros > 0
         |       THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))
         |       ELSE raw END)
         |    * 1000000.0 + 0.5) AS BIGINT) AS cm
         |  FROM (
         |    SELECT $alphaM2 /
         |        (CAST(isum + ($m - n_regs) * $unit AS DOUBLE) / $unit.0) AS raw,
         |      $m - n_regs AS zeros
         |    FROM (
         |      SELECT v, CAST(sum(CAST(1 AS BIGINT) << ($cap - rho)) AS BIGINT) AS isum,
         |        CAST(count(*) AS BIGINT) AS n_regs
         |      FROM g$i GROUP BY v)))""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM ($edgesSql) WHERE src <> dst),
       |verts AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
       |h0 AS (
       |  SELECT v, CAST(('0x' || substr(md5('anf-' || CAST(v AS VARCHAR)), 1, 15))
       |    AS BIGINT) AS h
       |  FROM verts),
       |g0 AS MATERIALIZED (
       |  SELECT v, CAST(h % $m AS INTEGER) AS reg,
       |    CAST(least(bit_count(((h // $m) & -(h // $m)) - 1) + 1, $cap)
       |      AS INTEGER) AS rho
       |  FROM h0),
       |$steps
       |$selects""".stripMargin
  }
}
