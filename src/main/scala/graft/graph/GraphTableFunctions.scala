package graft.graph

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL table-valued functions for the graph operators — the analogue of
  * the reference's TableFunction registrations `two_hop` / `one_more_hop`
  * (src/functions/table/hop.cpp:229-249) and `edges_vertex`
  * (src/functions/table/edges_vertex.cpp:244-252), which a SQL-only user
  * otherwise cannot reach (the Scala GraphArGraph API wraps the same
  * plans).
  *
  * {{{
  *   SELECT * FROM two_hop('/g/Git.yaml', 42)
  *   SELECT * FROM one_more_hop('/g/Git.yaml', 'Person','knows','Person', 42)
  *   SELECT max(degree) FROM edges_vertex('/g/Git.yaml')
  * }}}
  *
  * Two wiring paths, same builders:
  *  - `GraphTableFunctions.register(spark)` at runtime;
  *  - `spark.sql.extensions=graft.graph.GraftSparkSessionExtension` at
  *    session build (the SparkSessionExtensions route the reference's
  *    LoadInternal mirrors, duckdb_graphar_extension.cpp:30-51).
  *
  * Each builder substitutes the operator's (already analyzed) logical
  * plan during analysis, so everything downstream — pushed src filter,
  * broadcast frontier, offset fast path — is exactly the Scala API's
  * plan; the 2-argument forms default to the FIRST edge type like the
  * reference's bfs functions (bfs.cpp:66).
  */
object GraphTableFunctions {

  private def strArg(fn: String, e: Expression): String = e match {
    case l: Literal if l.value != null => l.value.toString
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal string argument, got: $other")
  }

  private def longArg(fn: String, e: Expression): Long = e match {
    case l: Literal => l.value match {
      case i: Int => i.toLong
      case i: Long => i
      case i: Short => i.toLong
      case other => throw new IllegalArgumentException(
        s"$fn expects an integer literal, got: $other")
    }
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got: $other")
  }

  private def graph(yaml: String): GraphArGraph =
    GraphArGraph(SparkSession.active, yaml)

  /** (graph, src, type, dst) from `yaml [, src, type, dst]` arg shapes. */
  private def resolveEdge(fn: String, yamlArg: Expression,
                          triple: Seq[Expression]): (GraphArGraph, String, String, String) = {
    val g = graph(strArg(fn, yamlArg))
    triple match {
      case Seq() =>
        val e = g.info.edges.headOption.getOrElse(throw new IllegalArgumentException(
          s"$fn: graph ${g.info.name} declares no edge types"))
        (g, e.srcType, e.edgeType, e.dstType)
      case Seq(s, t, d) => (g, strArg(fn, s), strArg(fn, t), strArg(fn, d))
      case _ => throw new IllegalArgumentException(
        s"$fn(graph_yaml[, src, type, dst], vid): wrong argument count")
    }
  }

  private def hopBuilder(fn: String,
                         op: (GraphArGraph, String, String, String, Long) => org.apache.spark.sql.DataFrame)
  : Seq[Expression] => LogicalPlan = { args =>
    if (args.size != 2 && args.size != 5)
      throw new IllegalArgumentException(s"$fn(graph_yaml[, src, type, dst], vid)")
    val (g, s, t, d) = resolveEdge(fn, args.head, args.slice(1, args.size - 1))
    op(g, s, t, d, longArg(fn, args.last)).queryExecution.analyzed
  }

  private def wholeGraphBuilder(fn: String,
                                op: (GraphArGraph, String, String, String) => org.apache.spark.sql.DataFrame)
  : Seq[Expression] => LogicalPlan = { args =>
    if (args.size != 1 && args.size != 4)
      throw new IllegalArgumentException(s"$fn(graph_yaml[, src, type, dst])")
    val (g, s, t, d) = resolveEdge(fn, args.head, args.drop(1))
    op(g, s, t, d).queryExecution.analyzed
  }

  /** The injectable (name, info, builder) triples. */
  def descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => LogicalPlan)] = Seq(
    (FunctionIdentifier("two_hop"),
      new ExpressionInfo(getClass.getName, "two_hop"),
      hopBuilder("two_hop", (g, s, t, d, vid) => g.twoHop(s, t, d, vid))),
    (FunctionIdentifier("one_more_hop"),
      new ExpressionInfo(getClass.getName, "one_more_hop"),
      hopBuilder("one_more_hop", (g, s, t, d, vid) => g.oneMoreHop(s, t, d, vid))),
    (FunctionIdentifier("edges_vertex"),
      new ExpressionInfo(getClass.getName, "edges_vertex"),
      wholeGraphBuilder("edges_vertex", (g, s, t, d) => g.degreesFast(s, t, d))),
    // beyond-reference analytics, same arg shapes: (yaml[, s,t,d]) for
    // whole-graph ops, (yaml[, s,t,d], n) where n = source vid / k.
    // NOTE: the iterative ops (components/pagerank/sssp/kcore) run their
    // driver-side loop when the TVF is RESOLVED — the substituted plan
    // is the final checkpointed vector, so EXPLAIN (or re-analysis of
    // the query text) triggers the computation. The hop/degree TVFs
    // stay lazy (their plans are declarative).
    (FunctionIdentifier("connected_components"),
      new ExpressionInfo(getClass.getName, "connected_components"),
      wholeGraphBuilder("connected_components",
        (g, s, t, d) => g.connectedComponents(s, t, d))),
    (FunctionIdentifier("graph_matching"),
      new ExpressionInfo(getClass.getName, "graph_matching"),
      wholeGraphBuilder("graph_matching",
        (g, s, t, d) => g.maximalMatching(s, t, d))),
    (FunctionIdentifier("strongly_connected_components"),
      new ExpressionInfo(getClass.getName, "strongly_connected_components"),
      wholeGraphBuilder("strongly_connected_components",
        (g, s, t, d) => g.stronglyConnectedComponents(s, t, d))),
    (FunctionIdentifier("graph_communities"),
      new ExpressionInfo(getClass.getName, "graph_communities"),
      wholeGraphBuilder("graph_communities",
        (g, s, t, d) => g.labelPropagationCommunities(s, t, d))),
    (FunctionIdentifier("graph_louvain"),
      new ExpressionInfo(getClass.getName, "graph_louvain"),
      wholeGraphBuilder("graph_louvain",
        (g, s, t, d) => g.louvainCommunities(s, t, d))),
    (FunctionIdentifier("page_rank"),
      new ExpressionInfo(getClass.getName, "page_rank"),
      wholeGraphBuilder("page_rank", (g, s, t, d) => g.pageRank(s, t, d))),
    (FunctionIdentifier("triangle_count"),
      new ExpressionInfo(getClass.getName, "triangle_count"),
      wholeGraphBuilder("triangle_count", (g, s, t, d) => g.triangleCount(s, t, d))),
    (FunctionIdentifier("clustering_coef"),
      new ExpressionInfo(getClass.getName, "clustering_coef"),
      wholeGraphBuilder("clustering_coef",
        (g, s, t, d) => g.clusteringCoefficients(s, t, d))),
    (FunctionIdentifier("graph_sssp"),
      new ExpressionInfo(getClass.getName, "graph_sssp"),
      hopBuilder("graph_sssp", (g, s, t, d, vid) => g.sssp(s, t, d, vid))),
    (FunctionIdentifier("graph_widest"),
      new ExpressionInfo(getClass.getName, "graph_widest"),
      hopBuilder("graph_widest", (g, s, t, d, vid) => g.widestPaths(s, t, d, vid))),
    (FunctionIdentifier("graph_kcore"),
      new ExpressionInfo(getClass.getName, "graph_kcore"),
      hopBuilder("graph_kcore", (g, s, t, d, k) => {
        // reject rather than silently truncate an out-of-int-range k
        if (k < 1 || k > Int.MaxValue) throw new IllegalArgumentException(
          s"graph_kcore: k must be in [1, ${Int.MaxValue}], got $k")
        g.kCore(s, t, d, k.toInt)
      })),
    (FunctionIdentifier("graph_ktruss"),
      new ExpressionInfo(getClass.getName, "graph_ktruss"),
      hopBuilder("graph_ktruss", (g, s, t, d, k) => {
        if (k < 3 || k > Int.MaxValue) throw new IllegalArgumentException(
          s"graph_ktruss: k must be in [3, ${Int.MaxValue}], got $k")
        g.kTruss(s, t, d, k.toInt)
      })),
    (FunctionIdentifier("graph_hits"),
      new ExpressionInfo(getClass.getName, "graph_hits"),
      wholeGraphBuilder("graph_hits", (g, s, t, d) => g.hits(s, t, d))),
    (FunctionIdentifier("graph_assortativity"),
      new ExpressionInfo(getClass.getName, "graph_assortativity"),
      wholeGraphBuilder("graph_assortativity",
        (g, s, t, d) => g.degreeAssortativity(s, t, d))),
    (FunctionIdentifier("graph_betweenness"),
      new ExpressionInfo(getClass.getName, "graph_betweenness"),
      hopBuilder("graph_betweenness",
        (g, s, t, d, vid) => g.betweenness(s, t, d, vid))),
    (FunctionIdentifier("graph_closeness"),
      new ExpressionInfo(getClass.getName, "graph_closeness"),
      hopBuilder("graph_closeness",
        (g, s, t, d, vid) => g.closeness(s, t, d, vid))),
    (FunctionIdentifier("graph_adamic_adar"),
      new ExpressionInfo(getClass.getName, "graph_adamic_adar"),
      wholeGraphBuilder("graph_adamic_adar",
        (g, s, t, d) => g.adamicAdar(s, t, d))),
    (FunctionIdentifier("graph_coreness"),
      new ExpressionInfo(getClass.getName, "graph_coreness"),
      wholeGraphBuilder("graph_coreness",
        (g, s, t, d) => g.coreness(s, t, d))),
    // converged forms — the production-facing variants of the
    // fixed-round operators: exact k-core decomposition / total proper
    // coloring / exact bounded eccentricity on ANY graph (driver
    // empty-delta loop; the fixed-round twins above stay oracle-pinned)
    (FunctionIdentifier("graph_coreness_converged"),
      new ExpressionInfo(getClass.getName, "graph_coreness_converged"),
      wholeGraphBuilder("graph_coreness_converged",
        (g, s, t, d) => g.coreness(s, t, d, converged = true))),
    (FunctionIdentifier("graph_coloring"),
      new ExpressionInfo(getClass.getName, "graph_coloring"),
      wholeGraphBuilder("graph_coloring",
        (g, s, t, d) => g.coloring(s, t, d))),
    (FunctionIdentifier("graph_eccentricity"),
      new ExpressionInfo(getClass.getName, "graph_eccentricity"),
      wholeGraphBuilder("graph_eccentricity",
        (g, s, t, d) => g.eccentricity(s, t, d))),
    (FunctionIdentifier("graph_wl_refine"),
      new ExpressionInfo(getClass.getName, "graph_wl_refine"),
      wholeGraphBuilder("graph_wl_refine",
        (g, s, t, d) => g.wlRefinement(s, t, d))),
    (FunctionIdentifier("graph_reciprocity"),
      new ExpressionInfo(getClass.getName, "graph_reciprocity"),
      wholeGraphBuilder("graph_reciprocity",
        (g, s, t, d) => g.reciprocity(s, t, d))),
    (FunctionIdentifier("graph_transitivity"),
      new ExpressionInfo(getClass.getName, "graph_transitivity"),
      wholeGraphBuilder("graph_transitivity",
        (g, s, t, d) => g.transitivity(s, t, d))),
    (FunctionIdentifier("graph_neigh_agg"),
      new ExpressionInfo(getClass.getName, "graph_neigh_agg"),
      wholeGraphBuilder("graph_neigh_agg",
        (g, s, t, d) => g.neighborhoodAgg(s, t, d))),
    (FunctionIdentifier("graph_bipartite"),
      new ExpressionInfo(getClass.getName, "graph_bipartite"),
      wholeGraphBuilder("graph_bipartite",
        (g, s, t, d) => g.bipartiteColoring(s, t, d))),
    (FunctionIdentifier("graph_katz"),
      new ExpressionInfo(getClass.getName, "graph_katz"),
      wholeGraphBuilder("graph_katz",
        (g, s, t, d) => g.katz(s, t, d))),
    (FunctionIdentifier("graph_anf"),
      new ExpressionInfo(getClass.getName, "graph_anf"),
      wholeGraphBuilder("graph_anf",
        (g, s, t, d) => g.anf(s, t, d))),
    (FunctionIdentifier("graph_triangles_approx"),
      new ExpressionInfo(getClass.getName, "graph_triangles_approx"),
      wholeGraphBuilder("graph_triangles_approx",
        (g, s, t, d) => g.trianglesApprox(s, t, d))),
    (FunctionIdentifier("personalized_pagerank"),
      new ExpressionInfo(getClass.getName, "personalized_pagerank"),
      hopBuilder("personalized_pagerank",
        (g, s, t, d, vid) => g.personalizedPageRank(s, t, d, vid))),
    (FunctionIdentifier("sample_neighbors"),
      new ExpressionInfo(getClass.getName, "sample_neighbors"),
      hopBuilder("sample_neighbors", (g, s, t, d, k) => {
        if (k < 1 || k > Int.MaxValue) throw new IllegalArgumentException(
          s"sample_neighbors: k must be in [1, ${Int.MaxValue}], got $k")
        g.sampleNeighbors(s, t, d, k.toInt)
      })),
    (FunctionIdentifier("random_walk"),
      new ExpressionInfo(getClass.getName, "random_walk"),
      hopBuilder("random_walk", (g, s, t, d, root) => g.randomWalk(s, t, d, root))),
    // motif matching: graph_motif(yaml[, src, type, dst], '(a)-[]->(b); ...')
    (FunctionIdentifier("graph_motif"),
      new ExpressionInfo(getClass.getName, "graph_motif"),
      { args =>
        if (args.size != 2 && args.size != 5)
          throw new IllegalArgumentException(
            "graph_motif(graph_yaml[, src, type, dst], pattern)")
        val (g, s, t, d) =
          resolveEdge("graph_motif", args.head, args.slice(1, args.size - 1))
        g.findMotif(s, t, d, strArg("graph_motif", args.last))
          .queryExecution.analyzed
      }),
    // change data feed over a VERSIONED base (not a graph yaml):
    // graph_changes('/base', from_v, to_v [, 'Src_type_Dst'])
    (FunctionIdentifier("graph_changes"),
      new ExpressionInfo(getClass.getName, "graph_changes"),
      { args =>
        if (args.size != 3 && args.size != 4)
          throw new IllegalArgumentException(
            "graph_changes(snapshot_base, from_version, to_version[, edge_name])")
        val base = strArg("graph_changes", args.head)
        val name =
          if (args.size == 4) Some(strArg("graph_changes", args(3))) else None
        graft.sources.graphar.GraphArMutations.edgeChanges(
            SparkSession.active, base,
            longArg("graph_changes", args(1)), longArg("graph_changes", args(2)),
            name)
          .queryExecution.analyzed
      }),
    // the delta-folded READ view over a versioned base for SQL users:
    // graph_current_edges('/base'[, 'Src_type_Dst']) — the TVF twin of
    // GraphArMutations.registerCurrentView, resolved fresh per query so
    // it never pins a retired log's file listing
    (FunctionIdentifier("graph_current_edges"),
      new ExpressionInfo(getClass.getName, "graph_current_edges"),
      { args =>
        if (args.size != 1 && args.size != 2)
          throw new IllegalArgumentException(
            "graph_current_edges(snapshot_base[, edge_name])")
        val base = strArg("graph_current_edges", args.head)
        val df =
          if (args.size == 2)
            graft.sources.graphar.GraphArMutations.currentEdgesOf(
              SparkSession.active, base, strArg("graph_current_edges", args(1)))
          else
            graft.sources.graphar.GraphArMutations.currentEdges(
              SparkSession.active, base)
        df.queryExecution.analyzed
      }),
    // the vertex twin: graph_current_vertices('/base'[, 'Type']) — the
    // read-your-writes view after SQL UPDATE/DELETE/MERGE staged vertex
    // deltas (the catalog's pinned snapshot stays immutable until the
    // next compaction folds the log)
    (FunctionIdentifier("graph_current_vertices"),
      new ExpressionInfo(getClass.getName, "graph_current_vertices"),
      { args =>
        if (args.size != 1 && args.size != 2)
          throw new IllegalArgumentException(
            "graph_current_vertices(snapshot_base[, vertex_type])")
        val base = strArg("graph_current_vertices", args.head)
        val df =
          if (args.size == 2)
            graft.sources.graphar.GraphArMutations.currentVerticesOf(
              SparkSession.active, base,
              strArg("graph_current_vertices", args(1)))
          else
            graft.sources.graphar.GraphArMutations.currentVertices(
              SparkSession.active, base)
        df.queryExecution.analyzed
      })
  )

  /** Runtime registration into an existing session. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(id, info, builder)
    }
}

/** `spark.sql.extensions` entry point injecting the graph TVFs, the
  * text/dedup TVFs, the compiled scalar kernels
  * (minhash/dot/cosine), and the job-free answer to a fully pushed
  * GraphAr `count(*)` ([[graft.sources.graphar.MetadataCount]]).
  */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => graft.sources.graphar.MetadataCount)
    GraphTableFunctions.descriptions.foreach(ext.injectTableFunction)
    graft.operators.TextTableFunctions.descriptions.foreach(ext.injectTableFunction)
    graft.functions.ScalarSqlFunctions.descriptions.foreach(ext.injectFunction)
  }
}
