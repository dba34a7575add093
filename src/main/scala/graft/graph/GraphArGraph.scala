package graft.graph

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.{EdgeInfo, GraphArMeta, GraphInfo}
import graft.sources.graphar.GraphArScanBuilder

/** User-facing graph API over a GraphAr graph — ties the connector to the
  * graph operators so a reference user can run every graph query they run
  * today:
  *
  * {{{
  *   val g = GraphArGraph(spark, "/data/Git.yaml")
  *   g.vertices("Person")                      // read_vertices
  *   g.oneHop("Person","knows","Person", 42)   // read_edges + src seek
  *   g.twoHop(...)  g.oneMoreHop(...)          // two_hop / one_more_hop
  *   g.degrees(...)                            // edges_vertex (fast path)
  *   g.bfsLength(..., 31890, 33914)            // bfs_length
  * }}}
  */
final case class GraphArGraph(spark: SparkSession, yamlPath: String) {

  val info: GraphInfo =
    GraphArMeta.loadGraph(yamlPath, spark.sessionState.newHadoopConf())

  def vertices(vertexType: String): DataFrame =
    spark.read.format("graphar").option("path", yamlPath)
      .option("type", vertexType).load()

  def edges(src: String, edgeType: String, dst: String): DataFrame =
    spark.read.format("graphar").option("path", yamlPath)
      .option("src", src).option("type", edgeType).option("dst", dst).load()

  /** Edge table with (src, dst) column names for the GraphOps algebra. */
  def edgesStd(src: String, edgeType: String, dst: String): DataFrame =
    edges(src, edgeType, dst).select(
      col(GraphArMeta.SrcIndexCol).as("src"),
      col(GraphArMeta.DstIndexCol).as("dst"))

  def oneHop(src: String, t: String, dst: String, vid: Long): DataFrame =
    GraphOps.oneHop(edgesStd(src, t, dst), vid)

  /** Reference `two_hop` semantics (duplicate-preserving, like
    * [[GraphOps.twoHop]]). When the edge type has an ordered `src`
    * adjacency list and `vid`'s degree is within the connector's IN-seek
    * cap, the plan starts from the frontier read driver-side by
    * [[frontier]] (no Spark job): the single-id seek scan for the first
    * hop, plus a `src IN distinct(frontier)` seek scan joined to the
    * broadcast NON-distinct frontier, so a neighbor reached twice still
    * contributes its out-edges twice. The connector turns a dense IN set
    * into covering-slice reads of ≈ every chunk, so density needs no
    * guard here. An out-of-range `vid` yields an empty result. Without
    * an ordered `src` list, or above the cap, the generic
    * [[GraphOps.twoHop]] plan runs. */
  def twoHop(src: String, t: String, dst: String, vid: Long): DataFrame = {
    val es = edgesStd(src, t, dst)
    frontier(src, t, dst, vid).fold(GraphOps.twoHop(es, vid)) { ms =>
      val h1 = GraphOps.oneHop(es, vid)
      if (ms.isEmpty) h1
      else {
        import spark.implicits._
        h1.unionAll(es.filter(col("src").isin(ms.distinct.toSeq: _*))
          .join(broadcast(ms.toSeq.toDF("m")), col("src") === col("m"))
          .select(col("src"), col("dst")))
      }
    }
  }

  /** Reference `one_more_hop` semantics (frontier dedup'd; second-hop
    * edges need BOTH endpoints in the frontier, like
    * [[GraphOps.oneMoreHop]]). Same single plan and fallbacks as
    * [[twoHop]]: the first hop's single-id seek scan plus one
    * `src IN F AND dst IN F` seek scan over the probed frontier F — no
    * distinct subplan, no semi-joins. The IN filters test exactly
    * membership in the same distinct frontier, so the row multiset equals
    * the generic plan's (`InSeekSpec` pins it). */
  def oneMoreHop(src: String, t: String, dst: String, vid: Long): DataFrame = {
    val es = edgesStd(src, t, dst)
    frontier(src, t, dst, vid).fold(GraphOps.oneMoreHop(es, vid)) { ms =>
      val h1 = GraphOps.oneHop(es, vid)
      val f = ms.distinct.toSeq
      if (f.isEmpty) h1
      else h1.unionAll(es.filter(col("src").isin(f: _*) && col("dst").isin(f: _*)))
    }
  }

  /** `vid`'s out-neighbors (with multiplicity) read driver-side from the
    * offset pair and O(degree) adjacency rows — metadata-class reads, no
    * Spark job. None when the seek plan does not apply: no ordered `src`
    * adjacency list, or a degree above the connector's IN-seek cap
    * ([[GraphArScanBuilder.maxInSeek]]). An out-of-range `vid` has an
    * empty frontier. */
  private def frontier(src: String, t: String, dst: String,
                       vid: Long): Option[Array[Long]] = {
    val e = info.edge(src, t, dst)
    val conf = sessionConf
    e.adjList("src").filter(_.ordered).flatMap { al =>
      e.offsetPair(al, vid, conf) match {
        case None => Some(Array.empty[Long])
        case Some((b, en)) if en - b > GraphArScanBuilder.maxInSeek(spark) => None
        case Some(range) => Some(e.adjacencyDsts(al, vid, range, conf))
      }
    }
  }

  /** Per-vertex out-degree WITHOUT scanning edges: pairwise-differences
    * the CSR offset tables, one task per vertex-chunk part — the
    * distributed version of the reference's `edges_vertex` fast path
    * (edges_vertex.cpp:132-194), which re-read offset files per 2048-row
    * output batch and took 96-850 s (BASELINE.md); here it's
    * O(vertices/part) I/O per task, fully parallel.
    */
  def degreesFast(src: String, t: String, dst: String,
                  alignedBy: String = "src"): DataFrame = {
    val e: EdgeInfo = info.edge(src, t, dst)
    val al = e.adjList(alignedBy).getOrElse(throw new IllegalArgumentException(
      s"edge ${e.name} has no ordered_by_$alignedBy layout"))
    val conf = sessionConf
    val serConf = graft.util.SerializableHadoopConf(conf)
    val nParts = e.numParts(al, conf).toInt
    val vcs = e.alignedChunkSize(al)
    val rows = spark.sparkContext
      .parallelize(0 until nParts, math.min(nParts, 64))
      .flatMap { part =>
        val offs = e.offsetsOfPart(al, part.toLong, serConf.value)
        Iterator.range(0, offs.length - 1).map { v =>
          Row(offs(v + 1) - offs(v), part.toLong * vcs + v)
        }
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("degree", LongType, nullable = false),
      StructField(GraphArMeta.GidCol, LongType, nullable = false))))
  }

  /** Degree of ONE vertex from a single offset pair — no scan, no job
    * over edge data; the distributed twin of the reference's
    * `edges_vertex ... WHERE grapharId = v` pushdown
    * (edges_vertex.cpp:68-128). Ids outside the vertex range yield an
    * empty frame (matching the degree-table semantics, not an error).
    */
  def degreeOfVertex(src: String, t: String, dst: String, vid: Long,
                     alignedBy: String = "src"): DataFrame = {
    val e: EdgeInfo = info.edge(src, t, dst)
    val al = e.adjList(alignedBy).getOrElse(throw new IllegalArgumentException(
      s"edge ${e.name} has no ordered_by_$alignedBy layout"))
    val rows = e.offsetPair(al, vid, sessionConf).toSeq
      .map { case (b, en) => Row(en - b, vid) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("degree", LongType, nullable = false),
        StructField(GraphArMeta.GidCol, LongType, nullable = false))))
  }

  private def sessionConf: Configuration =
    spark.sessionState.newHadoopConf()

  def maxDegree(src: String, t: String, dst: String): DataFrame =
    degreesFast(src, t, dst).agg(max(col("degree")).as("max_degree"))

  def degreeDistribution(src: String, t: String, dst: String): DataFrame =
    degreesFast(src, t, dst).groupBy(col("degree"))
      .agg(count(lit(1)).as("n_vertices"))

  /** Distributed BFS over one edge type (the reference's `bfs_length`
    * runs over the FIRST edge type of the graph, bfs.cpp:66).
    */
  def bfsLength(srcId: Long, dstId: Long, maxDepth: Int = 10): Long = {
    val e = info.edges.head
    val es = edgesStd(e.srcType, e.edgeType, e.dstType)
    GraphOps.bfsLength(spark, es, srcId, dstId, maxDepth)
  }

  def bfsExists(srcId: Long, dstId: Long, maxDepth: Int = 10): Boolean =
    bfsLength(srcId, dstId, maxDepth) != -1L

  /** Analytics over one edge type (see [[GraphOps]] for the scale
    * designs): undirected connected components, PageRank, triangles.
    */
  def connectedComponents(src: String, t: String, dst: String): DataFrame =
    GraphOps.connectedComponents(spark, edgesStd(src, t, dst))

  def maximalMatching(src: String, t: String, dst: String,
                      rounds: Int = 6): DataFrame =
    GraphOps.maximalMatching(spark, edgesStd(src, t, dst), rounds)

  def stronglyConnectedComponents(src: String, t: String, dst: String): DataFrame =
    GraphOps.stronglyConnectedComponents(spark, edgesStd(src, t, dst))

  def labelPropagationCommunities(src: String, t: String, dst: String,
                                  rounds: Int = 3): DataFrame =
    GraphOps.labelPropagationCommunities(spark, edgesStd(src, t, dst), rounds)

  def louvainCommunities(src: String, t: String, dst: String,
                         rounds: Int = 3): DataFrame =
    GraphOps.louvainCommunities(spark, edgesStd(src, t, dst), rounds)

  def pageRank(src: String, t: String, dst: String, iters: Int = 10,
               damping: Double = 0.85): DataFrame =
    GraphOps.pageRank(spark, edgesStd(src, t, dst), iters, damping)

  def triangleCount(src: String, t: String, dst: String): DataFrame =
    GraphOps.triangleCount(edgesStd(src, t, dst))

  /** Unweighted single-source shortest paths (edge weight 1) — the
    * bounded-relaxation form of [[GraphOps.sssp]]; pass a property-derived
    * weight column via the GraphOps API directly for weighted graphs.
    */
  def sssp(src: String, t: String, dst: String, source: Long,
           iters: Int = 8): DataFrame =
    GraphOps.sssp(spark,
      edgesStd(src, t, dst).withColumn("w", lit(1L)), source, iters)

  /** Bottleneck capacities over the unit-weight graph (every edge w=1,
    * like [[sssp]]'s SQL form): cap is 1 for every reachable vertex, so
    * the TVF's value is the bounded-round REACHABLE SET; weighted use
    * goes through [[GraphOps.widestPaths]] with a real weight column. */
  def widestPaths(src: String, t: String, dst: String, source: Long,
                  iters: Int = 8): DataFrame =
    GraphOps.widestPaths(spark,
      edgesStd(src, t, dst).withColumn("w", lit(1L)), source, iters)

  def kCore(src: String, t: String, dst: String, k: Int,
            rounds: Int = 6): DataFrame =
    GraphOps.kCore(spark, edgesStd(src, t, dst), k, rounds)

  def kTruss(src: String, t: String, dst: String, k: Int,
             rounds: Int = 5): DataFrame =
    GraphOps.kTruss(spark, edgesStd(src, t, dst), k, rounds)

  def hits(src: String, t: String, dst: String, iters: Int = 8): DataFrame =
    GraphOps.hits(spark, edgesStd(src, t, dst), iters)

  def degreeAssortativity(src: String, t: String, dst: String): DataFrame =
    GraphOps.degreeAssortativity(edgesStd(src, t, dst))

  def betweenness(src: String, t: String, dst: String, source: Long,
                  maxDepth: Int = 4): DataFrame =
    GraphOps.betweennessSampled(spark, edgesStd(src, t, dst), Seq(source),
      maxDepth)

  def closeness(src: String, t: String, dst: String, source: Long,
                maxDepth: Int = 4): DataFrame =
    GraphOps.harmonicCloseness(spark, edgesStd(src, t, dst), Seq(source),
      maxDepth)

  def adamicAdar(src: String, t: String, dst: String): DataFrame =
    GraphOps.adamicAdarPairs(edgesStd(src, t, dst))

  def katz(src: String, t: String, dst: String, iters: Int = 6,
           alpha: Double = 0.005): DataFrame =
    GraphOps.katzCentrality(spark, edgesStd(src, t, dst), iters, alpha)

  def anf(src: String, t: String, dst: String, maxH: Int = 3): DataFrame =
    GraphOps.anfHll(spark, edgesStd(src, t, dst), maxH)

  def trianglesApprox(src: String, t: String, dst: String,
                      inv: Int = 4): DataFrame =
    GraphOps.triangleCountApprox(edgesStd(src, t, dst), inv)

  def minimumSpanningForest(src: String, t: String, dst: String,
                            weightExpr: String): DataFrame =
    GraphOps.minimumSpanningForest(spark,
      edgesStd(src, t, dst).withColumn("w",
        org.apache.spark.sql.functions.expr(weightExpr)))

  def clusteringCoefficients(src: String, t: String, dst: String): DataFrame =
    GraphOps.clusteringCoefficients(edgesStd(src, t, dst))

  def coreness(src: String, t: String, dst: String,
               rounds: Int = 14, converged: Boolean = false): DataFrame =
    GraphOps.corenessHIndex(spark, edgesStd(src, t, dst), rounds, converged)

  /** Total proper coloring (converged Jones–Plassmann by default —
    * the production-facing form; pass converged = false for the
    * fixed-round partial the oracle pins). */
  def coloring(src: String, t: String, dst: String,
               rounds: Int = 6, converged: Boolean = true): DataFrame =
    GraphOps.trialColoring(spark, edgesStd(src, t, dst), rounds,
      converged = converged)

  /** Exact bounded eccentricity (converged = run to the empty-frontier
    * fixed point). All-pairs state — induce a subgraph first at scale,
    * or use anf for the effective-diameter estimate. */
  def eccentricity(src: String, t: String, dst: String,
                   iters: Int = 12, converged: Boolean = true): DataFrame =
    GraphOps.eccentricity(spark, edgesStd(src, t, dst), iters, converged)

  def wlRefinement(src: String, t: String, dst: String,
                   rounds: Int = 3): DataFrame =
    GraphOps.wlRefine(spark, edgesStd(src, t, dst), rounds)

  def reciprocity(src: String, t: String, dst: String): DataFrame =
    GraphOps.reciprocity(edgesStd(src, t, dst))

  def transitivity(src: String, t: String, dst: String): DataFrame =
    GraphOps.transitivity(edgesStd(src, t, dst))

  def neighborhoodAgg(src: String, t: String, dst: String): DataFrame =
    GraphOps.neighborhoodAgg(edgesStd(src, t, dst))

  def bipartiteColoring(src: String, t: String, dst: String): DataFrame =
    GraphOps.bipartiteColoring(spark, edgesStd(src, t, dst))

  def personalizedPageRank(src: String, t: String, dst: String,
                           source: Long): DataFrame =
    GraphOps.personalizedPageRank(spark, edgesStd(src, t, dst), Seq(source))

  def sampleNeighbors(src: String, t: String, dst: String, k: Int): DataFrame =
    GraphOps.sampleNeighbors(edgesStd(src, t, dst), k)

  def randomWalk(src: String, t: String, dst: String, root: Long,
                 steps: Int = 10): DataFrame =
    GraphOps.randomWalks(spark, edgesStd(src, t, dst), Seq(root), steps)

  /** GraphFrames-style motif matching over one edge type; see [[Motif]]
    * for the pattern grammar.
    */
  def findMotif(src: String, t: String, dst: String,
                pattern: String): DataFrame =
    Motif.find(edgesStd(src, t, dst), pattern)
}
