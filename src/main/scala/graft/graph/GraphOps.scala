package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph operators over an edge DataFrame with columns (src: long, dst: long).
  *
  * Re-expresses the reference's graph table functions
  * (`src/functions/table/hop.cpp`, `edges_vertex.cpp`,
  * `src/functions/scalar/bfs.cpp`) as declarative Spark plans:
  *
  *  - `oneHop`   — `read_edges` + pushed src filter (reference: CSR offset
  *                 seek, `read_edges.cpp:114-153`). Here: a filter Catalyst
  *                 pushes into the scan.
  *  - `twoHop`   — reference `two_hop` (`hop.cpp:104-135`): emits 1-hop
  *                 edges, then the out-edges of every 1-hop neighbor,
  *                 frontier kept *with duplicates* (`hop.cpp:126-129`) — an
  *                 inner join against the non-distinct frontier reproduces
  *                 exactly that multiplicity.
  *  - `oneMoreHop` — reference `one_more_hop` (`hop.cpp:188-225`): frontier
  *                 dedup'd (unordered_set, `hop.hpp:82`) and second-hop
  *                 edges additionally require dst ∈ frontier — two
  *                 semi-joins.
  *  - `degrees`  — reference `edges_vertex` (`edges_vertex.cpp:132-194`):
  *                 out-degree per source vertex. The reference reads CSR
  *                 offset files; over a generic edge table the scalable
  *                 plan is a map-side-combined count per key.
  *  - `bfsLength`/`bfsExists` — reference `bfs_length`/`bfs_exist`
  *                 (`bfs.cpp:19-163`): single-threaded queue BFS with an
  *                 O(V) visited array. At 100TB that collapses (see
  *                 BASELINE.md: 300+s self-paths); here: driver-orchestrated
  *                 distributed frontier expansion — each iteration is one
  *                 hash join + distinct + anti-join, all map-side
  *                 combinable, with localCheckpoint to cut lineage.
  *
  * At cluster scale: `edges` should be persisted and, for repeated BFS /
  * hop queries, pre-partitioned by `src` (`repartition($"src")` or a
  * bucketed table) so every frontier join co-locates without a shuffle of
  * the edge side.
  */
object GraphOps {

  /** Vertex-count ceiling for broadcasting the per-round O(V) score /
    * label / frontier vectors of the fixed-round iterative tier
    * (pageRank, hits, katz, coreness, WL, …). Measured motivation
    * (guide §2.4/§3.1): each round's vector is a `localCheckpoint`ed
    * LogicalRDD with UNKNOWN stats, so Catalyst never auto-broadcasts
    * it and every round paid a sort-merge join — a full shuffle+sort of
    * the static cached edge table per round. Below the ceiling the
    * vector is broadcast (only O(V) rows move per round, the edge table
    * never leaves its cache partitions); above it the join falls back
    * to the co-partitioned shuffle plan, whose edge side is
    * pre-partitioned ONCE at persist time. Default 4M rows ≈ 100-300 MB
    * built — modest for executors, far above the bench graphs, far
    * below a 100 TB vertex set. */
  private def iterBroadcastMaxVertices(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.iter.broadcastMaxVertices")
      .map(_.toLong).getOrElse(4000000L)

  /** Broadcast hint for a per-round vector, under the measured guard. */
  private def bcIf(small: Boolean)(df: DataFrame): DataFrame =
    if (small) broadcast(df) else df

  /** 1-hop out-neighborhood: all edges with the given source. */
  def oneHop(edges: DataFrame, vid: Long): DataFrame =
    edges.filter(col("src") === vid)

  /** Reference `two_hop` semantics: 1-hop edges ∪ out-edges of each 1-hop
    * neighbor, duplicate-preserving (a neighbor reached twice contributes
    * its out-edges twice — `hop.cpp:126-129`).
    */
  def twoHop(edges: DataFrame, vid: Long): DataFrame = {
    val h1 = oneHop(edges, vid)
    // Non-distinct frontier: inner join multiplies by frontier multiplicity.
    // The frontier is one vertex's out-neighborhood — broadcast it so the
    // edge side never shuffles (at 100TB the edge table stays in place).
    val frontier = broadcast(h1.select(col("dst").as("m")))
    val second = edges.join(frontier, col("src") === col("m"))
      .select(col("src"), col("dst"))
    h1.select(col("src"), col("dst")).unionAll(second)
  }

  /** Reference `one_more_hop` semantics: 1-hop edges ∪ second-hop edges
    * whose src AND dst are both in the (dedup'd) 1-hop frontier.
    */
  def oneMoreHop(edges: DataFrame, vid: Long): DataFrame = {
    val h1 = oneHop(edges, vid)
    val frontier = broadcast(h1.select(col("dst")).distinct())
    val second = edges
      .join(frontier.select(col("dst").as("f1")), col("src") === col("f1"), "left_semi")
      .join(frontier.select(col("dst").as("f2")), col("dst") === col("f2"), "left_semi")
    h1.select(col("src"), col("dst")).unionAll(second.select(col("src"), col("dst")))
  }

  /** Out-degree per source vertex: (degree, grapharId) like the reference's
    * `edges_vertex` (`edges_vertex.cpp:53-56`). Partial (map-side) counts
    * make the shuffle O(distinct vertices), not O(edges).
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("grapharId"))
      .agg(count(lit(1)).as("degree"))
      .select(col("degree"), col("grapharId"))

  /** Skew-resistant degree count: two-phase aggregation with an explicit
    * salt — phase 1 shuffles on (vertex, salt) so a hot vertex's edges
    * spread over `salts` reducers, phase 2 combines the partials. Same
    * result as [[degrees]] (verified by oracle); use when a power-law
    * graph makes single-key partitions spill.
    */
  def degreesSalted(edges: DataFrame, salts: Int = 16): DataFrame =
    edges
      .withColumn("salt", pmod(col("dst"), lit(salts)))
      .groupBy(col("src"), col("salt"))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("src").as("grapharId"))
      .agg(sum(col("partial")).as("degree"))
      .select(col("degree"), col("grapharId"))

  def maxDegree(edges: DataFrame): DataFrame =
    degrees(edges).agg(max(col("degree")).as("max_degree"))

  def degreeDistribution(edges: DataFrame): DataFrame =
    degrees(edges).groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))

  /** Unweighted shortest-path length via distributed frontier expansion.
    * Returns -1 if unreachable within maxDepth, 0 if src == dst.
    *
    * Scale notes: one shuffle join per level over only the frontier;
    * `visited` stays distributed (anti-join, never collected);
    * localCheckpoint truncates lineage so deep searches don't re-execute
    * the whole history each level.
    */
  def bfsLength(spark: SparkSession, edges: DataFrame, srcId: Long, dstId: Long,
                maxDepth: Int = 10): Long = {
    if (srcId == dstId) return 0L
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    // visited = the union view over already-checkpointed frontiers — each
    // level's anti-join reads cached partitions; nothing is re-written
    var visitedParts = List(Seq(srcId).toDF("v"))
    var frontier = visitedParts.head
    var frontierSize = 1L
    var depth = 0L
    while (depth < maxDepth) {
      depth += 1
      // the previous level's stats give the frontier's exact size (lazy
      // checkpoints hide it from the planner): small frontiers broadcast
      // so the edge side NEVER shuffles — the frontier-join design every
      // level; past the cap fall back to a shuffle join (huge frontiers
      // must stay distributed)
      val f = frontSide(frontier.select(col("v")), frontierSize)
      val next = e.join(f, e("src") === col("v"))
        .select(col("dst").as("v")).distinct()
        .join(visitedParts.reduce(_ unionAll _), Seq("v"), "left_anti")
        .localCheckpoint(false) // lazy: the stats job materializes it
      // one driver round-trip per level: frontier size + target hit
      val stats = next.agg(count(lit(1)).as("n"),
        sum(when(col("v") === dstId, 1L).otherwise(0L)).as("hit")).collect()(0)
      if (stats.getLong(0) == 0) return -1L // count first: sum is null on empty
      if (stats.getLong(1) > 0) return depth
      visitedParts ::= next
      frontier = next
      frontierSize = stats.getLong(0)
    }
    -1L
  }

  /** Frontier rows per level below which the frontier side of the
    * expansion join broadcasts (known exactly from the previous level's
    * stats). ~8 bytes/row → 8 MB at the default.
    */
  val BroadcastFrontierCap = 1000000L

  /** Safety cap for `converged = true` iterative operators: the loop
    * runs to its driver-checked empty-delta fixed point, and this cap
    * only fences a semantically-impossible runaway (every converged
    * loop here is provably finite — monotone state or shrinking
    * frontier — so hitting the cap means a bug, not a big graph). */
  val ConvergedCap = 100000

  private def frontSide(f: DataFrame, size: Long): DataFrame =
    if (size <= BroadcastFrontierCap) broadcast(f) else f

  def bfsExists(spark: SparkSession, edges: DataFrame, srcId: Long, dstId: Long,
                maxDepth: Int = 10): Boolean =
    bfsLength(spark, edges, srcId, dstId, maxDepth) != -1L

  /** Batched BFS: all `pairs` advance through ONE frontier join per level
    * (the frontier carries a pair id), instead of one whole BFS — with
    * its per-level job latency — per pair. For a query batch of P pairs
    * at depth L this is L jobs total, not P×L; per-pair early exit still
    * applies (finished pairs leave the frontier). Returns
    * (src, dst, length) in input order with [[bfsLength]] semantics.
    */
  def bfsLengths(spark: SparkSession, edges: DataFrame,
                 pairs: Seq[(Long, Long)], maxDepth: Int = 10): Seq[(Long, Long, Long)] = {
    import spark.implicits._
    val results = scala.collection.mutable.Map.empty[Int, Long]
    val active0 = pairs.zipWithIndex.flatMap { case ((s0, d0), i) =>
      if (s0 == d0) { results(i) = 0L; None } else Some((i, s0, d0))
    }
    if (active0.nonEmpty) {
      val e = edges.select(col("src"), col("dst"))
      val targets = typedLit(active0.map { case (i, _, d0) => i -> d0 }.toMap)
      var frontier = active0.map { case (i, s0, _) => (i, s0) }.toDF("pid", "v")
      var frontierSize = active0.size.toLong
      // union view over checkpointed frontiers (see bfsLength)
      var visitedParts = List(frontier)
      var activePids = active0.map(_._1).toSet
      var depth = 0L
      while (activePids.nonEmpty && depth < maxDepth) {
        depth += 1
        // lazy checkpoint: the per-level stats job materializes it;
        // small frontiers broadcast (size known from last level's stats)
        val f = frontSide(frontier, frontierSize)
        val next = e.join(f, e("src") === f("v"))
          .select(col("pid"), col("dst").as("v")).distinct()
          .join(visitedParts.reduce(_ unionAll _), Seq("pid", "v"), "left_anti")
          .localCheckpoint(false)
        // one driver round-trip per LEVEL for the whole batch: per-pair
        // frontier size + target-hit flag (P rows, never data-sized)
        val stats = next.groupBy(col("pid"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("v") === element_at(targets, col("pid")), 1L)
              .otherwise(0L)).as("hit"))
          .collect()
        val perPid = stats.map(r => r.getInt(0) -> r.getLong(2)).toMap
        activePids.foreach { pid =>
          perPid.get(pid) match {
            case None => results(pid) = -1L // frontier exhausted
            case Some(hit) if hit > 0 => results(pid) = depth
            case _ => ()
          }
        }
        activePids = activePids.filterNot(results.contains)
        if (activePids.nonEmpty) {
          visitedParts ::= next
          frontier = next.filter(col("pid").isInCollection(activePids))
          frontierSize = stats.filter(r => activePids.contains(r.getInt(0)))
            .map(_.getLong(1)).sum
        }
      }
      activePids.foreach(results(_) = -1L)
    }
    pairs.zipWithIndex.map { case ((s0, d0), i) => (s0, d0, results(i)) }
  }

  /** Edge count below which [[bfsLengthsAuto]] collects the adjacency
    * into a compact CSR and answers the whole batch in memory. Sized for
    * what the collect transiently materializes on the driver (boxed rows,
    * ~50-80 B/edge) — same reasoning as
    * [[GraphSqlFunctions.register]]'s guard. Override per session with
    * `spark.graft.bfs.maxBroadcastEdges`.
    */
  val DefaultCsrMaxEdges = 8000000L

  /** Cost-based BFS: picks the execution strategy from the edge count,
    * the way Spark picks broadcast-hash vs sort-merge joins from table
    * sizes. Below the threshold the adjacency is collected once into a
    * compact CSR (int offsets + long targets) and every pair runs as an
    * in-memory early-exit BFS — a single Spark job regardless of depth,
    * which beats the per-level job latency of the distributed loop by
    * orders of magnitude on small graphs (this is the reference's
    * single-node design, `bfs.cpp:94-134`, kept only where it is safe).
    * At or past the threshold it falls back to [[bfsLengths]], the
    * distributed frontier join with no single-machine bound.
    *
    * `edgeCount` avoids a counting job when the caller already knows it
    * (connector metadata, a prior count); pass -1 to have it counted.
    */
  def bfsLengthsAuto(spark: SparkSession, edges: DataFrame,
                     pairs: Seq[(Long, Long)], maxDepth: Int = 10,
                     edgeCount: Long = -1L): Seq[(Long, Long, Long)] = {
    val threshold = spark.conf.getOption("spark.graft.bfs.maxBroadcastEdges")
      .map(_.toLong).getOrElse(DefaultCsrMaxEdges)
    val n = if (edgeCount >= 0) edgeCount else edges.count()
    if (n <= threshold) {
      // CSR path reads the edge table exactly once (the collect) — a
      // caller-side persist+materialize pass would be pure overhead here
      val csr = GraphSqlFunctions.buildCsr(spark, edges.select(col("src"), col("dst")))
      pairs.map { case (s0, d0) =>
        (s0, d0, GraphSqlFunctions.bfs(csr, s0, d0, maxDepth))
      }
    } else {
      // distributed frontier loop touches the edge table once per level —
      // pin it here (unless the caller already did) so callers don't have
      // to pre-materialize for the CSR case they can't predict
      val pinned = edges.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      val e = if (pinned)
        edges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else edges
      try bfsLengths(spark, e, pairs, maxDepth)
      finally if (pinned) e.unpersist(blocking = false)
    }
  }

  /** Undirected simple edge set (self-loops and duplicate/reverse edges
    * collapsed), canonical a<b.
    */
  private def undirectedSimple(edges: DataFrame): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Degree-ordered orientation: each undirected edge points from its
    * (degree, id)-smaller endpoint to the larger. The order is total, so
    * every triangle has exactly one source vertex, and the wedge fan-out
    * at any vertex is bounded by its ORIENTED out-degree — O(√E) — not
    * its raw degree. This is the classic hub-skew refinement: under
    * plain a<b orientation a hub of degree d contributes O(d²) wedge
    * pairs; here high-degree vertices sit late in the order and receive
    * edges instead of fanning them out. Returns (x, y, ky) with
    * ky = struct(deg_y, y), the orientation key wedges canonicalize by.
    */
  private def orientedEdges(edges: DataFrame): DataFrame = {
    val und = undirectedSimple(edges)
    val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val ka = struct(col("da").as("d"), col("a").as("i"))
    val kb = struct(col("db").as("d"), col("b").as("i"))
    und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(ka < kb, col("a")).otherwise(col("b")).as("x"),
        when(ka < kb, col("b")).otherwise(col("a")).as("y"),
        when(ka < kb, kb).otherwise(ka).as("ky"))
  }

  /** Each triangle exactly once, as its (source, mid, far) vertex triple
    * under the degree order: wedge pairs at every source (`o` is the
    * [[orientedEdges]] table, persisted by the caller — it is read three
    * times) joined against the oriented closing edge.
    *
    * `smallO = true` broadcasts the oriented table on both probe arms
    * (guide §3.1): the wedge stream — Σ od², the dominant intermediate —
    * then never shuffles; only the post-explode partial aggregation
    * does. Callers set it from a MEASURED edge count against
    * [[trussBroadcastMaxEdges]] (never from Catalyst's estimate, which
    * sees an InMemoryRelation above the broadcast threshold and picks
    * sort-merge: at sf0.1 that shuffled ~80M wedge rows per pass).
    * Results are identical either way — the join strategy cannot change
    * the triple set.
    */
  private def triplesOf(o: DataFrame, smallO: Boolean = false): DataFrame = {
    def bc(df: DataFrame): DataFrame = if (smallO) broadcast(df) else df
    val wedges = o.select(col("x"), col("y").as("u"), col("ky").as("ku"))
      .join(bc(o.select(col("x"), col("y").as("w"), col("ky").as("kw"))), "x")
      .filter(col("ku") < col("kw"))
      .select(col("x"), col("u"), col("w"))
    wedges.join(bc(o.select(col("x").as("u"), col("y").as("w"))), Seq("u", "w"))
      .select(col("x"), col("u"), col("w"))
  }

  /** Edge-count ceiling for broadcasting an oriented-edge table into the
    * wedge joins: (x, y, ky) rows are ~32 bytes, so the default 4M caps
    * the broadcast near 128 MB — modest for executors, far above the
    * bench graphs, far below a 100 TB edge table (which keeps the
    * shuffled plan). */
  private def trussBroadcastMaxEdges(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.truss.broadcastMaxEdges")
      .map(_.toLong).getOrElse(4000000L)

  /** Run `f` over the oriented-edge table. Eager (the default): persist
    * the oriented table (it is read three times), materialize the
    * (small — aggregated) result with an eager localCheckpoint, and
    * unpersist the intermediate so repeated calls don't accumulate
    * cached blocks for the session's lifetime — the same
    * materialize-then-release shape as [[pageRank]]/[[sssp]]/[[kCore]].
    * Non-eager: return the fully-lazy composable plan (no caching, no
    * checkpoint) — for plan inspection and callers who manage caching.
    */
  private def withOriented(edges: DataFrame, eager: Boolean)
                          (f: (DataFrame, Boolean) => DataFrame): DataFrame =
    if (!eager) f(orientedEdges(edges), false)
    else {
      val spark = edges.sparkSession
      val o = orientedEdges(edges).persist(StorageLevel.MEMORY_AND_DISK)
      // the count doubles as the cache materialization the three reads
      // below need anyway, and is the MEASURED broadcast guard for the
      // wedge joins (triplesOf smallO)
      val n = o.count()
      try f(o, n <= trussBroadcastMaxEdges(spark)).localCheckpoint(true)
      finally o.unpersist(blocking = false)
    }

  /** Triangle count over the undirected simple graph. Degree-ordered
    * orientation (see [[orientedEdges]]) keeps the wedge join skew-proof;
    * results are identical to the naive a<b 3-way join (each triangle
    * counted exactly once), pinned by the DuckDB oracle.
    */
  def triangleCount(edges: DataFrame, eager: Boolean = true): DataFrame =
    withOriented(edges, eager)((o, small) =>
      triplesOf(o, small).agg(count(lit(1)).as("n_triangles")))

  /** DOULION-style approximate triangle count: sparsify the undirected
    * simple edge set by a DETERMINISTIC md5-hash coin (keep probability
    * p = 1/`inv`), count triangles exactly on the sample with the same
    * degree-ordered wedge join as [[triangleCount]], and scale by
    * 1/p³ = inv³. This is the honest path past the scale where exact
    * wedge volume (~E^1.5 on power-law graphs) stops being feasible —
    * the sample's wedge work shrinks by ~p², and the estimator is
    * unbiased with relative error ~1/√(p³·T).
    *
    * Everything is integer arithmetic (inv³ is an exact integer
    * multiplier) and the coin is the shared md5-prefix hash, so the
    * ESTIMATE ITSELF is reproducible bit-for-bit by the DuckDB oracle —
    * the accuracy-vs-exact contract is spec-tested separately.
    */
  def triangleCountApprox(edges: DataFrame, inv: Int = 4,
                          seed: String = "tri",
                          eager: Boolean = true): DataFrame = {
    require(inv >= 1, s"inv must be >= 1, got $inv")
    val threshold = (1L << 32) / inv // keep iff 32-bit hash < 2^32/inv
    // The coin is a pure function of the canonical pair, so it commutes
    // with dedup — apply it to the RAW canonicalized rows, BEFORE the
    // distinct: the coin is a map-side codegen filter, while the
    // distinct is the first shuffle, and pre-filtering shrinks that
    // shuffle (and everything downstream) by ~1/inv. Same result set.
    val kept = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .filter(
        conv(substring(md5(concat(lit(seed + "-"), col("a").cast("string"),
          lit("_"), col("b").cast("string"))), 1, 8), 16, 10).cast("long")
          < threshold)
      .select(col("a").as("src"), col("b").as("dst"))
    triangleCount(kept, eager)
      .select(col("n_triangles").as("n_sampled"),
        (col("n_triangles") * lit(inv.toLong * inv * inv)).as("est_triangles"))
  }

  /** Per-vertex local clustering coefficient over the undirected simple
    * graph: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) where tri(v) counts
    * triangles containing v. The ratio is ONE IEEE division of exact
    * integers, so it is cross-engine bit-stable.
    *
    * Scale notes: triangles come from the degree-ordered wedge join
    * ([[orientedEdges]] / [[triplesOf]] — hub fan-out bounded by oriented
    * out-degree, not raw degree); per-triangle rows explode ×3 into
    * (vertex, 1) pairs for a map-side-combinable count, and the degree
    * side is one map-side-combinable count over the undirected edge set.
    * Output is O(V) rows, eagerly materialized (default) so the cached
    * intermediates can be unpersisted before returning; `eager = false`
    * returns the lazy uncached plan.
    */
  def clusteringCoefficients(edges: DataFrame, eager: Boolean = true): DataFrame = {
    val und0 = undirectedSimple(edges)
    val und = if (eager) und0.persist(StorageLevel.MEMORY_AND_DISK) else und0
    try {
      val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      withOriented(und.select(col("a").as("src"), col("b").as("dst")), eager) { (o, small) =>
        val tri = triplesOf(o, small)
          .select(explode(array(col("x"), col("u"), col("w"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("tri"))
        deg.join(tri, Seq("v"), "left")
          .select(col("v"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
          .withColumn("lcc",
            when(col("deg") >= 2,
              col("tri") * lit(2.0) / (col("deg") * (col("deg") - 1)))
              .otherwise(lit(0.0)))
      }
    } finally if (eager) und.unpersist(blocking = false)
  }

  /** Edge reciprocity of the directed simple graph: the fraction of
    * (non-loop, deduplicated) directed edges whose reverse edge also
    * exists — the standard directed-network symmetry statistic.
    * Returns ONE row (n_edges, n_mutual, reciprocity_micro) with
    * reciprocity_micro = ⌊10⁶·n_mutual/n_edges⌋ in exact integer
    * floor-division (no fp anywhere).
    *
    * Scale shape: one distinct on (src,dst), then a LEFT SEMI self-join
    * on the swapped key — both sides are the SAME hash-partitioned
    * relation, so the mutual test co-locates without a broadcast, and
    * the two counts are map-side-combinable aggregates. Nothing here is
    * hub-sensitive: a hub's edges land on many reducers by (src,dst)
    * pair, not by vertex.
    */
  def reciprocity(edges: DataFrame): DataFrame = {
    val simple = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rev = simple.select(col("dst").as("src"), col("src").as("dst"))
    val mutual = simple.join(rev, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_mutual"))
    val res = simple.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(mutual))
      .select(col("n_edges"), col("n_mutual"),
        expr("(1000000 * n_mutual) div n_edges").as("reciprocity_micro"))
      .localCheckpoint(true)
    simple.unpersist(blocking = false)
    res
  }

  /** Global transitivity (a.k.a. global clustering coefficient) of the
    * undirected simple graph: 3·triangles / wedges, where a wedge is an
    * unordered path of length 2 (Σ_v deg(v)·(deg(v)−1)/2). Returns ONE
    * row (n_triangles, n_wedges, transitivity_micro) — the corpus-level
    * summary the per-vertex [[clusteringCoefficients]] doesn't give.
    *
    * Determinism: both counts are exact BIGINTs (deg·(deg−1) is even,
    * so the /2 is an exact integer); the ratio is quantized by exact
    * integer floor-division — no fp.
    *
    * Scale shape: the triangle side rides [[triangleCount]]'s
    * degree-ordered orientation (wedge fan-out bounded by oriented
    * out-degree ~O(√E), the hub defense); the wedge side is one
    * map-combinable degree aggregation. The two 1-row aggregates meet
    * in a broadcast.
    */
  def transitivity(edges: DataFrame): DataFrame = {
    val und = undirectedSimple(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val tri = triangleCount(
      und.select(col("a").as("src"), col("b").as("dst")))
    val wedges = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .agg(sum(expr("(deg * (deg - 1)) div 2")).as("n_wedges"))
    val res = tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          expr("(3000000 * n_triangles) div n_wedges"))
          .otherwise(lit(0L)).as("transitivity_micro"))
      .localCheckpoint(true)
    und.unpersist(blocking = false)
    res
  }

  /** Two rounds of GNN-style mean neighborhood aggregation over the
    * undirected simple graph, with feature f(v) = deg(v): layer 1 is
    * ⌊10⁶·Σ_{u∈N(v)} deg(u) / deg(v)⌋ — i.e. the average-nearest-
    * neighbor degree knn(v), the standard degree-correlation function —
    * and layer 2 re-aggregates layer 1's output the same way. This is
    * exactly the message-passing forward pass a GraphSAGE-mean feature
    * pipeline runs before training, determinized to exact BIGINT
    * floor-division (micro-units) so the full per-vertex output
    * hash-checks cross-engine.
    *
    * Scale shape: the adjacency table is built once, persisted, and
    * hash-partitioned by neighbor for BOTH rounds (same join key →
    * exchange reuse); each round is one join of the O(V) feature vector
    * against the static adjacency plus one map-side-combinable sum —
    * the per-round cost profile of [[pageRank]], and a hub's incoming
    * messages combine map-side. Rounds generalize to k layers.
    */
  def neighborhoodAgg(edges: DataFrame): DataFrame = {
    val und = undirectedSimple(edges)
    val adj = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def layer(feat: DataFrame, c: String, out: String): DataFrame =
      adj.join(feat.withColumnRenamed("v", "u"), "u")
        .groupBy(col("v")).agg(sum(col(c)).as("s"))
        .join(deg, "v")
        .select(col("v"), expr(s"(1000000 * s) div deg").as(out))
    val h1 = layer(deg.select(col("v"), col("deg")), "deg", "h1_micro")
      .localCheckpoint(true)
    // layer 2 consumes micro-scaled h1, so the mean keeps micro units:
    // ⌊Σ h1_micro / deg⌋
    val h2 = adj.join(h1.withColumnRenamed("v", "u"), "u")
      .groupBy(col("v")).agg(sum(col("h1_micro")).as("s"))
      .join(deg, "v")
      .select(col("v"), expr("s div deg").as("h2_micro"))
    val res = deg.join(h1, "v").join(h2, "v")
      .select(col("v"), col("deg"), col("h1_micro"), col("h2_micro"))
      .localCheckpoint(true)
    adj.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    res
  }

  /** Per-vertex core numbers ("coreness") by H-index iteration (Lü et
    * al., Nature Physics 2016): start from c₀(v) = deg(v) and
    * repeatedly set c_{r+1}(v) = H-index of v's neighbors' current
    * values — the largest h such that ≥ h neighbors have c ≥ h. The
    * sequence is monotone non-increasing and converges EXACTLY to the
    * k-core decomposition; `rounds` is fixed (pinned semantics — the
    * oracle unrolls the same rounds, so even a pre-convergence state
    * hash-checks; convergence on the gate graph is spec-asserted).
    * Pass `converged = true` on a REAL graph: the loop then runs to a
    * driver-checked empty-delta fixed point (one anti-join per round;
    * `rounds` is ignored) — the exact decomposition regardless of the
    * graph's iteration depth, so a caller can't silently get a partial
    * one from a too-small round budget.
    * This is the whole-decomposition complement of [[kCore]] (which
    * extracts ONE k's subgraph).
    *
    * Scale shape (the H-index is the hub hazard): the textbook
    * per-vertex sort of neighbor values would range-sort a 2.7M-row
    * group on one reducer for the hub. Instead the neighbor values are
    * pre-aggregated to (v, value, cnt) — map-side-combinable, the hub
    * collapses to ≤ |distinct values| rows — and the H-index is read
    * off a cumulative count over that bucketed histogram, whose
    * per-vertex window is bounded by the number of DISTINCT neighbor
    * values (≤ max coreness +1 after round 1), not the degree. Per
    * round: one O(V)-vector join against the static adjacency, one
    * partial agg, one tiny window.
    */
  def corenessHIndex(spark: SparkSession, edges: DataFrame,
                     rounds: Int = 14, converged: Boolean = false): DataFrame = {
    val und = undirectedSimple(edges)
    // v-partitioned static side + measured broadcast guard for the
    // per-round O(V) value vector (see iterBroadcastMaxVertices): under
    // the guard the whole round — broadcast join on u, partial agg on
    // (v, c), the per-vertex window, the final groupBy(v) — runs inside
    // the cached v-partitioning with NO exchange (HashPartitioning(v)
    // satisfies every ClusteredDistribution keyed on v); above it the
    // u-sorted layout feeds the per-round sort-merge join exchange- and
    // sort-free on the edge side.
    val adj0 = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
    val nV = adj0.select(col("v")).distinct().count()
    val small = nV <= iterBroadcastMaxVertices(spark)
    val adj = (if (small) adj0.repartition(col("v"))
      else adj0.repartition(col("u")).sortWithinPartitions(col("u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var c = adj.groupBy(col("v")).agg(count(lit(1)).as("c"))
      .localCheckpoint(converged)
    var r = 0
    var done = false
    val cap = if (converged) ConvergedCap else rounds
    while (r < cap && !done) {
      r += 1
      // histogram of neighbor values per vertex (hub-safe partial agg)
      val hist = adj.join(bcIf(small)(c.withColumnRenamed("v", "u")), "u")
        .groupBy(col("v"), col("c")).agg(count(lit(1)).as("cnt"))
      // H = max over values (descending) of min(value, running count)
      val w = Window.partitionBy(col("v")).orderBy(col("c").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val nxt = hist
        .withColumn("cum", sum(col("cnt")).over(w))
        .groupBy(col("v"))
        .agg(max(least(col("c"), col("cum"))).as("c"))
        .localCheckpoint(converged || r == rounds)
      // values are monotone non-increasing, so an empty (v, c) delta
      // IS the k-core fixed point — one cheap anti-join per round
      if (converged) done = nxt.join(c, Seq("v", "c"), "left_anti").isEmpty
      c = nxt
    }
    graft.util.Timing.convergedRounds("coreness", r)
    val res = c.select(col("v"), col("c").as("coreness"))
      .localCheckpoint(true)
    adj.unpersist(blocking = false)
    res
  }

  /** Weisfeiler–Leman color refinement over the undirected simple
    * graph: iteratively relabel every vertex by (its label, its
    * neighbors' label MULTISET), the 1-WL structural-role
    * fingerprinting that underpins graph-isomorphism tests and bounds
    * GNN expressiveness. Initial label = degree; `rounds` iterations;
    * returns (v, deg, wl, class_size) where `wl` is the final color
    * and class_size the size of v's structural-equivalence class.
    *
    * The neighbor multiset is encoded by a COMMUTATIVE hash — each
    * neighbor label hashes to a 36-bit integer (md5 prefix, fresh seed
    * per round) and the multiset is their exact BIGINT sum — instead
    * of the textbook sort-and-concatenate. That choice is the whole
    * scale story: the sum combines MAP-SIDE (a 2.7M-degree hub never
    * materializes a 2.7M-element collect_list on one reducer), each
    * round is one join of the O(V) label vector against the static
    * persisted adjacency + one partial-agg sum — the per-round profile
    * of [[pageRank]]. 36-bit hashes keep the hub sum < 2⁵⁸, far from
    * BIGINT overflow; multiset collisions need distinct multisets with
    * equal 36-bit-sums under a per-round-seeded hash — vanishing, and
    * any collision only COARSENS the partition (WL is an upper bound
    * by construction). Everything is md5/integer arithmetic, so the
    * refinement is reproduced bit-for-bit by the DuckDB oracle.
    */
  def wlRefine(spark: SparkSession, edges: DataFrame,
               rounds: Int = 3): DataFrame = {
    val und = undirectedSimple(edges)
    // same v-partitioned static side + broadcast guard as
    // [[corenessHIndex]] — the round's join on u broadcasts the O(V)
    // label vector, and the groupBy(v) partial agg then needs no
    // exchange at all
    val adj0 = und.select(col("a").as("v"), col("b").as("u"))
      .unionAll(und.select(col("b").as("v"), col("a").as("u")))
    val nV = adj0.select(col("v")).distinct().count()
    val small = nV <= iterBroadcastMaxVertices(spark)
    val adj = (if (small) adj0.repartition(col("v"))
      else adj0.repartition(col("u")).sortWithinPartitions(col("u")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var lbl = deg.select(col("v"), col("deg").cast("string").as("wl"))
      .localCheckpoint(false)
    var r = 0
    while (r < rounds) {
      r += 1
      val h = conv(substring(md5(concat(lit(s"wl-$r-"), col("wl"))), 1, 9),
        16, 10).cast("long")
      val msg = adj.join(bcIf(small)(lbl.withColumnRenamed("v", "u")), "u")
        .select(col("v"), h.as("hu"))
        .groupBy(col("v")).agg(sum(col("hu")).as("s"))
      lbl = lbl.join(bcIf(small)(msg), "v").join(deg, "v")
        .select(col("v"),
          md5(concat_ws("|", col("wl"), col("s").cast("string"),
            col("deg").cast("string"))).as("wl"))
        .localCheckpoint(r == rounds)
    }
    val classes = lbl.groupBy(col("wl")).agg(count(lit(1)).as("class_size"))
    val res = lbl.join(deg, "v").join(classes, "wl")
      .select(col("v"), col("deg"), col("wl"), col("class_size"))
      .localCheckpoint(true)
    adj.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    res
  }

  /** PageRank (classic simplified form, no dangling-mass redistribution):
    * rank = (1-d) + d · Σ_in rank(u)/outDeg(u), fixed iteration count.
    *
    * Scale notes: per iteration one join of the static (degree-annotated)
    * edge table against the rank vector and one map-side-combinable sum —
    * the edge table never moves, so pre-bucketing it by src makes every
    * iteration shuffle only the O(V) rank vector. Checkpointed per round.
    * Gate: hash-checked against an unrolled power-iteration DuckDB
    * oracle after quantizing ranks to integer micro-units (raw sums are
    * fp-accumulation-order-dependent; see GraphQueries for the boundary
    * audit), plus spec-tested against a driver-side power iteration.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int = 10,
               damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-round rank vector (see
    // iterBroadcastMaxVertices); the count doubles as the verts cache
    // materialization
    val small = verts.count() <= iterBroadcastMaxVertices(spark)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    // static side partitioned ONCE by the key each round re-uses: under
    // the broadcast guard that is the AGGREGATION key (dst — the
    // broadcast join preserves the cached partitioning, so the per-round
    // partial agg needs no exchange at all); above it, the JOIN key
    // (src, sorted so the per-round sort-merge join skips both the
    // exchange and the sort on the edge side)
    val links = e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("odeg"))
    val linksP = (if (small) links.repartition(col("dst"))
      else links.repartition(col("src")).sortWithinPartitions(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = verts.withColumn("rank", lit(1.0)).localCheckpoint(false)
    var i = 0
    while (i < iters) {
      i += 1
      val contribs = linksP.join(bcIf(small)(ranks),
          linksP("src") === ranks("v"))
        .select(col("dst").as("v"), (col("rank") / col("odeg")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("in_sum"))
      ranks = verts.join(bcIf(small)(contribs), Seq("v"), "left")
        .select(col("v"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .localCheckpoint(i == iters) // lazy mid-stream; eager on the last
    }
    linksP.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    ranks
  }

  /** Deterministic distributed maximal matching (the handshake variant
    * of Israeli–Itai): per round, every vertex proposes its
    * minimum-PRIORITY alive incident edge — priority is a per-round
    * md5 of (round, a, b), the [[maximalIndependentSet]] symmetry
    * breaker — and an edge joins the matching iff BOTH endpoints
    * propose it; matched vertices retire with all their edges. Fresh
    * random-but-deterministic priorities each round break the hub
    * serialization a FIXED order suffers (under lexicographic order
    * every neighbor of a low-id hub proposes the same edge — measured
    * ~25 matches/round on the gate graph vs ~1300 with hashed
    * priorities) and give the expected-constant-fraction-per-round
    * convergence of the randomized algorithm, while staying
    * oracle-checkable: the unrolled oracle replays the same hashes,
    * and the FIXED round count keeps parity even pre-convergence.
    * Returns the matched (a, b) edges, a < b. Maximal matching is the
    * standard coarsening primitive for multilevel graph partitioning.
    *
    * Scale notes: each round is per-vertex min over alive incident
    * edges (map-side combinable — the hub's proposals combine before
    * the shuffle), one equi-join pair to test mutuality, and two
    * anti-joins to retire matched endpoints; the alive set only
    * shrinks, and decided matches accumulate outside the loop.
    */
  def maximalMatching(spark: SparkSession, edges: DataFrame,
                      rounds: Int = 6, seed: String = "match"): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    var alive = undirectedSimple(edges).localCheckpoint(true)
    var matched = List.empty[DataFrame]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      // ties under the (h, a, b) order resolve by the edge key, so a
      // (2^-61-improbable) hash collision still picks deterministically
      val withH = alive.withColumn("h", expr(
        s"cast(conv(substr(md5(concat('$seed-$r-', cast(a as string), " +
          s"'-', cast(b as string))), 1, 15), 16, 10) as bigint)"))
      val inc = withH.select(col("a").as("v"), col("h"), col("a"), col("b"))
        .unionAll(withH.select(col("b").as("v"), col("h"), col("a"), col("b")))
      val prop = inc.groupBy(col("v"))
        .agg(min(struct(col("h"), col("a"), col("b"))).as("e"))
        .select(col("v"), col("e.a").as("pa"), col("e.b").as("pb"))
      val m = alive
        .join(prop.select(col("v").as("a"),
          col("pa").as("paa"), col("pb").as("pab")), "a")
        .join(prop.select(col("v").as("b"),
          col("pa").as("pba"), col("pb").as("pbb")), "b")
        .filter(col("paa") === col("a") && col("pab") === col("b") &&
          col("pba") === col("a") && col("pbb") === col("b"))
        .select(col("a"), col("b"))
        .localCheckpoint(true) // reused: result union + retirement joins
      matched ::= m
      val mv = m.select(col("a").as("v"))
        .unionAll(m.select(col("b").as("v")))
      alive = alive
        .join(mv.withColumnRenamed("v", "a"), Seq("a"), "left_anti")
        .join(mv.withColumnRenamed("v", "b"), Seq("b"), "left_anti")
        .localCheckpoint(true)
      done = alive.isEmpty
    }
    graft.util.Timing.convergedRounds("matching", r)
    // rounds == 0 (or an initially empty graph) yields no per-round
    // frames — an empty matching, not an error
    matched.reduceOption(_ unionAll _)
      .getOrElse(alive.filter(lit(false)).select(col("a"), col("b")))
  }

  /** Distributed (Δ+1)-coloring by deterministic RANDOM COLOR TRIAL
    * (Johansson's algorithm, the Barenboim–Elkin "simple randomized"
    * form, derandomized here with md5 hashes so the result is a pure
    * function of (graph, seed) and DuckDB-oracle-checkable): per
    * round, every UNCOLORED vertex hash-picks a candidate color
    * uniformly from its AVAILABLE palette [0..deg(v)] minus its
    * already-colored neighbors' colors; adjacent same-candidate picks
    * are resolved by a round-salted (priority, v) order — the strict
    * max keeps, the rest retry next round. Winners are proper by
    * construction (candidate ∉ colored-neighbor colors; same-round
    * adjacent winners differ by the conflict rule), and color(v) ≤
    * deg(v), so the total palette is the same Δ+1 bound greedy gives.
    * FIXED round count for oracle parity; vertices still uncolored
    * after `rounds` are absent from the output (a valid partial
    * coloring); `converged = true` ignores `rounds` and runs until the
    * undecided set is empty — a TOTAL proper coloring on any graph
    * (the loop early-exits there; each round the globally max-(p, v)
    * undecided vertex always keeps its pick, so progress is
    * guaranteed). Returns (v, color).
    *
    * Why color TRIAL and not priority peeling (Jones–Plassmann / the
    * Luby-MIS shape this op used through round 9): every
    * one-independent-set-per-round scheme colors AT MOST ONE vertex of
    * a clique per round — its fixpoint is lower-bounded by the largest
    * clique, independent of how priorities are drawn (measured: 256
    * rounds with static priorities and 212 with fresh ones at Zipf 1M,
    * whose Zipf head is a ~200-quasi-clique; unconverged after 13,500
    * rounds at Zipf 60M). Random trial has no such bound — a k-clique
    * picks from palettes of size ≥ k−j after j are colored, so a
    * constant fraction of it survives conflict resolution EVERY round
    * and the whole graph converges in O(log n) rounds w.h.p.
    *
    * Scale notes: the candidate pick is a pure column expression (the
    * palette filter materializes one [0..deg] array per undecided
    * vertex per round, transient, never shuffled — the hub's array is
    * deg-bounded and dies with its projection); conflict resolution is
    * one neighbor-max over the undecided-induced edges
    * (map-side combinable); the colored-neighbor color pairs are
    * accumulated INCREMENTALLY (only edges out of this round's winners
    * are scanned, and pairs whose target has been colored are dropped),
    * so per-round cost tracks the shrinking frontier, not E × rounds.
    */
  def trialColoring(spark: SparkSession, edges: DataFrame,
                     rounds: Int = 6, seed: String = "color",
                     converged: Boolean = false): DataFrame = {
    val canon = undirectedSimple(edges)
    val ue = canon.select(col("a").as("s"), col("b").as("t"))
      .unionAll(canon.select(col("b").as("s"), col("a").as("t")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-round O(undecided) pick /
    // winner vectors (they only shrink from V), so the conflict and
    // forbidden-color joins scan the static edge table in place instead
    // of sort-merge-shuffling it every round
    val small = ue.count() <= iterBroadcastMaxVertices(spark)
    // static degree vector: palette of v is [0..deg(v)] (ue holds each
    // undirected simple edge twice, so count(*) per s IS the degree)
    val deg = ue.groupBy(col("s").as("v"))
      .agg(count(lit(1)).as("deg")).localCheckpoint(true)
    var und = deg.select(col("v")).localCheckpoint(true)
    var colored: Option[DataFrame] = None
    // (v, c) pairs: DISTINCT colors already taken in v's neighborhood,
    // for still-undecided v — grown incrementally from winners' edges
    var nbrPairs = ue.select(col("s").as("v"), lit(0L).as("c")).limit(0)
      .localCheckpoint(true)
    // undecided-induced edge set for conflict resolution: shrunk +
    // checkpointed per round in converged mode so late rounds (few
    // survivors) scan only the surviving adjacency
    var live = ue
    var r = 0
    var done = false
    val cap = if (converged) ConvergedCap else rounds
    while (r < cap && !done) {
      r += 1
      def h(salt: String) = expr(
        s"cast(conv(substr(md5(concat('$salt-$r-', cast(v as string))), 1, 15), 16, 10) as bigint)")
      // the candidate pick: uniform (by the 'pick' hash) over the
      // available palette. coalesce: vertices with no colored
      // neighbors have no nbrPairs rows. |avail| >= deg+1-|F| >= 1.
      val pick = und.join(deg, "v")
        .join(nbrPairs.groupBy(col("v")).agg(collect_set(col("c")).as("f")),
          Seq("v"), "left")
        .withColumn("fc", coalesce(col("f"), expr("cast(array() as array<bigint>)")))
        .withColumn("avail", filter(sequence(lit(0L), col("deg")),
          x => !array_contains(col("fc"), x)))
        .withColumn("cand", element_at(col("avail"),
          (pmod(h(seed + "pick"), size(col("avail"))) + 1).cast("int")))
        .withColumn("p", h(seed))
        .select(col("v"), col("p"), col("cand"))
        .localCheckpoint(true) // reused: conflict join both sides + winners
      // conflict resolution: among adjacent undecided picks of the SAME
      // candidate color, the strict max under (p, v) keeps
      val clash = live
        .join(bcIf(small)(pick.select(col("v").as("s"), col("p").as("ps"),
          col("cand").as("cs"))), "s")
        .join(bcIf(small)(pick.select(col("v").as("t"), col("cand").as("ct"))), "t")
        .filter(col("cs") === col("ct"))
        .groupBy(col("t").as("v"))
        .agg(max(struct(col("ps"), col("s"))).as("mx"))
      val winners = pick.join(clash, Seq("v"), "left")
        .filter(col("mx").isNull ||
          struct(col("p").as("ps"), col("v").as("s")) > col("mx"))
        .select(col("v"), col("cand").as("color"))
        .localCheckpoint(true) // reused: colored union + frontier shrink
      val acc = colored.fold(winners)(_ unionAll winners)
      colored = Some(if (converged) acc.localCheckpoint(true) else acc)
      und = und.join(winners, Seq("v"), "left_anti").localCheckpoint(true)
      // incremental forbidden-color growth: only the winners' edges are
      // scanned; pairs whose target got colored this round drop out
      nbrPairs = nbrPairs.unionAll(
          ue.join(bcIf(small)(
              winners.select(col("v").as("s"), col("color").as("c"))), "s")
            .select(col("t").as("v"), col("c")))
        .join(und, Seq("v"), "left_semi")
        .distinct()
        .localCheckpoint(true)
      if (converged) live = live
        .join(und.select(col("v").as("s")), Seq("s"), "left_semi")
        .join(und.select(col("v").as("t")), Seq("t"), "left_semi")
        .localCheckpoint(true)
      done = und.isEmpty
    }
    graft.util.Timing.convergedRounds("coloring", r)
    ue.unpersist(blocking = false)
    // rounds == 0 or an empty graph → no per-round frames: empty coloring
    colored.getOrElse(und.filter(lit(false))
      .select(col("v"), lit(0L).as("color")))
  }

  /** Fixed-point unit of [[simRank]] scores: s_fp = s · 10¹². */
  val SimRankOne: Long = 1000000000000L

  /** SimRank structural similarity (Jeh & Widom 2002): s(a,b) =
    * C/(|I(a)|·|I(b)|) · Σ_{u∈I(a), v∈I(b)} s(u,v) with s(v,v)=1 —
    * "two nodes are similar when their in-neighbors are similar".
    * `rounds` bounded iterations from the diagonal (the paper's
    * fixpoint iteration); the FIXED round count keeps the operator
    * oracle-checkable by an unrolled CTE. Returns canonical (a, b,
    * s_fp) pairs, a < b, scores in [[SimRankOne]] = 10⁻¹² fixed-point
    * units.
    *
    * INTEGER fixed-point throughout (the Louvain-gate trick): C = 3/4
    * exactly, so each round is s' = (3·Σs) div (4·d_a·d_b) — all-long
    * arithmetic, no double anywhere. The pair-sum is then
    * order-INDEPENDENT (fp SimRank scores land exactly on rational grid
    * boundaries like 21/640, where accumulation-order drift flips any
    * fixed quantization either way — measured, not hypothetical), and
    * the truncation loss is ≤ 10⁻¹² per round, far below any use of a
    * similarity score. Overflow headroom: Σs ≤ pairs·10¹² ≪ 2⁶³/3.
    *
    * Scale honesty: exact SimRank pair state is Θ(V²) — the gate runs
    * the induced subgraph, and at corpus scale the estimator of choice
    * is random-walk meeting-probability sampling (the [[randomWalks]]
    * machinery), not this exact iteration. Within its scope the
    * iteration is still shaped right: in-edge list deduplicated,
    * persisted, joined twice per round; the pair-sum is map-side
    * combinable; only the pair-state table reshuffles.
    */
  def simRank(spark: SparkSession, edges: DataFrame,
              rounds: Int = 3): DataFrame = {
    // in-edge list (a ← u), dedup'd: SimRank is defined on simple graphs
    val e = edges.select(col("dst").as("a"), col("src").as("u")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the O(pairs) state table is the BIG side here — under the measured
    // row guard broadcast the static in-edge list (and the O(V) degree
    // vector) onto it, so the per-round joins never shuffle the pair
    // state; only the pair aggregation does (unavoidably). The count
    // doubles as the cache materialization.
    val small = e.count() <= iterBroadcastMaxVertices(spark)
    val ind = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
      .localCheckpoint(false)
    val verts = e.select(col("a").as("v")).unionAll(e.select(col("u").as("v")))
      .distinct()
    val diag = verts.select(col("v").as("a"), col("v").as("b"),
      lit(SimRankOne).as("s"))
    var state = diag.localCheckpoint(false)
    var i = 0
    while (i < rounds) {
      i += 1
      val e1 = e.select(col("a"), col("u").as("x"))
      val e2 = e.select(col("a").as("b"), col("u").as("y"))
      val st = state.select(col("a").as("x"), col("b").as("y"), col("s"))
      val next = bcIf(small)(e1).join(st, "x")
        .join(bcIf(small)(e2), "y")
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(sum(col("s")).as("ssum"))
        .join(bcIf(small)(ind.select(col("a"), col("d").as("da"))), "a")
        .join(bcIf(small)(ind.select(col("a").as("b"), col("d").as("db"))), "b")
        .select(col("a"), col("b"),
          expr("(3 * ssum) div (4 * da * db)").as("s"))
      state = diag.unionAll(next).localCheckpoint(false)
    }
    e.unpersist(blocking = false)
    state.filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("s").as("s_fp"))
  }

  /** Edge-weighted PageRank: rank flows along each edge proportional to
    * the edge's share of its source's total out-weight (uniform weights
    * reduce to [[pageRank]] exactly). Transition shares p = w/Σw are
    * precomputed ONCE into the static persisted link table — per round
    * only the O(V) rank vector joins it, and the in-sum is map-side
    * combinable. Integer-valued weights keep Σw exact in double, so the
    * only fp accumulation-order sensitivity is the in-sum — the same
    * class [[pageRank]]'s micro-quantized gate already audits.
    */
  def pageRankWeighted(spark: SparkSession, edges: DataFrame, iters: Int = 10,
                       damping: Double = 0.85): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // same measured broadcast guard + static-side layout as [[pageRank]]
    val small = verts.count() <= iterBroadcastMaxVertices(spark)
    val outW = e.groupBy(col("src")).agg(sum(col("w")).as("ow"))
    val links = e.join(outW, "src")
      .select(col("src"), col("dst"), (col("w") / col("ow")).as("p"))
    val linksP = (if (small) links.repartition(col("dst"))
      else links.repartition(col("src")).sortWithinPartitions(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ranks = verts.withColumn("rank", lit(1.0)).localCheckpoint(false)
    var i = 0
    while (i < iters) {
      i += 1
      val contribs = linksP.join(bcIf(small)(ranks),
          linksP("src") === ranks("v"))
        .select(col("dst").as("v"), (col("rank") * col("p")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("in_sum"))
      ranks = verts.join(bcIf(small)(contribs), Seq("v"), "left")
        .select(col("v"),
          (lit(1.0 - damping) +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .localCheckpoint(i == iters) // lazy mid-stream; eager on the last
    }
    linksP.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    ranks
  }

  /** Connected components over the UNDIRECTED closure of the edge set:
    * min-label propagation over a STATIC, src-partitioned edge table,
    * accelerated with pointer jumping. Each round:
    *  1. propagate: l(v) ← min(l(v), min over neighbors u of l(u)) —
    *     one join of the cached edge table (pre-partitioned on the join
    *     key, so it is scanned in place and only the O(V) label vector
    *     shuffles) + a map-side-combinable min;
    *  2. jump: l(v) ← min(l(v), l(l(v))) — labels joined against
    *     themselves (label values are vertex ids of the same component,
    *     so l(l(v)) resolves and stays inside the component). Path
    *     doubling: label chains halve per round, so high-diameter
    *     components converge in O(log d) rounds instead of O(d).
    * Fixpoint: labels constant along every edge ⇒ one label per
    * component, and since label values are always ids FROM the component
    * (min id only ever keeps itself), that label is the component's min
    * vertex id — deterministic, oracle-checkable.
    *
    * Design note, measured not assumed (docs/SCALE.md round 5): the
    * alternating large-star/small-star contraction (Kiveris et al.) was
    * implemented and benchmarked as an alternative — 54 s vs 28 s here
    * on the uniform 60M-edge fixture, because each phase re-shuffles and
    * re-distincts the full edge multiset while this shape keeps the edge
    * table static and moves only O(V) labels per round. Delta/frontier
    * propagation was also measured (65 s): unlike BFS, min-label
    * change-sets do NOT shrink geometrically mid-convergence.
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    // LOCAL CONTRACTION first (the two-level / FastSV-style shape): each
    // partition runs an in-memory union-find over ITS slice of the edge
    // set — one embarrassingly-parallel pass, no shuffle — and emits a
    // (vertex, local-root) mapping. Local roots are per-slice component
    // minima, so the global component minimum is its own root in every
    // slice it touches. The iterative phase then runs on the CONTRACTED
    // graph (each vertex links its local roots to their minimum), which
    // is typically 5-10× smaller than the raw undirected edge set —
    // that factor multiplies into every propagation round.
    val canon = undirectedSimple(edges)
    val mapping = canon.select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        import scala.jdk.CollectionConverters._
        parent.keySet().iterator().asScala.map(v => (v, find(v)))
      }.toDF("v", "r")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // a vertex split across slices stitches its local roots together:
    // star edges from each root to the vertex's minimum root. collect_set
    // is bounded by the partition count per vertex, never by degree.
    // persisted around the size probe: when the probe overflows the
    // driver budget, labelPropagate re-consumes this groupBy+explode —
    // without the pin it recomputed from `mapping` a second time
    // (ADVICE r12)
    val contracted = mapping.groupBy(col("v"))
      .agg(min(col("r")).as("rm"), collect_set(col("r")).as("rs"))
      .select(explode(col("rs")).as("src"), col("rm").as("dst"))
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // cost-based iterate-vs-collect: when the CONTRACTED graph fits the
    // driver budget (`spark.graft.cc.maxDriverEdges`, default 1M edges ≈
    // 16 MB of longs), a driver union-find answers it EXACTLY in one
    // collect job instead of label-propagation rounds that are pure
    // job-launch overhead at that size (measured: d_dup_clusters' pair
    // graph spent ~7 s in rounds over a few hundred contracted edges).
    // Same size-driven strategy call as [[bfsLengthsAuto]]; labels are
    // identical — union-by-min-root IS the converged min-label fixpoint.
    val ccMax = spark.conf.getOption("spark.graft.cc.maxDriverEdges")
      .map(_.toLong).getOrElse(1000000L)
    // clamp BEFORE the +1: a conf of Long.MaxValue must not overflow
    // into a negative limit (ADVICE r12)
    val probeN = (math.min(ccMax, Int.MaxValue - 2L) + 1).toInt
    // primitive tuple collect (Tuple2 is @specialized on Long), not
    // boxed GenericRows — the realistic driver footprint at the default
    // 1M-edge budget drops by several × (ADVICE r12)
    val headC = contracted.select(col("src"), col("dst"))
      .as[(Long, Long)].limit(probeN).collect()
    val rootLabels =
      if (headC.length <= ccMax) {
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
          r
        }
        headC.foreach { case (a, b) =>
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        import scala.jdk.CollectionConverters._
        parent.keySet().iterator().asScala.toSeq
          .map(v => (v, find(v))).toDF("v", "component")
      } else labelPropagate(spark, contracted, maxIter)
    // both branches are eager by here (driver collect / converged-count
    // jobs), so the probe pin can be released before the expansion
    contracted.unpersist(blocking = false)
    // expand: every vertex takes its (unique) component via any of its
    // local roots; roots with no cross-slice edge label themselves
    val resolved = mapping
      .join(rootLabels.withColumnRenamed("v", "r"), Seq("r"), "left")
      .groupBy(col("v"))
      .agg(min(coalesce(col("component"), col("r"))).as("component"))
      .select(col("v"), col("component"))
    // vertices whose ONLY edges are self-loops never enter the simple
    // edge set (undirectedSimple drops loops) — they are their own
    // singleton components, not absent rows
    val loners = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct()
      .join(mapping.select(col("v")), Seq("v"), "leftanti")
      .select(col("v"), col("v").as("component"))
    val out = resolved.unionAll(loners).localCheckpoint(true)
    mapping.unpersist(blocking = false)
    out
  }

  /** Min-label propagation + pointer jumping over (src, dst) edges —
    * the iterative core of [[connectedComponents]], run on the
    * contracted root graph. See connectedComponents for semantics.
    */
  private def labelPropagate(spark: SparkSession, edges: DataFrame,
                             maxIter: Int): DataFrame = {
    // distinct() leaves the table hash-partitioned on (src, dst); the
    // per-round join is on src ALONE, so without this repartition every
    // round would re-shuffle the whole O(E) edge table out of cache
    val und = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-round O(V) label vector
    val small = und.count() <= iterBroadcastMaxVertices(spark)
    var labels = und.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(false)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      iter += 1
      val prop = und.join(bcIf(small)(labels), und("src") === labels("v"))
        .select(col("dst").as("v"), col("label"))
      val stepped = labels.unionAll(prop)
        .groupBy(col("v")).agg(min(col("label")).as("label"))
      val next = stepped
        .join(stepped.select(col("v").as("pv"), col("label").as("pl")),
          col("label") === col("pv"))
        .select(col("v"), least(col("label"), col("pl")).as("label"))
        .localCheckpoint(false) // lazy: the changed-count job materializes it
      changed = next
        .join(labels.withColumnRenamed("label", "old"), "v")
        .filter(col("label") < col("old")).count()
      labels = next
    }
    und.unpersist(blocking = false)
    // a non-converged labeling would silently come back WRONG — fail
    // loudly instead (with jumping, rounds ~ log2(diameter))
    if (changed > 0) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations " +
        "(a component's diameter vastly exceeds 2^$maxIter) — raise maxIter")
    labels.select(col("v"), col("label").as("component"))
  }

  /** Single-source shortest paths over weighted edges (`src, dst, w`),
    * bounded Bellman-Ford: `iters` rounds of
    * dᵢ₊₁(v) = min(dᵢ(v), min over e(u,v) of dᵢ(u)+w). After `iters`
    * rounds the result is exact for every path of ≤ iters hops — the
    * bounded form is what a DuckDB oracle can unroll, and all-integer
    * mins make it hash-exact across engines.
    *
    * Scale notes: same shape as [[connectedComponents]] — the static
    * edge table never moves (bucket it by src and every iteration
    * shuffles only the O(V) distance vector); min is map-side
    * combinable; distances checkpointed per round so lineage stays flat.
    */
  def sssp(spark: SparkSession, edges: DataFrame, source: Long,
           iters: Int = 8): DataFrame = {
    // pre-partition on the per-round join key so the static edge table
    // is never re-shuffled across iterations (see connectedComponents)
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var dist = spark.range(1)
      .select(lit(source).cast("long").as("v"), lit(0L).as("d"))
    // FRONTIER relaxation — per-round results identical to full
    // Bellman-Ford (an unchanged u's d(u)+w term was already folded into
    // d(v) the round u last changed; min is monotone), so the unrolled
    // oracle is untouched — but each round relaxes only the out-edges of
    // vertices whose distance improved, and small frontiers broadcast
    // (the BFS shape). Early exit on an empty frontier is a no-op
    // tail-cut: further rounds could not change anything.
    var frontier = dist
    var frontierSize = 1L
    var i = 0
    while (i < iters && frontierSize > 0) {
      i += 1
      val f = frontSide(
        frontier.select(col("v").as("u"), col("d").as("du")), frontierSize)
      val relaxed = f.join(e, col("u") === e("src"))
        .select(e("dst").as("v"), (col("du") + e("w")).as("d"))
      val next = dist.unionAll(relaxed)
        .groupBy(col("v")).agg(min(col("d")).as("d"))
        .localCheckpoint(false) // lazy: the frontier-count job materializes it
      val changed = next
        .join(dist.withColumnRenamed("d", "old"), Seq("v"), "left")
        .filter(col("old").isNull || col("d") < col("old"))
        .select(col("v"), col("d"))
        .localCheckpoint(false)
      frontierSize = changed.count()
      frontier = changed
      dist = next
    }
    e.unpersist(blocking = false)
    dist.select(col("v"), col("d").as("dist"))
  }

  /** Source capacity for [[widestPaths]] — an integer stand-in for +∞
    * that survives `least()` against any derived edge weight while
    * staying exactly representable on both engines. */
  val WidestSourceCap: Long = 1L << 62

  /** Widest (bottleneck) path capacities from `source`: maximize, over
    * all paths, the MINIMUM edge weight along the path — `iters` bounded
    * max–min relaxation rounds (the tropical dual of [[sssp]]'s
    * min–plus). Returns (v, cap) for every vertex reached within the
    * round bound; the source reports [[WidestSourceCap]] (no incoming
    * constraint). The FIXED round count keeps the operator
    * oracle-checkable: the DuckDB oracle unrolls the same rounds, so
    * both engines agree even where relaxation hasn't converged.
    *
    * Scale notes: identical shape to [[sssp]] — the static edge table is
    * pre-partitioned on the per-round join key once and never moves;
    * each round relaxes only the out-edges of vertices whose capacity
    * IMPROVED (max–min relaxation is monotone, so a non-improved vertex
    * contributes nothing new), small frontiers broadcast, and the
    * max-combine is map-side partial over the O(V) capacity vector.
    */
  def widestPaths(spark: SparkSession, edges: DataFrame, source: Long,
                  iters: Int = 8): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var cap = spark.range(1)
      .select(lit(source).cast("long").as("v"), lit(WidestSourceCap).as("c"))
    var frontier = cap
    var frontierSize = 1L
    var i = 0
    while (i < iters && frontierSize > 0) {
      i += 1
      val f = frontSide(
        frontier.select(col("v").as("u"), col("c").as("cu")), frontierSize)
      val relaxed = f.join(e, col("u") === e("src"))
        .select(e("dst").as("v"), least(col("cu"), e("w")).as("c"))
      val next = cap.unionAll(relaxed)
        .groupBy(col("v")).agg(max(col("c")).as("c"))
        .localCheckpoint(false) // lazy: the frontier-count job materializes it
      val changed = next
        .join(cap.withColumnRenamed("c", "old"), Seq("v"), "left")
        .filter(col("old").isNull || col("c") > col("old"))
        .select(col("v"), col("c"))
        .localCheckpoint(false)
      frontierSize = changed.count()
      frontier = changed
      cap = next
    }
    e.unpersist(blocking = false)
    cap.select(col("v"), col("c").as("cap"))
  }

  /** Bounded k-core peel over the undirected simple graph (self-loops
    * dropped): `rounds` iterations of "delete every vertex whose degree
    * is < k, and all its edges". With enough rounds this is exactly the
    * k-core; the FIXED round count is what makes the operator
    * oracle-checkable (the DuckDB oracle unrolls the same rounds, so
    * both engines compute the identical intermediate even if the peel
    * hasn't converged). Returns each surviving vertex with its degree
    * inside the surviving subgraph.
    *
    * Scale notes: the edge table is built once, persisted, and NEVER
    * rewritten — each round maintains only the O(V) alive-degree vector:
    * a round removes the below-k vertices and updates survivors' degrees
    * by subtracting their edge counts INTO the just-removed set (one
    * join of the static edge table against the removal set — tiny after
    * round 1, so AQE broadcasts it — plus a map-side-combinable count).
    * Equivalent to re-counting degrees on the peeled subgraph, without
    * shuffling or checkpointing the edges every round (which made the
    * naive form 5× slower at 6M edges, docs/SCALE.md).
    */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
            rounds: Int = 6): DataFrame = {
    // pre-partitioned on dst: the per-round removal join keys on dst, so
    // the cached edge table is scanned in place even when round 1's
    // removal set is too big for AQE's broadcast conversion
    val und = edges.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .unionAll(edges.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (v, deg) over alive vertices; deg = degree in the alive-induced
    // subgraph, maintained incrementally
    var deg = und.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    var r = 0
    while (r < rounds) {
      r += 1
      val removed = deg.filter(col("deg") < k).select(col("src").as("rv"))
      val delta = und.join(removed, und("dst") === col("rv"))
        .groupBy(col("src")).agg(count(lit(1)).as("gone"))
      deg = deg.filter(col("deg") >= k)
        .join(delta, Seq("src"), "left")
        .select(col("src"),
          (col("deg") - coalesce(col("gone"), lit(0L))).as("deg"))
        .localCheckpoint(r == rounds) // lazy mid-stream; eager on the last
    }
    und.unpersist(blocking = false)
    // a survivor whose neighbors ALL peeled away has no edges left in
    // the induced subgraph — the degree-count form omits it, so the
    // incremental form must too
    deg.filter(col("deg") > 0)
      .select(col("src").as("v"), col("deg").as("core_deg"))
  }

  /** Link-prediction neighbor overlap vs one vertex: for every other
    * vertex v, |N(vid) ∩ N(v)| and |N(vid) ∪ N(v)| over distinct
    * OUT-neighbor sets — the integer core of common-neighbors /
    * Jaccard / Adamic-Adar scoring, kept as exact counts (ratios are a
    * trailing map; integer outputs hash exactly cross-engine).
    *
    * Scale shape: N(vid) is one vertex's neighbor list — broadcast — so
    * the candidate pass is a map-side semi-join of the edge table; only
    * the per-candidate counts (O(V)) shuffle. The all-pairs variant of
    * this operator is the classic self-join blow-up; anchoring one side
    * at a vertex (or a small vertex set) is the shape that scales.
    */
  def neighborOverlap(edges: DataFrame, vid: Long,
                      minCommon: Long = 3): DataFrame = {
    val nRoot = edges.filter(col("src") === vid).select(col("dst")).distinct()
    val common = edges.join(broadcast(nRoot), "dst")
      .filter(col("src") =!= vid)
      .groupBy(col("src")).agg(countDistinct(col("dst")).as("n_common"))
    val outDeg = edges.groupBy(col("src"))
      .agg(countDistinct(col("dst")).as("n_out"))
    val rootDeg = nRoot.agg(count(lit(1)).as("n_root"))
    common.join(outDeg, "src").crossJoin(broadcast(rootDeg))
      .filter(col("n_common") >= minCommon)
      .select(col("src").as("v"), col("n_common"),
        (col("n_out") + col("n_root") - col("n_common")).as("n_union"))
  }

  /** Bidirectional BFS: expands the source frontier along forward edges
    * and the target frontier along REVERSED edges, always growing the
    * smaller side; a meet at depths (dS, dT) witnesses a path of length
    * dS+dT. Expansion continues until the sum of depths can no longer
    * beat the best meet. For frontiers that grow with branching factor b
    * this does O(2·b^(L/2)) work instead of O(b^L) — the scale path for
    * long-path queries (the reference's unidirectional scalar BFS takes
    * 300+ s on exactly those, BASELINE.md).
    *
    * Returns the same lengths as [[bfsLength]] (property-tested).
    */
  def bfsLengthBidirectional(spark: SparkSession, edges: DataFrame,
                             srcId: Long, dstId: Long,
                             maxDepth: Int = 10): Long = {
    if (srcId == dstId) return 0L
    import spark.implicits._
    val fwd = edges.select(col("src"), col("dst"))
    val bwd = edges.select(col("dst").as("src"), col("src").as("dst"))

    // visited sets carry (v, depth-at-first-visit), kept as union views
    // over checkpointed frontiers (see bfsLength)
    var visS = List(Seq((srcId, 0L)).toDF("v", "d"))
    var visT = List(Seq((dstId, 0L)).toDF("v", "d"))
    var frontS = visS.head
    var frontT = visT.head
    var depthS = 0L
    var depthT = 0L
    var sizeS = 1L
    var sizeT = 1L
    var best = Long.MaxValue

    // exhaustion (n == 0) returns from inside the loop, so only the
    // best-meet bound and maxDepth govern the condition
    while (depthS + depthT + 1 < best && depthS + depthT < maxDepth) {
      val expandSource = sizeS <= sizeT
      val (e, front, visParts, otherParts, depth) =
        if (expandSource) (fwd, frontS, visS, visT, depthS)
        else (bwd, frontT, visT, visS, depthT)
      val nd = depth + 1
      val f = frontSide(front.select(col("v")),
        if (expandSource) sizeS else sizeT)
      val next = e.join(f, e("src") === col("v"))
        .select(col("dst").as("v")).distinct()
        .join(visParts.map(_.select(col("v"))).reduce(_ unionAll _),
          Seq("v"), "left_anti")
        .withColumn("d", lit(nd))
        .localCheckpoint(false) // lazy: the stats job materializes it
      // ONE job per level: frontier size + best meet against the OTHER
      // side's visited. Incremental meet-checking is complete: any meet
      // vertex enters the later of the two sides at some level, and is
      // checked against the earlier side right then. visited v's are
      // unique per side, so the left join preserves the row count.
      val other = otherParts.reduce(_ unionAll _)
      val r = next.as("n").join(other.as("o"), col("n.v") === col("o.v"), "left")
        .agg(count(lit(1)).as("cnt"),
          min(col("n.d") + col("o.d")).as("meet")).collect()(0)
      val n = r.getLong(0)
      best = math.min(best, if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))
      if (expandSource) {
        frontS = next; visS ::= next; depthS = nd; sizeS = n
      } else {
        frontT = next; visT ::= next; depthT = nd; sizeT = n
      }
      if (n == 0) {
        // one side exhausted: no new meets can ever appear
        return if (best == Long.MaxValue) -1L else best
      }
    }
    if (best == Long.MaxValue || best > maxDepth) -1L else best
  }

  /** Personalized PageRank: power iteration whose restart mass is
    * concentrated on `sources` instead of spread uniformly — the ranking
    * primitive behind "similar to these seed entities" retrieval.
    * rank⁰(v) = [v ∈ S]; per iteration
    * rank(v) = (1−d)·[v ∈ S] + d·Σ_{u→v} rank(u)/odeg(u).
    *
    * Same scale shape as [[pageRank]]: the (src, dst, odeg) link table is
    * built once, persisted, and re-scanned in place; only the O(V) rank
    * vector shuffles per iteration, and the source indicator is a
    * broadcast-size literal IN-list (seed sets are small by use case).
    */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
                           sources: Seq[Long], iters: Int = 10,
                           damping: Double = 0.85): DataFrame = {
    require(sources.nonEmpty, "personalizedPageRank needs at least one source")
    val e = edges.select(col("src"), col("dst"))
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // same measured broadcast guard + static-side layout as [[pageRank]]
    val small = verts.count() <= iterBroadcastMaxVertices(spark)
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val links = e.join(outDeg, "src")
      .select(col("src"), col("dst"), col("odeg"))
    val linksP = (if (small) links.repartition(col("dst"))
      else links.repartition(col("src")).sortWithinPartitions(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val restart = when(col("v").isin(sources: _*), lit(1.0)).otherwise(lit(0.0))
    var ranks = verts.withColumn("rank", restart).localCheckpoint(false)
    var i = 0
    while (i < iters) {
      i += 1
      val contribs = linksP.join(bcIf(small)(ranks),
          linksP("src") === ranks("v"))
        .select(col("dst").as("v"), (col("rank") / col("odeg")).as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("in_sum"))
      ranks = verts.join(bcIf(small)(contribs), Seq("v"), "left")
        .select(col("v"),
          (lit(1.0 - damping) * restart +
            lit(damping) * coalesce(col("in_sum"), lit(0.0))).as("rank"))
        .localCheckpoint(i == iters)
    }
    linksP.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    ranks
  }

  /** Deterministic per-vertex neighbor sampling (the GraphSAGE fan-out
    * primitive): keep at most `k` out-edges per source, chosen by ranking
    * each edge on md5(src ‖ dst ‖ seed). The hash makes the sample
    * (a) uniform-ish per vertex, (b) reproducible across runs/engines —
    * a training pipeline can re-materialize the exact same subgraph —
    * and (c) expressible as ONE window over the edge table: a single
    * hash-partitioned shuffle on src, no driver involvement, no RNG
    * state. Skewed hubs cost one partition's sort of their edge list;
    * the output is bounded at k·|V| rows regardless of edge count.
    */
  def sampleNeighbors(edges: DataFrame, k: Int,
                      seed: String = "graft"): DataFrame = {
    require(k > 0, s"sample size must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("src"))
      .orderBy(md5(concat_ws("_", col("src"), col("dst"), lit(seed))), col("dst"))
    edges.select(col("src"), col("dst"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic pseudo-random walks (the node2vec/DeepWalk sampling
    * primitive): one walk per root, `steps` transitions, where the walk
    * at vertex v moves to the out-neighbor minimizing
    * md5(walkId ‖ step ‖ dst ‖ seed) — a hash-seeded choice that is
    * reproducible across runs and engines (no RNG state to checkpoint)
    * while spreading successive steps across the neighbor set. A walk
    * with no out-edge stops. Returns (walk, step, v) long-format rows,
    * step 0 = the root itself.
    *
    * Scale shape: the frontier is one row per live walk — broadcast into
    * the edge join, so the edge table never shuffles; each step is one
    * broadcast join + a map-side-combinable min_by per walk. Batch all
    * roots per step (one job per step, not per walk).
    */
  def randomWalks(spark: SparkSession, edges: DataFrame, roots: Seq[Long],
                  steps: Int, seed: String = "graft"): DataFrame = {
    require(roots.nonEmpty, "randomWalks needs at least one root")
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    var frontier = roots.distinct.map(r => (r, r)).toDF("walk", "v")
    var out = List(frontier.withColumn("step", lit(0L)))
    var i = 0
    while (i < steps) {
      i += 1
      frontier = e.join(broadcast(frontier), e("src") === frontier("v"))
        .groupBy(col("walk"))
        .agg(min_by(col("dst"),
          md5(concat_ws("_", col("walk"), lit(i), col("dst"), lit(seed)))).as("v"))
        .localCheckpoint() // frontier is O(|roots|): keep lineage flat
      out ::= frontier.withColumn("step", lit(i.toLong))
    }
    out.reverse.reduce(_ unionAll _).select(col("walk"), col("step"), col("v"))
  }

  /** GraphSAGE-style layered ego-net extraction: for each root, sample
    * `fanouts(0)` out-edges of the root (layer 1), then `fanouts(1)`
    * out-edges of each layer-1 destination (layer 2), and so on — the
    * minibatch neighborhood a GNN trainer materializes per seed batch.
    * Sampling reuses [[sampleNeighbors]]' deterministic md5 ranking, so
    * the same (graph, roots, fanouts, seed) always yields the same
    * subgraph, and the per-vertex sample is SHARED across roots (one
    * window pass per distinct fanout — not per root).
    *
    * Returns (root, layer, src, dst): the edges of each root's ego-net,
    * layer ≥ 1. A destination reached twice by one root is expanded
    * once per layer (frontiers are dedup'd per root).
    *
    * Scale shape: the sampled adjacency is bounded by k·|V| rows per
    * distinct fanout; each layer is one join of that static table
    * against a frontier bounded by |roots|·∏fanouts — broadcast-sized
    * for training-style batches (64–1024 roots, fanouts ≤ 25). The full
    * edge table shuffles once per distinct fanout (the window), never
    * per layer or per root.
    */
  def sampleEgoNets(spark: SparkSession, edges: DataFrame, roots: Seq[Long],
                    fanouts: Seq[Int], seed: String = "graft"): DataFrame = {
    require(roots.nonEmpty, "sampleEgoNets needs at least one root")
    require(fanouts.nonEmpty, "sampleEgoNets needs at least one fanout")
    import spark.implicits._
    // rank over the DISTINCT edge set: a multigraph's duplicate edges
    // would otherwise occupy several of a vertex's k sample slots
    val simple = edges.select(col("src"), col("dst")).distinct()
    val sampled = fanouts.distinct
      .map(k => k -> sampleNeighbors(simple, k, seed).select(col("src"), col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK))
      .toMap
    var frontier = roots.distinct.map(r => (r, r)).toDF("root", "v")
    var out = List.empty[DataFrame]
    fanouts.zipWithIndex.foreach { case (k, i) =>
      val adj = sampled(k)
      val step = adj.join(broadcast(frontier), adj("src") === frontier("v"))
        .select(col("root"), lit(i + 1).as("layer"), col("src"), col("dst"))
        .localCheckpoint(true) // bounded: |frontier| · k rows
      out ::= step
      frontier = step.select(col("root"), col("dst").as("v")).distinct()
        .localCheckpoint(true)
    }
    sampled.values.foreach(_.unpersist(blocking = false))
    out.reverse.reduce(_ unionAll _)
  }

  /** All-pairs Jaccard similarity over OUT-neighbor sets — the
    * link-prediction / entity-resolution generalization of
    * [[neighborOverlap]] (which scores one root against the rest).
    * Emits (a, b, n_common, n_union, jaccard) for unordered pairs
    * a < b sharing ≥ `minCommon` distinct out-neighbors.
    *
    * Scale shape: pairs are generated ONLY through shared destinations
    * (join on dst over the distinct edge set, a < b) — vertices sharing
    * nothing never meet, so the intermediate is Σ_w in(w)², not |V|².
    * That sum is the honest cost of exact all-pairs similarity; on
    * skewed graphs bound it upstream (drop super-popular destinations —
    * standard practice for common-neighbor features — or switch to the
    * MinHash/LSH family in [[graft.operators.Dedup]], which buckets
    * instead of enumerating). The count/min aggregations are map-side
    * combinable; the jaccard is one exact integer division.
    */
  def jaccardPairs(edges: DataFrame, minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val e = edges.select(col("src"), col("dst")).distinct()
    val odeg = e.groupBy(col("src")).agg(count(lit(1)).as("n_out"))
    val common = e.select(col("src").as("a"), col("dst"))
      .join(e.select(col("src").as("b"), col("dst")), "dst")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    common
      .join(odeg.select(col("src").as("a"), col("n_out").as("na")), "a")
      .join(odeg.select(col("src").as("b"), col("n_out").as("nb")), "b")
      .select(col("a"), col("b"), col("n_common"),
        (col("na") + col("nb") - col("n_common")).as("n_union"))
      .withColumn("jaccard", col("n_common") * lit(1.0) / col("n_union"))
  }

  /** HITS hubs & authorities (Kleinberg's iterative form) over the
    * DISTINCT directed edge set, fixed iteration count. Each iteration:
    * auth(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} auth(v), each
    * half-step max-normalized (divide by the current maximum). Max
    * normalization instead of the textbook L2: max over doubles is
    * accumulation-order-independent, so the only cross-engine fp drift
    * is the per-vertex sums themselves — the same class the pagerank
    * oracle's micro-unit quantization already absorbs — while an L1/L2
    * norm would add a global fp sum per half-step. Rankings (HITS'
    * point) are unchanged by the choice of norm.
    *
    * Returns (v, hub, auth) for every vertex incident to an edge;
    * sources with no in-edges get auth 0, sinks hub 0.
    *
    * Scale shape: the edge table is distinct'd once, hash-partitioned
    * once per join key, and persisted — per iteration only the two O(V)
    * score vectors shuffle, plus a 1-row max broadcast each half-step.
    */
  def hits(spark: SparkSession, edges: DataFrame, iters: Int = 8): DataFrame = {
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    val verts0 = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct()
    val verts = verts0.persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-half-step O(V) hub/auth
    // vectors (see iterBroadcastMaxVertices); count doubles as the
    // verts materialization
    val small = verts.count() <= iterBroadcastMaxVertices(spark)
    // static side partitioned once by dst so the auth half-step's
    // partial aggregation reuses the cached partitioning under the
    // broadcast guard (the hub half-step's groupBy(src) pays one O(V)
    // post-combine exchange); above the guard, src is the sort-merge
    // join key every round re-uses
    val e = (if (small) edges.select(col("src"), col("dst")).distinct()
        .repartition(col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
        .repartition(col("src")).sortWithinPartitions(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var hubs = verts.withColumn("h", lit(1.0)).localCheckpoint(false)
    var auths = verts.withColumn("a", lit(0.0))
    var i = 0
    while (i < iters) {
      i += 1
      // checkpoint the raw sums: each is consumed TWICE (its max and the
      // normalization join) and without the pin the e-join + aggregation
      // re-executed per consumer — 4 edge passes per iteration, not 2
      val aRaw = e.join(bcIf(small)(hubs.select(col("v").as("u"), col("h"))),
          col("src") === col("u"))
        .groupBy(col("dst").as("v")).agg(sum(col("h")).as("ar"))
        .localCheckpoint(false)
      val aMax = aRaw.agg(max(col("ar")).as("am"))
      auths = verts.join(bcIf(small)(aRaw), Seq("v"), "left")
        .crossJoin(broadcast(aMax))
        .select(col("v"), (coalesce(col("ar"), lit(0.0)) / col("am")).as("a"))
        .localCheckpoint(false)
      val hRaw = e.join(bcIf(small)(auths.select(col("v").as("w"), col("a"))),
          col("dst") === col("w"))
        .groupBy(col("src").as("v")).agg(sum(col("a")).as("hr"))
        .localCheckpoint(false)
      val hMax = hRaw.agg(max(col("hr")).as("hm"))
      hubs = verts.join(bcIf(small)(hRaw), Seq("v"), "left")
        .crossJoin(broadcast(hMax))
        .select(col("v"), (coalesce(col("hr"), lit(0.0)) / col("hm")).as("h"))
        .localCheckpoint(false)
    }
    val out = hubs.join(auths, Seq("v")).localCheckpoint(true)
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    out
  }

  /** k-truss: the maximal subgraph of the undirected simple graph in
    * which every edge closes at least k−2 triangles (within the
    * subgraph). Bounded peel, mirroring [[kCore]]'s fixed-round shape so
    * a DuckDB oracle can unroll the identical rounds: each round counts
    * per-edge support via the degree-ordered wedge join ([[triplesOf]] —
    * each surviving triangle charges its 3 canonical edges, a
    * map-side-combinable count) and drops edges below k−2. Returns the
    * surviving canonical edges (a < b) with their support in the FINAL
    * subgraph (≥ k−2 once the peel has converged; `rounds` must cover
    * convergence for the truss guarantee to hold, exactly like kCore).
    *
    * Scale shape: per round one orientation pass (two degree joins) and
    * one wedge join whose fan-out is bounded by oriented out-degree
    * (O(√E) — hub-skew-proof, see [[orientedEdges]]); the edge set only
    * shrinks. Support counting per round beats maintaining supports
    * incrementally here because edge deletions invalidate wedge pairs
    * non-locally — the recount is one shuffle of the (shrinking) edge
    * set, not O(deleted · degree) messages.
    *
    * Memory discipline: the wedge join streams (wedge volume Σ od² can
    * dwarf E on dense graphs — it spills through the join, it is never
    * stored), and only ONE round's O(E) state is ever live: per round
    * the oriented table and the surviving edge set are explicitly
    * persisted, the round is driven by one count(), and the previous
    * round's blocks are unpersisted before the next round starts
    * (deterministic release — RDD-level localCheckpoint blocks would
    * wait on the ContextCleaner's GC). A lazy-checkpoint chain here
    * pinned every round's intermediates at once and OOMed at 5.8M
    * edges (avg degree ≈300).
    */
  def kTruss(spark: SparkSession, edges: DataFrame, k: Int,
             rounds: Int = 5): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    require(rounds >= 1, s"kTruss needs rounds >= 1, got $rounds")
    // lazy O(cur)-row support plan over a caller-persisted oriented table
    val bcastMax = trussBroadcastMaxEdges(spark)
    def supportOver(o: DataFrame, small: Boolean): DataFrame =
      triplesOf(o, small)
        .select(explode(array(
          struct(least(col("x"), col("u")).as("a"),
            greatest(col("x"), col("u")).as("b")),
          struct(least(col("x"), col("w")).as("a"),
            greatest(col("x"), col("w")).as("b")),
          struct(least(col("u"), col("w")).as("a"),
            greatest(col("u"), col("w")).as("b")))).as("ed"))
        .select(col("ed.a").as("a"), col("ed.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    def orientedOf(cur: DataFrame): DataFrame =
      orientedEdges(cur.select(col("a").as("src"), col("b").as("dst")))
    // persist + count gives deterministic materialization; the
    // createDataFrame(rdd, schema) wrapper truncates the LOGICAL plan
    // (persist alone does not — each round's plan embeds the previous
    // round's ~4 times through the join + oriented self-join, so after
    // 5 rounds the analyzer walks ~4^5 copies of the base plan and the
    // driver heap dies on a 2-edge graph). The row conversion is O(cur)
    // per round — noise next to the wedge join it feeds. The count also
    // drives the fixed-point short-circuit and the broadcast guard.
    def materialize(df: DataFrame): (DataFrame, DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val n = p.count()
      (spark.createDataFrame(p.rdd, p.schema), p, n)
    }
    var (cur, curH, curN) = materialize(undirectedSimple(edges))
    // FIXED-POINT SHORT-CIRCUIT (measured: at sf0.1 the peel drops ZERO
    // edges in any round — the fixed point is the initial set — so the
    // bounded loop recomputed the identical wedge count 5×, 36 s where
    // one pass suffices). The peel is monotone (each round's survivors
    // are a subset of its input), so equal counts mean equal SETS, and
    // once a round changes nothing every remaining round — and the
    // final support recount — would reproduce exactly that round's
    // support table. The rounds carry the support column through the
    // materialization so the converged round IS the answer; the
    // pre-convergence output for a too-small `rounds` budget is
    // unchanged (the final recount below still runs). Results are
    // bit-identical either way — HopProps pins this against the
    // brute-force peel, the oracle pins the gate graph.
    var converged: DataFrame = null
    var r = 0
    while (r < rounds && converged == null) {
      r += 1
      val o = orientedOf(cur).persist(StorageLevel.MEMORY_AND_DISK)
      val (next, nextH, nextN) = materialize(
        cur.join(supportOver(o, curN <= bcastMax), Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            coalesce(col("support"), lit(0L)).as("support"))
          .filter(col("support") >= k - 2))
      o.unpersist(blocking = false)
      curH.unpersist(blocking = false)
      if (nextN == curN) converged = next
      cur = next.select(col("a"), col("b"))
      curH = nextH
      curN = nextN
    }
    val out =
      if (converged != null) converged.localCheckpoint(true)
      else {
        val oF = orientedOf(cur).persist(StorageLevel.MEMORY_AND_DISK)
        val res = cur.join(supportOver(oF, curN <= bcastMax),
            Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            coalesce(col("support"), lit(0L)).as("support"))
          .localCheckpoint(true)
        oF.unpersist(blocking = false)
        res
      }
    curH.unpersist(blocking = false)
    out
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of the
    * endpoint degrees over every directed orientation of the undirected
    * simple edge set (both directions, so the statistic is symmetric).
    * r > 0 = hubs attach to hubs; r < 0 = hubs attach to leaves —
    * THE one-number summary of whether a graph is social-network-like
    * or internet-like.
    *
    * All six moments are exact integer sums (order-independent, hash
    * exact); the final correlation is one fixed expression tree over
    * their double casts — no fp accumulation anywhere, so the double is
    * cross-engine bit-stable. Returns 1 row:
    * (n_pairs, sum_x, sum_xx, sum_xy, r).
    *
    * Scale shape: two map-side-combinable aggregations (degree count,
    * moment sums) and one join of the edge table against the O(V)
    * degree vector per side — no all-pairs anything; the moment
    * aggregation collapses to 1 row before it reaches the driver.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = undirectedSimple(edges)
    val bi = und.select(col("a").as("s"), col("b").as("t"))
      .unionAll(und.select(col("b").as("s"), col("a").as("t")))
    val deg = bi.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val moments = bi
      .join(deg.select(col("s"), col("deg").as("dx")), "s")
      .join(deg.select(col("s").as("t"), col("deg").as("dy")), "t")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("dx")).as("sum_x"),
        sum(col("dx") * col("dx")).as("sum_xx"),
        sum(col("dx") * col("dy")).as("sum_xy"))
    // by symmetry Σy = Σx and Σy² = Σx² (every edge appears in both
    // orientations), so the Pearson denominator collapses. Products are
    // taken over DOUBLE casts of the exact integer sums: n·Σxy would
    // overflow int64 on a trillion-edge graph, and the double
    // expression tree is fixed-order (no accumulation) so it stays
    // cross-engine bit-stable.
    // r is undefined on a degree-regular graph (zero variance): emit
    // NULL, not an ANSI divide-by-zero (the oracle CASEs identically)
    val num = col("n_pairs").cast("double") * col("sum_xy").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double")
    val den = col("n_pairs").cast("double") * col("sum_xx").cast("double") -
      col("sum_x").cast("double") * col("sum_x").cast("double")
    moments.select(
      col("n_pairs"), col("sum_x"), col("sum_xx"), col("sum_xy"),
      when(den =!= 0.0, num / den).as("r"))
  }

  /** Sampled betweenness centrality: Brandes' dependency accumulation
    * from a FIXED source set, depth-bounded — the standard scale
    * approximation (Brandes/Pich 2007): bc(v) = Σ_{s∈S} δ_s(v), where
    * δ_s is the dependency of source s on v over shortest paths of
    * length ≤ maxDepth. Directed, unweighted, over the DISTINCT edge
    * set (multigraph duplicates would multiply path counts).
    *
    * Forward: batched level-synchronous BFS keyed by (source, vertex),
    * accumulating σ (shortest-path counts — exact integers) per level.
    * Backward: per level from the deepest, δ(v) = Σ over successors w
    * one level deeper of (σ(v)/σ(w))·(1+δ(w)) — one join per level
    * against the STATIC edge table. All |S| sources ride the same
    * per-level joins (the frontier carries the source column), so the
    * level count — not the source count — sets the number of jobs.
    *
    * Returns (v, bc) for every vertex reached by some source, the
    * source rows themselves excluded per Brandes. σ ratios are exact
    * integer divisions; the δ sums are the only fp accumulation
    * (absorbed by the oracle's micro-quantization, like pagerank).
    *
    * Scale shape: per level one join of the edge table against an O(S·V)
    * frontier + a map-side-combinable sum, forward and backward; edge
    * table static, only frontier/δ vectors shuffle. 2·maxDepth joins
    * total for ANY source count.
    */
  def betweennessSampled(spark: SparkSession, edges: DataFrame,
                         sources: Seq[Long], maxDepth: Int = 4): DataFrame = {
    require(sources.nonEmpty, "betweennessSampled needs at least one source")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-level O(S·V) frontier / δ
    // vectors (count doubles as the cache materialization)
    val small = e.count() <= iterBroadcastMaxVertices(spark)
    // forward: levels(l) = (s, v, sigma) at distance exactly l from s
    val l0 = sources.distinct.map(s => (s, s, 1L)).toDF("s", "v", "sigma")
      .localCheckpoint(false)
    val out = brandesDeltas(e, l0, maxDepth, small)
    e.unpersist(blocking = false)
    out
  }

  /** Brandes forward σ-count + backward δ-accumulation from an
    * arbitrary (s, v, sigma) seed frontier — the shared core of
    * [[betweennessSampled]] (literal source list) and
    * [[betweennessApprox]] (hash-sampled pivot frame). Returns (v, bc)
    * = Σ_s δ_s(v) with the source rows excluded. `e` must be the
    * DISTINCT edge set, pre-partitioned on src and persisted by the
    * caller (it is joined 2·maxDepth times).
    */
  private def brandesDeltas(e: DataFrame, l0: DataFrame,
                            maxDepth: Int, small: Boolean): DataFrame = {
    var levels = Vector(l0)
    var visited = l0.select(col("s"), col("v")).localCheckpoint(false)
    var l = 0
    while (l < maxDepth) {
      l += 1
      val prev = levels.last
      val next = e.join(bcIf(small)(prev.withColumnRenamed("v", "u")),
          col("src") === col("u"))
        .groupBy(col("s"), col("dst").as("v")).agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("s", "v"), "leftanti")
        .localCheckpoint(false)
      levels :+= next
      visited = visited.unionAll(next.select(col("s"), col("v")))
        .localCheckpoint(false)
    }
    // backward: delta(depth) = 0; delta(l) from successors at l+1
    var delta = levels(maxDepth)
      .select(col("s"), col("v"), lit(0.0).as("delta"))
    var acc = delta
    var b = maxDepth
    while (b > 0) {
      b -= 1
      val down = levels(b + 1)
        .join(delta, Seq("s", "v"))
        .select(col("s"), col("v").as("w"), col("sigma").as("sigma_w"),
          col("delta").as("delta_w"))
      val contrib = e.join(bcIf(small)(down), col("dst") === col("w"))
        .select(col("s"), col("src").as("v"), col("sigma_w"), col("delta_w"))
        .join(levels(b), Seq("s", "v"))
        .select(col("s"), col("v"),
          (col("sigma").cast("double") / col("sigma_w").cast("double") *
            (lit(1.0) + col("delta_w"))).as("c"))
        .groupBy(col("s"), col("v")).agg(sum(col("c")).as("contrib"))
      delta = levels(b).join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          coalesce(col("contrib"), lit(0.0)).as("delta"))
        .localCheckpoint(false)
      acc = acc.unionAll(delta)
    }
    acc.filter(col("s") =!= col("v"))
      .groupBy(col("v")).agg(sum(col("delta")).as("bc"))
      .localCheckpoint(true)
  }

  /** Brandes–Pich (2007) pivot-sampled betweenness ESTIMATE: run the
    * depth-bounded Brandes accumulation from `k` pivots chosen by a
    * seeded md5 order over the vertex set (deterministic, so the
    * estimate itself is oracle-reproducible — the pivot "sample" is a
    * pure function of (seed, vertex ids), no RNG state), then
    * extrapolate bĉ(v) = (V/k)·Σ_{s∈pivots} δ_s(v). Uniformly-hashed
    * pivots make the estimator unbiased for the depth-bounded bc;
    * Brandes–Pich show O(log V/ε²) pivots suffice for ε·V(V−1)
    * additive error. Returns (v, bc_est_micro), micro-quantized like
    * [[betweennessSampled]]'s gate projection.
    *
    * This is the documented 100 TB path for betweenness — exact
    * Brandes is Θ(V·E); this costs 2·maxDepth joins TOTAL (all pivots
    * ride the same per-level frontier), independent of k, with
    * per-level state O(k·V) — the triangles→DOULION / ecc→ANF scale
    * split applied to centrality.
    */
  def betweennessApprox(spark: SparkSession, edges: DataFrame,
                        k: Int = 8, maxDepth: Int = 4,
                        seed: String = "bc"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nv = verts.count() // 1-row stat, also materializes the persist
    val small = nv <= iterBroadcastMaxVertices(spark)
    val piv = verts
      .orderBy(md5(concat(lit(seed + "-"), col("v").cast("string"))),
        col("v"))
      .limit(k)
    val l0 = piv.select(col("v").as("s"), col("v"), lit(1L).as("sigma"))
      .localCheckpoint(true)
    verts.unpersist(blocking = false)
    // (V/k) extrapolation folded into the micro-quantization in one
    // fixed op order (bc · (V/k) · 1e6 + 0.5, floor) — mirrored
    // verbatim by the oracle so the ESTIMATE hash-checks
    val q = nv.toDouble / k.toDouble
    val out = brandesDeltas(e, l0, maxDepth, small)
      .select(col("v"),
        floor(col("bc") * lit(q) * lit(1e6) + lit(0.5)).cast("long")
          .as("bc_est_micro"))
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }

  /** Sampled harmonic closeness centrality: h(v) = Σ_{s∈S, d(s,v)≥1}
    * 1/d(s,v), distances from a FIXED source set, depth-bounded — the
    * sampled-pivot estimator (Eppstein/Wang 2004 shape) over the
    * harmonic variant, which is well-defined on disconnected graphs
    * (Boldi/Vigna 2014). Directed, unweighted, DISTINCT edge set.
    *
    * Same batched level-synchronous multi-source BFS as
    * [[betweennessSampled]]'s forward pass (all sources ride one join
    * per level; the frontier carries the source column), but instead of
    * fp-summing 1/d terms it counts EXACT sources-at-distance-l per
    * vertex and combines once with one fixed-order double expression
    * `c1/1.0 + c2/2.0 + …` — integer counts are exact in both engines
    * and the combine is the identical IEEE sequence, so the result is
    * bit-stable cross-engine (same design as degreeAssortativity; no
    * quantization needed).
    *
    * Scale shape: maxDepth joins of the static src-partitioned edge
    * table against an O(S·V) frontier, one count-pivot aggregate.
    */
  def harmonicCloseness(spark: SparkSession, edges: DataFrame,
                        sources: Seq[Long], maxDepth: Int = 4): DataFrame = {
    require(sources.nonEmpty, "harmonicCloseness needs at least one source")
    require(maxDepth >= 1, s"maxDepth must be >= 1, got $maxDepth")
    import spark.implicits._
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src")).sortWithinPartitions(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-level O(S·V) frontier
    val small = e.count() <= iterBroadcastMaxVertices(spark)
    var frontier = sources.distinct.map(s => (s, s)).toDF("s", "v")
      .localCheckpoint(false)
    var visited = frontier
    var acc: DataFrame = null // (v, d) — one row per source at distance d
    var l = 0
    while (l < maxDepth) {
      l += 1
      val next = e.join(bcIf(small)(frontier.withColumnRenamed("v", "u")),
          col("src") === col("u"))
        .select(col("s"), col("dst").as("v")).distinct()
        .join(visited, Seq("s", "v"), "leftanti")
        .localCheckpoint(false)
      visited = visited.unionAll(next).localCheckpoint(false)
      val t = next.select(col("v"), lit(l).as("d"))
      acc = if (acc == null) t else acc.unionAll(t)
      frontier = next
    }
    val counts = (1 to maxDepth).map(d =>
      count(when(col("d") === d, lit(1))).as(s"c$d"))
    val harmonic = (1 to maxDepth)
      .map(d => col(s"c$d").cast("double") / lit(d.toDouble))
      .reduce(_ + _)
    val out = acc.groupBy(col("v")).agg(counts.head, counts.tail: _*)
      .select(col("v"), harmonic.as("harmonic"))
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }

  /** Adamic–Adar link-prediction scores over shared out-neighbors:
    * aa(a,b) = Σ_{w ∈ out(a) ∩ out(b)} 1/ln(indeg(w)) (Adamic/Adar
    * 2003) — rarer shared destinations count more. DISTINCT edge set;
    * indeg(w) ≥ 2 for every contributing w by construction (both a and
    * b point at it), so ln is always positive. Like [[jaccardPairs]],
    * pairs are generated ONLY through shared destinations (Σ in(w)²
    * work, never |V|²) and a minCommon floor bounds the output. The
    * per-pair fp sum is order-dependent → oracle-compared under
    * micro-quantization (see the queries entry).
    */
  def adamicAdarPairs(edges: DataFrame, minCommon: Int = 2): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    val e = edges.select(col("src"), col("dst")).distinct()
    val indeg = e.groupBy(col("dst")).agg(count(lit(1)).as("n_in"))
    e.select(col("src").as("a"), col("dst"))
      .join(e.select(col("src").as("b"), col("dst")), "dst")
      .filter(col("a") < col("b"))
      .join(indeg, "dst")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        sum(lit(1.0) / log(col("n_in").cast("double"))).as("aa"))
      .filter(col("n_common") >= minCommon)
  }

  /** Max-label propagation with pointer jumping along DIRECTED edges:
    * returns (v, label) where label = max vertex id that can reach v
    * (every vertex reaches itself). The jump step is sound because
    * reachability composes: if r reaches v and r' reaches r, r' reaches
    * v. Same scale shape as [[labelPropagate]] — the static edge table
    * is hash-partitioned on src once and re-scanned in place; only the
    * O(V) label vector shuffles per round; rounds ≈ log₂(longest path).
    */
  private def directedMaxPropagate(spark: SparkSession, edges: DataFrame,
                                   maxIter: Int): DataFrame = {
    // NOTE kept on the plain src-partitioned shuffle plan: the SCC peel
    // calls this up to 2·maxRounds times on geometrically-shrinking
    // graphs, and a per-call count + sorted persist + per-round
    // broadcast build is pure fixed overhead at that call rate
    // (measured: g_scc 3.3 s → 7.0 s with the guard pattern applied —
    // reverted)
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(false)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      iter += 1
      val prop = e.join(labels, e("src") === labels("v"))
        .select(e("dst").as("v"), col("label"))
      val stepped = labels.unionAll(prop)
        .groupBy(col("v")).agg(max(col("label")).as("label"))
      // pointer jump: adopt the label of your current label's vertex
      val next = stepped
        .join(stepped.select(col("v").as("pv"), col("label").as("pl")),
          col("label") === col("pv"), "left")
        .select(col("v"),
          greatest(col("label"), coalesce(col("pl"), col("label"))).as("label"))
        .localCheckpoint(false)
      changed = next
        .join(labels.withColumnRenamed("label", "old"), "v")
        .filter(col("label") > col("old")).count()
      labels = next
    }
    e.unpersist(blocking = false)
    if (changed > 0) throw new IllegalStateException(
      s"directedMaxPropagate did not converge in $maxIter rounds — raise maxIter")
    labels
  }

  /** Bipartiteness test with a 2-coloring witness: (v, component,
    * color, comp_bipartite) over the undirected simple graph
    * (self-loops ignored — a loop is trivially an odd cycle in the
    * MULTIgraph reading, but the simple-graph reading matches every
    * other undirected operator here).
    *
    * Implemented by the BIPARTITE DOUBLE COVER reduction, not a BFS:
    * lift every vertex v to (v,0)=2v and (v,1)=2v+1 and every edge
    * {u,v} to {(u,0),(v,1)} and {(u,1),(v,0)} — a walk in the cover
    * flips sides each step, so (v,0) ~ (v,1) iff v lies on an ODD
    * closed walk. One [[connectedComponents]] run on the lifted edges
    * then answers everything:
    *   - comp_bipartite(v) = the two cover labels differ (the cover of
    *     a bipartite component splits in two; an odd cycle glues it);
    *   - component(v)      = min(c0,c1) >> 1 (the minimum original id —
    *     its side-0 lift is the minimum lifted id of the union);
    *   - color(v)          = 0 iff (v,0) shares its class with the
    *     root's (v,0) lift, i.e. c0 ≤ c1. On bipartite components this
    *     IS the unique root-anchored 2-coloring (equal to shortest-
    *     distance parity); on odd components the classes coincide and
    *     every color reads 0.
    *
    * Scale shape: the first Zipf-12M cut ran a per-level multi-source
    * BFS after CC (54 s — each level re-shuffled a near-V frontier
    * through distinct + anti-join); the double cover replaces the whole
    * loop with the SAME [[connectedComponents]] machinery on 2|E|
    * edges (local union-find contraction, label-prop on the contracted
    * graph — 17 s, 3.2×), plus two O(V) label joins. No conflict scan:
    * the verdict falls out of the labels.
    */
  def bipartiteColoring(spark: SparkSession, edges: DataFrame): DataFrame = {
    // no distinct here: [[connectedComponents]] canonicalizes its input
    // anyway, so deduping the pre-lift edges would just add a full
    // E-row shuffle ahead of the one CC already pays. Only self-loops
    // must go — their lift (2v)–(2v+1) would falsely glue v's sides.
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
    val dc = canon.select((col("a") * 2).as("src"), (col("b") * 2 + 1).as("dst"))
      .unionAll(canon.select((col("a") * 2 + 1).as("src"), (col("b") * 2).as("dst")))
    val cc2 = connectedComponents(spark, dc)
    val side0 = cc2.filter(pmod(col("v"), lit(2L)) === 0)
      .select(shiftright(col("v"), 1).as("v"), col("component").as("c0"))
    val side1 = cc2.filter(pmod(col("v"), lit(2L)) === 1)
      .select(shiftright(col("v"), 1).as("v"), col("component").as("c1"))
    side0.join(side1, Seq("v"))
      .select(col("v"),
        shiftright(least(col("c0"), col("c1")), 1).as("component"),
        when(col("c0") <= col("c1"), lit(0)).otherwise(lit(1)).as("color"),
        (col("c0") =!= col("c1")).as("comp_bipartite"))
  }

  /** Strongly connected components: (v, scc) where scc is the MINIMUM
    * vertex id in v's SCC, over directed (src, dst) edges. No
    * counterpart in the reference (its BFS is direction-following but
    * component-blind); the algorithm is the distributed coloring shape
    * (Orzan's coloring / FW-BW hybrid — the standard Pregel-style SCC):
    *
    *  1. color(v) = max id that reaches v (forward max propagation).
    *     The color root c (color(c)=c) is the max id of its color class,
    *     and every vertex on a path between same-colored vertices shares
    *     the color, so class-internal reachability equals reachability.
    *  2. confirm(v) = max same-colored id reachable FROM v (backward
    *     propagation on the color-filtered reversed edges). confirm(v)
    *     == color(v) ⇔ v and its root reach each other ⇔ they are in
    *     the same SCC — peel those off with label = color.
    *  3. Drop resolved vertices, repeat on the induced subgraph. Each
    *     round resolves every "color-root" SCC, so chains and DAG tails
    *     all resolve in round one; rounds grow only with nested SCC
    *     pivot depth (small in practice).
    *
    * Labels are re-mapped to per-SCC minima at the end so the output is
    * orientation-independent and matches the transitive-closure oracle.
    *
    * Scale shape: each propagation is the [[connectedComponents]] loop
    * (static edge table in place, O(V) label vector shuffles, pointer
    * jumping for log-round convergence); the outer peel only ever
    * shrinks the edge set. No driver-side graph state.
    */
  def stronglyConnectedComponents(spark: SparkSession, edges: DataFrame,
                                  maxRounds: Int = 20,
                                  maxIter: Int = 50): DataFrame = {
    var remaining = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    var resolved = List.empty[DataFrame]
    var round = 0
    while (remaining.limit(1).count() > 0) {
      round += 1
      if (round > maxRounds) throw new IllegalStateException(
        s"stronglyConnectedComponents did not finish in $maxRounds peel " +
          "rounds (pathologically nested SCC structure) — raise maxRounds")
      val colors = directedMaxPropagate(spark, remaining, maxIter)
      // keep only edges INSIDE one color class; reverse them, and ask:
      // what is the max same-class id each vertex can reach? (== the
      // class root iff the vertex is in the root's SCC)
      val cSrc = colors.select(col("v").as("src"), col("label").as("csrc"))
      val cDst = colors.select(col("v").as("dst"), col("label").as("cdst"))
      val sameColor = remaining.join(cSrc, "src").join(cDst, "dst")
        .filter(col("csrc") === col("cdst"))
        .select(col("dst").as("src"), col("src").as("dst")) // reversed
      val confirm = directedMaxPropagate(spark, sameColor, maxIter)
        .withColumnRenamed("label", "back")
      // vertices with no same-color edge never appear in `confirm`:
      // they reach only themselves within their class, so back = v
      val judged = colors
        .join(confirm, Seq("v"), "left")
        .select(col("v"), col("label").as("color"),
          coalesce(col("back"), col("v")).as("back"))
        .localCheckpoint(true)
      resolved ::= judged.filter(col("back") === col("color"))
        .select(col("v"), col("color").as("scc"))
      val open = judged.filter(col("back") =!= col("color")).select(col("v"))
      remaining = remaining
        .join(open.withColumnRenamed("v", "src"), Seq("src"), "leftsemi")
        .join(open.withColumnRenamed("v", "dst"), Seq("dst"), "leftsemi")
        .select(col("src"), col("dst"))
        .localCheckpoint(true)
      // vertices that became isolated by the peel are their own SCC
      val stillOpen = remaining.select(col("src").as("v"))
        .unionAll(remaining.select(col("dst").as("v"))).distinct()
      resolved ::= open.join(stillOpen, Seq("v"), "leftanti")
        .select(col("v"), col("v").as("scc"))
    }
    val labeled = resolved.reduce(_ unionAll _)
    // canonicalize: SCC label = min member id (colors gave max ids)
    val minOf = labeled.groupBy(col("scc")).agg(min(col("v")).as("mn"))
    labeled.join(minOf, "scc").select(col("v"), col("mn").as("scc"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), deterministic variant: `rounds` fixed synchronous updates on
    * the undirected simple graph, each vertex adopting the most frequent
    * label among its neighbors with ties broken by MINIMUM label. Fixed
    * round count + min tie-break make the output hash-exact across
    * engines (async LPA is run-order-dependent and cannot be oracled).
    *
    * Scale shape: one shuffle per round — the neighbor-label count is a
    * map-side-combinable groupBy on (v, label), and the argmax is
    * `max_by` over a struct (count, -label), another partial-aggregable
    * groupBy. The static undirected edge table is partitioned by src
    * once and re-scanned; only the O(V) label vector moves per round.
    */
  /** Louvain-style modularity communities: synchronous local-move
    * rounds of the Louvain FIRST PHASE. Each round every vertex scores
    * its neighboring communities (and staying put) by modularity gain
    * and moves to the argmax. Two determinism devices make this
    * oracle-checkable where classic async Louvain is not:
    *
    *   - the gain comparison is INTEGERIZED: for unweighted graphs
    *     Δ ∝ e(v→c) − deg(v)·vol(c∖v)/2m, so comparing
    *     score = 2m·e(v→c) − deg(v)·vol(c∖v) (all int64) ranks targets
    *     identically in any engine — no floating point anywhere;
    *   - moves are PARITY-GATED: round r only lets vertices with
    *     v % 2 == r % 2 move. Synchronous moves of adjacent vertices
    *     can oscillate (each jumps into the other's old community);
    *     gating alternating halves makes every round a deterministic
    *     improvement step, the standard distributed-Louvain trick.
    *
    * Ties prefer staying, then the smallest community id.
    *
    * Scale shape: identical to [[labelPropagationCommunities]] — the
    * static edge table is hash-partitioned once and reused every round;
    * per round only O(V) label/volume vectors shuffle (degrees, volumes,
    * v→community counts are all partial-aggregated map-side). The
    * argmax is a per-vertex window over candidate communities, bounded
    * by deg(v) rows — hub fan-in, not all-pairs.
    */
  def louvainCommunities(spark: SparkSession, edges: DataFrame,
                         rounds: Int = 3): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val canon = undirectedSimple(edges)
    // the per-round neighbor-community join keys on dst; the partial agg
    // right after groups by src. Under the broadcast guard the label
    // vector broadcasts and the src layout makes that agg exchange-free
    // (HashPartitioning(src) satisfies ClusteredDistribution(src,label));
    // above it, lay the table out on the JOIN key so the per-round
    // sort-merge join needs no exchange and no sort on the edge side
    // (the old src layout re-shuffled the whole edge table on dst every
    // round).
    val ue0 = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
    val nV = ue0.select(col("src")).distinct().count()
    val small = nV <= iterBroadcastMaxVertices(spark)
    val ue = (if (small) ue0.repartition(col("src"))
      else ue0.repartition(col("dst")).sortWithinPartitions(col("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = ue.groupBy(col("src").as("v")).agg(count(lit(1)).as("deg"))
    val m = canon.count()
    var labels = ue.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(false)
    var r = 1
    while (r <= rounds) {
      val vol = labels.join(deg, "v")
        .groupBy(col("label")).agg(sum(col("deg")).as("vol"))
      val evc = ue.join(bcIf(small)(labels.withColumnRenamed("v", "_dv")),
          ue("dst") === col("_dv"))
        .groupBy(ue("src").as("v"), col("label"))
        .agg(count(lit(1)).as("e"))
      // a vertex none of whose neighbors share its community still needs
      // its stay-option scored: add the missing (v, own, e=0) rows
      val stayRows = labels.join(evc, Seq("v", "label"), "left_anti")
        .withColumn("e", lit(0L))
      val cand = evc.unionByName(stayRows)
      val own = labels.withColumnRenamed("label", "own")
      val scored = cand
        .join(own, "v").join(deg, "v").join(vol, "label")
        .withColumn("score",
          lit(2L * m) * col("e") - col("deg") *
            (col("vol") - when(col("label") === col("own"), col("deg"))
              .otherwise(lit(0L))))
        .withColumn("stay",
          when(col("label") === col("own"), 1).otherwise(0))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("v"))
        .orderBy(col("score").desc, col("stay").desc, col("label"))
      val best = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("v"), col("label").as("best"))
      labels = labels.join(best, "v")
        .select(col("v"),
          when(col("v") % 2 === lit(r % 2), col("best"))
            .otherwise(col("label")).as("label"))
        .localCheckpoint(r == rounds)
      r += 1
    }
    ue.unpersist(blocking = false)
    labels.select(col("v"), col("label").as("community"))
  }

  /** Newman modularity Q of a (v, community) partition over the
    * undirected simple projection of `edges` — the objective
    * [[louvainCommunities]] climbs; used by specs to compare partitions.
    */
  def modularityOf(edges: DataFrame, partition: DataFrame): Double = {
    val canon = undirectedSimple(edges)
    val m = canon.count().toDouble
    if (m == 0) return 0.0
    val pa = partition.select(col("v").as("a"), col("community").as("ca"))
    val pb = partition.select(col("v").as("b"), col("community").as("cb"))
    val eIn = canon.join(pa, "a").join(pb, "b")
      .filter(col("ca") === col("cb")).count().toDouble
    val deg = canon.select(col("a").as("v")).unionAll(canon.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val volSq = partition.join(deg, "v")
      .groupBy(col("community")).agg(sum(col("deg")).as("vol"))
      .agg(sum(col("vol") * col("vol"))).head.getLong(0).toDouble
    eIn / m - volSq / (4.0 * m * m)
  }

  /** Per-community Newman modularity table for a given (v, community)
    * partition: (community, n_nodes, e_in, vol, contrib_micro) where
    * contrib = e_in/m − (vol/2m)² and Q = Σ contrib — the quality
    * breakdown a pipeline inspects to see WHICH communities carry the
    * partition's modularity ([[modularityOf]] returns only the scalar,
    * driver-side; this is its distributed, oracle-checkable table
    * form). All counts are exact BIGINTs; contrib_micro is a fixed
    * 6-op fp chain mirrored verbatim in the oracle.
    *
    * Scale shape: e_in is two hash joins of the O(V) label vector onto
    * the canonical edge list (AQE skew-splits the hub key) + one
    * map-combinable count; vol is one join + partial-agg sum; m
    * broadcasts as a 1-row frame. Nothing iterates.
    */
  def modularityByCommunity(spark: SparkSession, edges: DataFrame,
                            partition: DataFrame): DataFrame = {
    val canon = undirectedSimple(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mRow = canon.agg(count(lit(1)).as("m"))
    val pa = partition.select(col("v").as("a"), col("community").as("ca"))
    val pb = partition.select(col("v").as("b"), col("community").as("cb"))
    val eIn = canon.join(pa, "a").join(pb, "b")
      .filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = canon.select(col("a").as("v")).unionAll(canon.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val comm = partition.join(deg, Seq("v"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("vol"))
    val md = col("m").cast("double")
    val half = col("vol").cast("double") / (lit(2.0) * md)
    val res = comm.join(eIn, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("vol"))
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"), col("e_in"), col("vol"),
        floor(lit(1e6) *
          (col("e_in").cast("double") / md - half * half)).cast("long")
          .as("contrib_micro"))
      .localCheckpoint(true)
    canon.unpersist(blocking = false)
    res
  }

  def labelPropagationCommunities(spark: SparkSession, edges: DataFrame,
                                  rounds: Int = 3): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val canon = undirectedSimple(edges)
    // same layout + broadcast-guard rationale as [[louvainCommunities]]
    val ue0 = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
    val nV = ue0.select(col("src")).distinct().count()
    val small = nV <= iterBroadcastMaxVertices(spark)
    val ue = (if (small) ue0.repartition(col("src"))
      else ue0.repartition(col("dst")).sortWithinPartitions(col("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = ue.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(false)
    var i = 0
    while (i < rounds) {
      i += 1
      val counts = ue.join(bcIf(small)(labels), ue("dst") === labels("v"))
        .groupBy(ue("src").as("u"), col("label"))
        .agg(count(lit(1)).as("n"))
      labels = counts
        .groupBy(col("u").as("v"))
        .agg(max_by(col("label"), struct(col("n"), negate(col("label"))))
          .as("label"))
        .localCheckpoint(i == rounds)
    }
    ue.unpersist(blocking = false)
    labels.select(col("v"), col("label").as("community"))
  }

  /** Seeded (semi-supervised) label propagation: a small set of
    * vertices carries FIXED class labels; every other vertex
    * iteratively takes the majority label of its currently-labeled
    * neighbors (ties → smaller label; unlabeled-neighbor-only vertices
    * stay unlabeled that round). This is transductive node
    * classification by pure structure — the weak-supervision companion
    * to [[labelPropagationCommunities]] (which has no anchors and
    * drifts) and the graph-side twin of the text tier's classifier:
    * label a handful of known-spam/known-good nodes and let the graph
    * vote. Synchronous rounds with a total-order tie-break keep the
    * whole trajectory a pure function of (graph, seeds), so even a
    * pre-convergence state hash-checks against the unrolled oracle.
    *
    * Scale shape: identical to communities LPA — the src-pre-
    * partitioned edge table never moves; per round the O(labeled)
    * label vector joins it once and the vote is one map-combinable
    * count + max_by. Seeds re-assert by an anti-join on the (tiny,
    * broadcast) seed table.
    */
  def labelPropagationSeeded(spark: SparkSession, edges: DataFrame,
                             seeds: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val canon = undirectedSimple(edges)
    // same layout + broadcast-guard rationale as [[louvainCommunities]]
    val ue0 = canon.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(canon.select(col("b").as("src"), col("a").as("dst")))
    val nV = ue0.select(col("src")).distinct().count()
    val small = nV <= iterBroadcastMaxVertices(spark)
    val ue = (if (small) ue0.repartition(col("src"))
      else ue0.repartition(col("dst")).sortWithinPartitions(col("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s0 = seeds.select(col("v"), col("label").cast("long").as("label"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = s0.localCheckpoint(false)
    var i = 0
    while (i < rounds) {
      i += 1
      val votes = ue.join(bcIf(small)(labels), ue("dst") === labels("v"))
        .groupBy(ue("src").as("u"), col("label"))
        .agg(count(lit(1)).as("n"))
      val won = votes
        .groupBy(col("u").as("v"))
        .agg(max_by(col("label"), struct(col("n"), negate(col("label"))))
          .as("label"))
      labels = s0.unionAll(
          won.join(broadcast(s0.select(col("v"))), Seq("v"), "left_anti"))
        .localCheckpoint(i == rounds)
    }
    ue.unpersist(blocking = false)
    s0.unpersist(blocking = false)
    labels
  }

  /** Luby's maximal independent set over the undirected simple graph,
    * made deterministic (and therefore DuckDB-oracle-checkable) by
    * replacing the per-round random priorities with round-salted
    * md5-hash priorities: in round r, an undecided vertex enters the
    * MIS iff its (priority, id) is strictly smaller than every
    * undecided neighbor's, then its undecided neighbors drop out.
    * Fixed `rounds` (undecided remainder reported as such) keeps the
    * result a pure function of (graph, seed) for the unrolled oracle.
    *
    * Scale shape: per round one join of the static undirected edge
    * table against the O(undecided) priority vector + a
    * map-side-combinable min per vertex; the undecided set shrinks
    * geometrically (Luby's classic analysis), so late rounds are
    * near-free. Status vector is O(V).
    *
    * @return (v, st) with st ∈ {"in", "out", "undecided"}
    */
  def maximalIndependentSet(spark: SparkSession, edges: DataFrame,
                            rounds: Int = 6, seed: String = "mis"): DataFrame = {
    val canon = undirectedSimple(edges)
    val ue = canon.select(col("a").as("s"), col("b").as("t"))
      .unionAll(canon.select(col("b").as("s"), col("a").as("t")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // iterate on the SHRINKING undecided set only; decided vertices
    // accumulate outside the loop (never re-joined). First cut rebuilt
    // the full O(V) status vector with two left joins per round —
    // per-round cost GREW with round count (5.9 s by round 12, stats
    // estimation churning on the compounding join tree); this shape is
    // per-round O(undecided) and converged rounds are free.
    var und = ue.select(col("s").as("v")).distinct().localCheckpoint(true)
    var decided = List.empty[DataFrame]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      r += 1
      val undH = und.withColumn("p",
        expr(s"cast(conv(substr(md5(concat('$seed-$r-', cast(v as string))), 1, 15), 16, 10) as bigint)"))
      // undecided→undecided edges only; min neighbor priority. Value
      // comparisons only (no argmin), so the round is deterministic
      // even under a (2^-61-improbable) hash collision: an equal
      // priority just fails the strict <, and NEITHER side joins.
      val e2 = ue
        .join(undH.select(col("v").as("s"), col("p").as("ps")), "s")
        .join(und.select(col("v").as("t")), "t")
      val minN = e2.groupBy(col("t").as("v"))
        .agg(min(col("ps")).as("mn"))
      val newIn = undH.join(minN, Seq("v"), "left")
        .filter(col("mn").isNull || col("p") < col("mn"))
        .select(col("v"))
        .localCheckpoint(true) // reused: decided union + knock-out joins
      val newOut = ue
        .join(newIn.withColumnRenamed("v", "s"), "s")
        .select(col("t").as("v")).distinct()
        .join(und, Seq("v"), "left_semi")
        .join(newIn, Seq("v"), "left_anti")
        .localCheckpoint(true)
      decided ::= newIn.withColumn("st", lit("in"))
      decided ::= newOut.withColumn("st", lit("out"))
      und = und.join(newIn, Seq("v"), "left_anti")
        .join(newOut, Seq("v"), "left_anti")
        .localCheckpoint(true)
      // a round that decides nothing more never will (fixed priorities
      // per round don't matter — an empty undecided set stays empty,
      // and emptiness is what terminates); converged early rounds make
      // the remaining unrolled-oracle rounds no-ops, so parity holds
      done = und.isEmpty
    }
    ue.unpersist(blocking = false)
    (und.withColumn("st", lit("undecided")) :: decided).reduce(_ unionAll _)
  }

  /** node2vec-style SECOND-ORDER biased walks: the successor choice
    * from v depends on the previous vertex u — return to u is weighted
    * `wBack`, a common neighbor of u and v `wCommon`, everything else
    * `wFar` (the integer analogues of node2vec's 1/p, 1, 1/q). The
    * draw is the deterministic weighted-choice trick shared with the
    * DuckDB oracle: each candidate is replicated `weight` times with a
    * tag, and the (md5(walk, step, w, tag), w)-minimum wins — P(w) =
    * weight_w/Σweights, yet the walk is a pure function of (graph,
    * roots, seed), so independent engines reproduce it exactly.
    *
    * Scale shape: the walk state is O(|roots|) and BROADCAST both into
    * the candidate join and (as the distinct (u, w) probe set) into a
    * left-semi against the static edge table for the common-neighbor
    * test — the edge table is scanned, never shuffled, in either join.
    * Step 0 has no predecessor (u = −1): no candidate can match it, so
    * every first-step candidate uniformly weighs `wFar` — one code
    * path, no special case.
    */
  def node2vecWalks(spark: SparkSession, edges: DataFrame, roots: Seq[Long],
                    steps: Int, wBack: Int = 1, wCommon: Int = 4,
                    wFar: Int = 2, seed: String = "n2v"): DataFrame = {
    require(roots.nonEmpty, "node2vecWalks needs at least one root")
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
    var state = roots.distinct.map(r => (r, -1L, r)).toDF("walk", "u", "v")
    var out = List(state.select(col("walk"), lit(0L).as("step"), col("v")))
    var i = 0
    while (i < steps) {
      i += 1
      val cand = e.join(broadcast(state), e("src") === state("v"))
        .select(col("walk"), col("u"), col("v"), col("dst").as("w"))
        .localCheckpoint() // O(|roots|·deg); probed twice below
      val hits = e.select(col("src").as("u"), col("dst").as("w"))
        .join(broadcast(cand.select(col("u"), col("w")).distinct()),
          Seq("u", "w"), "left_semi")
        .distinct()
      state = cand
        .join(broadcast(hits.withColumn("adj", lit(true))), Seq("u", "w"), "left")
        .withColumn("wt",
          when(col("w") === col("u"), lit(wBack))
            .when(col("adj").isNotNull, lit(wCommon))
            .otherwise(lit(wFar)))
        .withColumn("t", explode(sequence(lit(0), col("wt") - 1)))
        .withColumn("k",
          md5(concat_ws("_", col("walk"), lit(i), col("w"), col("t"), lit(seed))))
        .groupBy(col("walk"), col("v"))
        .agg(min(struct(col("k"), col("w"))).as("m"))
        .select(col("walk"), col("v").as("u"), col("m").getField("w").as("v"))
        .localCheckpoint()
      out ::= state.select(col("walk"), lit(i.toLong).as("step"), col("v"))
    }
    out.reverse.reduce(_ unionAll _)
  }

  /** Katz centrality: x ← 1 + α·Aᵀx for a fixed number of power
    * iterations (β = 1). Same distributed shape as [[pageRank]] — one
    * shuffle-join + map-side-combined sum per iteration over a static,
    * persisted edge table; only the O(V) score vector moves between
    * rounds. Multigraph semantics: parallel edges contribute once each
    * (matching an adjacency matrix with integer multiplicities).
    *
    * Fixed iteration count (not convergence-tested) keeps the result a
    * pure function of the input so the DuckDB oracle can unroll the
    * same rounds. α must be < 1/λ_max for the classic fixpoint to
    * converge; with fixed iterations any α is well-defined.
    */
  def katzCentrality(spark: SparkSession, edges: DataFrame, iters: Int = 6,
                     alpha: Double = 0.005): DataFrame = {
    // same measured broadcast guard + static-side layout as [[pageRank]]:
    // under the guard the score vector broadcasts and the dst layout
    // makes the per-round partial agg exchange-free; above it the
    // src-sorted layout feeds the per-round sort-merge join with no
    // exchange and no sort on the edge side (the SSSP frontier-relax
    // lesson, docs/SCALE.md)
    val verts = edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val small = verts.count() <= iterBroadcastMaxVertices(spark)
    val e = (if (small) edges.select(col("src"), col("dst"))
        .repartition(col("dst"))
      else edges.select(col("src"), col("dst"))
        .repartition(col("src")).sortWithinPartitions(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var x = verts.withColumn("score", lit(1.0)).localCheckpoint(false)
    var i = 0
    while (i < iters) {
      i += 1
      val inSum = e.join(bcIf(small)(x), e("src") === x("v"))
        .groupBy(e("dst").as("v")).agg(sum(col("score")).as("s"))
      x = verts.join(bcIf(small)(inSum), Seq("v"), "left")
        .select(col("v"),
          (lit(1.0) + lit(alpha) * coalesce(col("s"), lit(0.0))).as("score"))
        .localCheckpoint(i == iters)
    }
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    x
  }

  /** Regular path query (RPQ): vertices reachable from `root` along a
    * path whose edge-label word is accepted by the given NFA. Evaluated
    * as a BFS over the automaton-product graph — the frontier is a set
    * of (vertex, state) pairs, expanded one join per round against the
    * static labeled edge table, with a visited anti-join for
    * termination. The automaton (a handful of transitions) is
    * broadcast; the edge table never moves. The product state space
    * bounds the frontier at |V|·|Q|, so the iteration terminates in at
    * most |V|·|Q| rounds regardless of path length — `maxRounds` is a
    * safety valve, not a semantic bound.
    *
    * The reference's `two_hop`/`one_more_hop` (hop.cpp:104-225) are the
    * two fixed-length special cases of this operator.
    *
    * @param edges (src, dst, lbl) — lbl: long edge label
    * @param transitions NFA transitions (fromState, label, toState)
    * @param accept accepting states
    * @return distinct reachable vertices in an accepting state: (v)
    */
  def regularPathQuery(spark: SparkSession, edges: DataFrame, root: Long,
                       transitions: Seq[(Int, Long, Int)], accept: Set[Int],
                       maxRounds: Int = 64): DataFrame = {
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"), col("lbl"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trans = broadcast(
      transitions.toDF("st0", "tlbl", "st1"))
    var visited = Seq((root, 0)).toDF("v", "st").localCheckpoint(false)
    var frontier = visited
    var round = 0
    var n = 1L
    while (n > 0 && round < maxRounds) {
      round += 1
      val next = frontier.join(e, frontier("v") === e("src"))
        .join(trans, frontier("st") === col("st0") && e("lbl") === col("tlbl"))
        .select(e("dst").as("v"), col("st1").as("st")).distinct()
        .join(visited.withColumnRenamed("v", "vv").withColumnRenamed("st", "sst"),
          col("v") === col("vv") && col("st") === col("sst"), "left_anti")
        .localCheckpoint(true) // eager: counted AND reused next round
      n = next.count()
      if (n > 0) {
        visited = visited.unionAll(next).localCheckpoint(false)
        frontier = next
      }
    }
    e.unpersist(blocking = false)
    if (n > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"regularPathQuery: frontier still non-empty after maxRounds=" +
          s"$maxRounds — result is a PARTIAL reachable set; raise " +
          "maxRounds (the product BFS needs at most |V|*|Q| rounds)")
    val acceptDf = broadcast(accept.toSeq.toDF("ast"))
    visited.join(acceptDf, col("st") === col("ast"), "left_semi")
      .select(col("v")).distinct()
  }

  /** Exact neighborhood function: for each h in 1..maxH, the number of
    * ordered pairs (u, v), u ≠ v, with directed distance(u, v) ≤ h.
    * Computed by layered transitive closure — R_{h+1} = R_h ∪ (R_h ⋈ E)
    * with distinct — whose working set is the closure itself (Θ(N(h))
    * pairs). That is honest at gate scale but quadratic in the worst
    * case; the 100 TB path is [[anfHll]], which carries O(V·m) register
    * rows instead of O(V²) pairs. This exact version doubles as the
    * tolerance reference for the sketch.
    */
  def neighborhoodFunction(spark: SparkSession, edges: DataFrame,
                           maxH: Int): DataFrame = {
    import spark.implicits._
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the closure (O(N(h)) pairs) is the BIG side here — broadcast the
    // static edge table instead under the measured row guard, so the
    // per-round join never shuffles the pair set (only the distinct
    // does, unavoidably)
    val small = e.count() <= iterBroadcastMaxVertices(spark)
    var reach = e.select(col("src").as("u"), col("dst").as("v"))
      .localCheckpoint(false)
    val counts = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    counts += ((1, reach.count()))
    var h = 1
    while (h < maxH) {
      h += 1
      reach = reach.unionAll(
          reach.join(bcIf(small)(e), reach("v") === e("src"))
            .select(col("u"), e("dst").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(true) // eager: counted and joined next round
      counts += ((h, reach.count()))
    }
    e.unpersist(blocking = false)
    counts.toSeq.toDF("h", "n_pairs")
  }

  /** HyperLogLog-sketch approximate neighborhood function (ANF /
    * HyperBall): every vertex carries an m=64-register HLL sketch of
    * the set of vertices reachable from it; one propagation round
    * element-maxes each vertex's registers with its out-neighbors'
    * (register max is exactly sketch-union). Registers travel as ONE
    * packed 64-byte bank per vertex (BytewiseMaxAgg, partial-agg
    * capable) — V rows of state versus the exact closure's O(V²)
    * pairs, one shuffle row per edge per round, hub in-neighborhoods
    * combined map-side: the scale path for diameter /
    * effective-diameter estimation on graphs where the closure cannot
    * be materialized.
    *
    * Determinism for the oracle: the per-vertex hash is the md5-prefix
    * scheme shared with the DuckDB oracle dialect; rho uses the
    * branch-free ctz identity bit_count((x & -x) - 1), and the raw HLL
    * estimator (no small/large-range correction) is micro-quantized.
    * Estimator bias at gate scale is irrelevant: the sketch is compared
    * to [[neighborhoodFunction]] in a spec within HLL error bounds, and
    * to the oracle bit-for-bit.
    *
    * @return (h, est_micro): quantized NF(h) estimate (self included:
    *         pairs (u,v) with dist ≤ h, counting u itself at rho-time
    *         since each vertex's own hash seeds its sketch)
    */
  def anfHll(spark: SparkSession, edges: DataFrame, maxH: Int): DataFrame = {
    val m = AnfM
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // measured broadcast guard for the per-round O(V) register bank
    // vector (~(64+16) bytes per row)
    val small = verts.count() <= iterBroadcastMaxVertices(spark)
    // Registers are PACKED: one 64-byte bank per vertex, merged with
    // the partial-agg-capable BytewiseMaxAgg. The sparse (v, reg, rho)
    // layout (which the DuckDB oracle still uses — identical numbers,
    // different physical shape) shuffles ×m rows per edge and lands a
    // hub's whole in-neighborhood on one reducer; the packed bank
    // keeps shuffle rows == edge rows and combines the hub MAP-SIDE.
    // Measured at Zipf 12M (546K-degree hub): 324 s sparse → see
    // SCALE.md for the packed number. The two UDFs are pack/unpack of
    // a binary register bank — no Column built-in addresses bytes.
    //
    // Hash: 60-bit positive md5 hex prefix, mirrored by the oracle as
    // CAST('0x…'); rho = ctz(h / m) + 1 via the branch-free identity
    // bit_count((x & -x) - 1), capped at AnfRhoCap so the register sum
    // stays integer-exact.
    val pack = udf((reg: Int, rho: Int) => {
      val b = new Array[Byte](m); b(reg) = rho.toByte; b
    })
    val stats = udf((b: Array[Byte]) => {
      var isum = 0L; var zeros = 0L; var i = 0
      while (i < b.length) {
        val rho = b(i) & 0xff
        if (rho == 0) zeros += 1L else isum += 1L << (AnfRhoCap - rho)
        i += 1
      }
      (isum, zeros)
    })
    var regs = verts
      .withColumn("h",
        expr(s"cast(conv(substr(md5(concat('anf-', cast(v as string))), 1, 15), 16, 10) as bigint)"))
      .select(col("v"), pack((col("h") % m).cast("int"),
        expr(s"cast(least(bit_count(((h div $m) & -(h div $m)) - 1) + 1, $AnfRhoCap) as int)"))
        .as("r"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    var h = 0
    while (h < maxH) {
      h += 1
      regs = bcIf(small)(regs).join(e, regs("v") === e("src"))
        .select(e("dst").as("v"), col("r"))
        .unionAll(regs.select(col("v"), col("r")))
        .groupBy(col("v")).agg(graft.functions.HllRegAgg.bytewiseMax(col("r")).as("r"))
        .localCheckpoint(true) // eager: aggregated below and reused next round
      // Raw HLL estimate per vertex, integerized for cross-engine
      // determinism: register sum as exact BIGINT (2^(cap-rho) units,
      // absent registers contribute 2^cap i.e. 2^-0), then ONE
      // division and ONE quantized multiply per vertex — every fp op
      // is single-rounded IEEE, no accumulation-order dependence —
      // and the final NF(h) is an exact integer sum of the quantized
      // per-vertex values. Small-range correction: raw HLL is badly
      // biased below ~2.5m; linear counting m·ln(m/zeros) applies
      // there (ln drift ~1 ulp vs the 1e-6 grid).
      // the total is an exact DECIMAL(38,0) sum of the quantized
      // per-vertex values: a BIGINT total overflows once NF(h) passes
      // ~9.2·10¹² pairs (hit at Zipf 60M, where NF(3) ≈ V² ≈ 1.6·10¹³)
      val est = regs
        .select(stats(col("r")).as("s"))
        .select(col("s._1").as("isum"), col("s._2").as("zeros"))
        .select((lit(AnfAlphaM2) /
          ((col("isum") + col("zeros") * lit(1L << AnfRhoCap)).cast("double") /
            lit((1L << AnfRhoCap).toDouble))).as("raw"),
          col("zeros"))
        .select(when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw")).as("card"))
        .select(floor(col("card") * lit(1e6) + lit(0.5)).cast("decimal(28,0)").as("cm"))
        // exact decimal sum (a BIGINT total overflows past ~9.2·10¹²
        // pairs), then ONE deterministic cast to double — exact below
        // 2^53 micro-units (every gate scale), identically rounded on
        // both engines above it
        .agg(sum(col("cm")).cast("double")).head.getDouble(0)
      out += ((h, est))
    }
    e.unpersist(blocking = false)
    verts.unpersist(blocking = false)
    import spark.implicits._
    out.toSeq.toDF("h", "est_micro")
  }

  /** HLL-ANF constants shared with the DuckDB oracle generator. */
  val AnfM = 64
  val AnfRhoCap = 40
  /** alpha_64 · m² as one double literal — embedded verbatim in both
    * engines' SQL so the constant is bit-identical. */
  val AnfAlphaM2: Double = 0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0

  /** Minimum spanning forest via distributed Borůvka. Each round every
    * component selects its minimum-weight outgoing edge under the total
    * order (w, a, b) — distinct tie-breaks make the forest unique and
    * the operator deterministic — then the chosen component-graph is
    * contracted with [[connectedComponents]] (the merge graph has at
    * most one edge per component, so contraction cost shrinks
    * geometrically; ≤ log₂V rounds total). Only component labels and
    * the O(components) chosen edges shuffle per round; the weighted
    * edge table is static and persisted.
    *
    * Correctness is spec-tested against an in-memory Kruskal on the
    * collected gate-scale graph (MstSpec); the oracle entry is
    * rows-only (MST is not expressible in DuckDB SQL).
    *
    * @param edges (src, dst, w) directed input, treated as undirected
    * @return chosen forest edges (a, b, w) with a < b
    */
  def minimumSpanningForest(spark: SparkSession, edges: DataFrame,
                            maxRounds: Int = 20): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = canon.select(col("a").as("v"))
      .unionAll(canon.select(col("b").as("v"))).distinct()
      .withColumn("c", col("v"))
      .localCheckpoint(false)
    var chosen: DataFrame = null
    var active = true
    var round = 0
    while (active && round < maxRounds) {
      round += 1
      // label both endpoints, keep inter-component edges only
      val la = labels.select(col("v").as("a"), col("c").as("ca"))
      val lb = labels.select(col("v").as("b"), col("c").as("cb"))
      val ext = canon.join(la, "a").join(lb, "b")
        .filter(col("ca") =!= col("cb"))
      // min outgoing edge per component, from both sides
      val cand = ext.select(col("ca").as("comp"), col("w"), col("a"), col("b"))
        .unionAll(ext.select(col("cb").as("comp"), col("w"), col("a"), col("b")))
      val picks = cand.groupBy(col("comp"))
        .agg(min(struct(col("w"), col("a"), col("b"))).as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"), col("m.w").as("w"))
        .distinct()
        .localCheckpoint(true) // eager: counted, unioned, and contracted below
      if (picks.isEmpty) {
        active = false
      } else {
        chosen = if (chosen == null) picks else chosen.unionAll(picks)
          .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
        chosen = chosen.localCheckpoint(true)
        // contract: components of the merge graph (≤1 edge per comp)
        val mergeEdges = picks
          .join(la, "a").join(lb.withColumnRenamed("b", "b"), "b")
          .select(col("ca").as("src"), col("cb").as("dst"))
        val merged = connectedComponents(spark, mergeEdges)
          .select(col("v").as("c"), col("component").as("cNew"))
        labels = labels.join(merged, Seq("c"), "left")
          .select(col("v"), coalesce(col("cNew"), col("c")).as("c"))
          .localCheckpoint(true) // eager: next-round join input
      }
    }
    canon.unpersist(blocking = false)
    if (chosen == null)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("b",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("w",
            org.apache.spark.sql.types.LongType))))
    else chosen.select(col("a"), col("b"), col("w"))
  }

  /** Time-respecting reachability (temporal BFS) over timestamped edges
    * `(src, dst, ts)`: a path is valid iff its edge timestamps are
    * non-decreasing, and a vertex's *arrival time* is the minimum, over
    * valid paths of ≤ `rounds` edges, of the last edge's timestamp. The
    * root arrives at `-1` ("before all time"), so every outgoing edge is
    * eligible from it. This is the standard temporal-graph reachability
    * semantics (an edge can only be taken at its own timestamp, after
    * the traveller has arrived); plain BFS over the same edges
    * OVERSTATES reachability because it ignores edge ordering in time.
    *
    * Bounded-round form for the same reason as [[sssp]]'s bounded
    * Bellman-Ford: a DuckDB oracle unrolls the identical `rounds`
    * relaxations, so both engines agree even short of the fixpoint.
    * All-integer arrivals make the comparison hash-exact.
    *
    * Frontier relaxation is result-identical to full relaxation, by the
    * same monotone-min argument as [[sssp]] — with one temporal twist:
    * when `arr(u)` DECREASES, u's eligible out-edge set `{e : e.ts ≥
    * arr(u)}` only GROWS, so every contribution folded under the old
    * arrival is still folded, and only the improved vertices can emit
    * anything new. Scale shape is exactly [[sssp]]'s: the static edge
    * table is pre-partitioned on `src` and never reshuffled; each round
    * moves only the O(V) arrival vector (min is map-side combinable);
    * small frontiers broadcast.
    *
    * @return (v, arrival) for every vertex reachable in ≤ rounds edges
    */
  def temporalReachability(spark: SparkSession, edges: DataFrame,
                           root: Long, rounds: Int = 8): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("ts"))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var arr = spark.range(1)
      .select(lit(root).cast("long").as("v"), lit(-1L).as("arr"))
    var frontier = arr
    var frontierSize = 1L
    var i = 0
    while (i < rounds && frontierSize > 0) {
      i += 1
      val f = frontSide(
        frontier.select(col("v").as("u"), col("arr").as("au")), frontierSize)
      val relaxed = f.join(e,
          col("u") === e("src") && e("ts") >= col("au"))
        .select(e("dst").as("v"), e("ts").as("arr"))
      val next = arr.unionAll(relaxed)
        .groupBy(col("v")).agg(min(col("arr")).as("arr"))
        .localCheckpoint(false) // lazy: the frontier-count job materializes it
      val changed = next
        .join(arr.withColumnRenamed("arr", "old"), Seq("v"), "left")
        .filter(col("old").isNull || col("arr") < col("old"))
        .select(col("v"), col("arr"))
        .localCheckpoint(false)
      frontierSize = changed.count()
      frontier = changed
      arr = next
    }
    e.unpersist(blocking = false)
    arr.select(col("v"), col("arr").as("arrival"))
  }

  /** Rich-club coefficient φ(k) for each threshold in `ks`: with
    * N_k = #vertices of undirected-simple degree > k and E_k = #edges
    * whose BOTH endpoints have degree > k,
    * φ(k) = 2·E_k / (N_k·(N_k−1)) — the density of the subgraph induced
    * by the "club" of high-degree vertices (Colizza et al.'s structural
    * statistic; the normalized variant divides by a null model, which is
    * a post-hoc ratio of these same rows). Emitted as exact integers
    * plus `phi_micro` = ⌊2·10⁶·E_k / (N_k·(N_k−1))⌋ in integer floor
    * division, so the row set is cross-engine hash-stable.
    *
    * Scale shape: the whole computation happens on HISTOGRAMS, not on
    * the raw V/E tables — one map-combinable degree count (V rows →
    * ≤ max-degree rows), one map-combinable count of edge-min-degrees
    * (E rows → ≤ max-degree rows), then every k in `ks` is a suffix sum
    * over those tiny broadcast frames. Nothing downstream of the two
    * aggregations touches a vertex- or edge-sized relation, so a
    * 2.74M-degree hub costs exactly one histogram row.
    */
  def richClub(edges: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "richClub needs at least one threshold")
    val spark = edges.sparkSession
    import spark.implicits._
    val und = undirectedSimple(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = und.select(col("a").as("v")).unionAll(und.select(col("b").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val degHist = deg.groupBy(col("deg")).agg(count(lit(1)).as("nv"))
      // min endpoint degree per edge: the edge is inside club k iff m > k
      val edgeHist = und
        .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
        .select(least(col("da"), col("db")).as("m"))
        .groupBy(col("m")).agg(count(lit(1)).as("ne"))
      val ksDf = ks.map(_.toLong).toDF("k")
      val nk = ksDf.join(broadcast(degHist), col("deg") > col("k"), "left")
        .groupBy(col("k")).agg(coalesce(sum(col("nv")), lit(0L)).as("n_k"))
      val ek = ksDf.join(broadcast(edgeHist), col("m") > col("k"), "left")
        .groupBy(col("k")).agg(coalesce(sum(col("ne")), lit(0L)).as("e_k"))
      val res = nk.join(ek, "k")
        .select(col("k"), col("n_k"), col("e_k"),
          when(col("n_k") >= 2,
            expr("(2000000 * e_k) div (n_k * (n_k - 1))"))
            .otherwise(lit(0L)).as("phi_micro"))
        .localCheckpoint(true)
      deg.unpersist(blocking = false)
      res
    } finally und.unpersist(blocking = false)
  }

  /** Exact 4-cycle (square / rectangle) count of the undirected simple
    * graph, by the min-vertex diagonal decomposition: every square has a
    * unique minimum-id vertex s and a unique vertex u opposite s, and
    * its two centers are common neighbors of (s, u) with id > s — so
    * C4 = Σ_{(s,u): s<u? no: u>s, u opposite} C(n_su, 2), where n_su =
    * #common neighbors x of s and u with x > s, and the sum runs over
    * pairs with u > s. (Any total vertex order works; vertex id keeps
    * the DuckDB oracle a verbatim mirror.)
    *
    * Shape: ONE self-join of the adjacency on the wedge center x
    * (s ∈ N(x), s < x as the low side; u ∈ N(x), u > s as the far
    * side), a map-combinable groupBy-(s,u) count, and a 1-row Σ C(n,2).
    * The join output is the wedge volume Σ_x lowdeg(x)·deg(x) — exact
    * rectangle counting is intrinsically Ω(wedges through the hub)
    * because the hub's neighbor PAIRS each hold a potential square, so
    * at power-law scale use [[squareCountApprox]]: the same md5 edge
    * coin as [[triangleCountApprox]] shrinks wedge volume by p² and the
    * unbiased 1/p⁴ estimator trades variance ~1/√(p⁴·C4) for it.
    */
  def squareCount(edges: DataFrame, eager: Boolean = true): DataFrame = {
    val und0 = undirectedSimple(edges)
    val und = if (eager) und0.persist(StorageLevel.MEMORY_AND_DISK) else und0
    try {
      val adj = und.select(col("a").as("x"), col("b").as("n"))
        .unionAll(und.select(col("b").as("x"), col("a").as("n")))
      val low = adj.filter(col("n") < col("x"))
        .select(col("x"), col("n").as("s"))
      val wedges = low.join(adj.select(col("x"), col("n").as("u")), "x")
        .filter(col("u") > col("s"))
        .select(col("s"), col("u"))
      val res = wedges.groupBy(col("s"), col("u"))
        .agg(count(lit(1)).as("c"))
        .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L))
          .as("n_squares"))
      if (eager) res.localCheckpoint(true) else res
    } finally if (eager) und.unpersist(blocking = false)
  }

  /** DOULION-style approximate square count: keep each canonical edge
    * with probability p = 1/`inv` under the SAME deterministic md5 coin
    * as [[triangleCountApprox]] (seed-compatible, applied to the raw
    * canonical rows before the dedup shuffle), count squares exactly on
    * the sample, scale by 1/p⁴ = inv⁴. A square survives iff its 4
    * edges all survive (independent coins on distinct edges), so the
    * estimator is unbiased; the integer multiplier and shared coin make
    * the ESTIMATE itself bit-reproducible by the oracle, while the
    * accuracy-vs-exact contract is spec-tested.
    *
    * `inv` SHOULD be a power of two: the keep probability is actually
    * ⌊2³²/inv⌋/2³², which equals 1/inv exactly only when inv divides
    * 2³²; for other values the estimator's inv⁴ multiplier overshoots
    * the true (2³²/threshold)⁴ by up to ~4·inv/2³² relative — tiny, but
    * a systematic bias. Power-of-two inv (the gate and bench values)
    * is exact.
    */
  def squareCountApprox(edges: DataFrame, inv: Int = 2,
                        seed: String = "sq",
                        eager: Boolean = true): DataFrame = {
    require(inv >= 1, s"inv must be >= 1, got $inv")
    val threshold = (1L << 32) / inv
    val kept = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .filter(
        conv(substring(md5(concat(lit(seed + "-"), col("a").cast("string"),
          lit("_"), col("b").cast("string"))), 1, 8), 16, 10).cast("long")
          < threshold)
      .select(col("a").as("src"), col("b").as("dst"))
    val m = inv.toLong * inv * inv * inv
    squareCount(kept, eager)
      .select(col("n_squares").as("n_sampled"),
        (col("n_squares") * lit(m)).as("est_squares"))
  }

  /** Greedy peeling densest-subgraph approximation — Bahmani, Kumar &
    * Vassilvitskii's MapReduce algorithm (VLDB'12): repeatedly delete
    * every vertex whose current degree is ≤ 2(1+ε)·ρ(S) where ρ(S) =
    * |E(S)|/|S|, tracking density per round; the best round's subgraph
    * is a 2(1+ε)-approximation of the densest subgraph, and each round
    * removes ≥ ε/(1+ε) of the survivors, so rounds = O(log V / ε).
    * Shipped with ε = 1/2 (2(1+ε) = 3): the removal test becomes the
    * EXACT INTEGER comparison deg_S(v)·|S| ≤ 3·|E(S)| — no fp anywhere,
    * so the per-round trace is hash-identical cross-engine, and the
    * DuckDB oracle unrolls the same rounds as CTEs.
    *
    * Returns one row per non-empty round: (round, n_vertices, n_edges,
    * density_micro = ⌊10⁶·E/V⌋); argmax(density_micro) is the
    * approximation certificate.
    *
    * Scale shape (the paper's point): each round is one map-combinable
    * degree aggregation over E(S) plus two semi-joins to drop removed
    * endpoints — no per-vertex iteration, no global sort, and the ONE
    * driver round-trip per round collects a single stats row. ≤
    * ⌈log₁.₅ V⌉ rounds ≈ 55 at 10¹⁰ vertices. The survivor edge set
    * shrinks geometrically, so round cost is dominated by the first
    * two or three scans.
    */
  def densestSubgraph(spark: SparkSession, edges: DataFrame,
                      maxRounds: Int = 64): DataFrame = {
    import spark.implicits._
    var e = undirectedSimple(edges)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // vertex set carried explicitly: survivors may drop to degree 0 and
    // must still count in |S| until the rule removes them
    var s = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trace = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val Array(nv, ne) = Array(s.count(), e.count())
      if (nv == 0) done = true
      else {
        trace += ((round, nv, ne, 1000000L * ne / nv))
        val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("deg"))
        // keep v iff deg(v)·|S| > 3·|E|; vertices with no surviving edge
        // have deg 0 and always fall
        val keep = s.join(deg, Seq("v"), "left")
          .filter(coalesce(col("deg"), lit(0L)) * lit(nv) > lit(3L * ne))
          .select(col("v"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        val e2 = e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        s.unpersist(blocking = false); e.unpersist(blocking = false)
        s = keep; e = e2
        round += 1
      }
    }
    s.unpersist(blocking = false); e.unpersist(blocking = false)
    trace.toSeq.toDF("round", "n_vertices", "n_edges", "density_micro")
  }

  /** Bounded directed eccentricity: for every vertex v, ecc(v) = max over
    * vertices u reachable from v within `iters` hops of the min-hop
    * distance d(v, u). A vertex with no out-edges reaches only itself
    * (ecc 0). The FIXED round bound keeps the operator oracle-checkable
    * (the DuckDB twin unrolls the same rounds); when the graph converges
    * inside the bound — which the gate spec asserts — bounded ecc IS the
    * exact directed eccentricity. `converged = true` drops the bound and
    * runs to the empty-frontier fixed point (exact ecc on any graph). All-pairs state is quadratic, so gate
    * usage induces a small subgraph (the g_components/g_simrank pattern);
    * the operator itself is the batched-BFS shape and takes any graph.
    *
    * Scale notes: one frontier join per ROUND for all sources at once
    * (not one BFS per source) — the static edge table is pre-partitioned
    * on the join key once; per round only the (s, v) pair frontier
    * shuffles, the min-d fold is map-side combinable, and an empty
    * frontier early-exits (remaining unrolled oracle rounds no-op).
    * Eccentricity of EVERY vertex is inherently Θ(V·V) state — at 100 TB
    * you run this on an induced/sampled subgraph or switch to the
    * HLL-ANF effective-diameter estimate ([[anfHll]]), which is the
    * documented scale path.
    */
  def eccentricity(spark: SparkSession, edges: DataFrame,
                   iters: Int = 12, converged: Boolean = false): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val verts = e.select(col("src").as("v"))
      .unionAll(e.select(col("dst").as("v"))).distinct()
    var dist = verts.select(col("v").as("s"), col("v"), lit(0L).as("d"))
      .localCheckpoint(false)
    var frontier = dist
    var frontierSize = -1L // unknown until the first stats job
    var i = 0
    // converged: run to the natural empty-frontier fixed point (the
    // loop already early-exits there) instead of the oracle's bound —
    // bounded ecc is then EXACT ecc on any graph
    val cap = if (converged) ConvergedCap else iters
    while (i < cap && frontierSize != 0) {
      i += 1
      val f =
        if (frontierSize >= 0) frontSide(frontier, frontierSize) else frontier
      val step = f.join(e, f("v") === e("src"))
        .select(f("s"), e("dst").as("v"), (f("d") + 1L).as("d"))
        .distinct()
        .join(dist, Seq("s", "v"), "left_anti")
        .localCheckpoint(false)
      frontierSize = step.count()
      dist = dist.unionAll(step).localCheckpoint(false)
      frontier = step
    }
    e.unpersist(blocking = false)
    dist.groupBy(col("s").as("v")).agg(max(col("d")).as("ecc"))
  }

  /** One-row graph summary off [[eccentricity]]: diameter = max ecc,
    * radius = min POSITIVE ecc (vertices that reach nothing but
    * themselves would pin the radius to 0 on any graph with a sink, which
    * reads as degenerate), center/periphery sizes = how many vertices
    * attain them. Same bounded semantics and gate scope as the per-vertex
    * table; one extra O(V)-row aggregate on top.
    */
  def graphSummary(spark: SparkSession, edges: DataFrame,
                   iters: Int = 12): DataFrame = {
    val ecc = eccentricity(spark, edges, iters)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pos = ecc.filter(col("ecc") > 0L)
    val bounds = pos.agg(max(col("ecc")).as("diameter"),
      min(col("ecc")).as("radius"))
    val out = pos.crossJoin(broadcast(bounds))
      .agg(first(col("diameter")).as("diameter"),
        first(col("radius")).as("radius"),
        sum(when(col("ecc") === col("radius"), 1L).otherwise(0L))
          .as("center_size"),
        sum(when(col("ecc") === col("diameter"), 1L).otherwise(0L))
          .as("periphery_size"))
    val rows = out.collect() // 1-row aggregate
    ecc.unpersist(blocking = false)
    import spark.implicits._
    // an empty or edgeless graph leaves `pos` empty → the aggregate row
    // is all-null (or absent); report zeros instead of NPE-ing
    rows.filter(r => !r.isNullAt(0))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq match {
      case Nil => Seq((0L, 0L, 0L, 0L))
        .toDF("diameter", "radius", "center_size", "periphery_size")
        .filter(lit(false))
      case s => s.toDF("diameter", "radius", "center_size", "periphery_size")
    }
  }

  /** Weighted bipartite projection (item–item co-occurrence): from
    * (basket, item) incidence rows, the top-`topK` co-occurring partners
    * per item ranked by integerized cosine
    * sim_micro = ⌊10⁶ · c(a,b)² / (c(a)·c(b))⌋ — the square keeps the
    * whole computation in exact BIGINT arithmetic so the result
    * hash-matches a DuckDB oracle bit-for-bit. Pairs below `minSupport`
    * co-baskets are dropped; ties rank by (sim desc, support desc,
    * partner asc) — a total order, so top-k is unique.
    *
    * Scale notes: the classic co-occurrence blow-up is a hub basket with
    * B items generating B² pairs — `maxBasket` caps it BEFORE the
    * self-join (standard practice in co-purchase / recommendation
    * pipelines: a basket with hundreds of items carries no signal
    * anyway). After the cap, pair generation is one shuffle on the basket
    * key with Σ|basket|² ≤ maxBasket·|rows| output rows, the support
    * count is map-side combinable, item totals broadcast back onto the
    * pair table, and the per-item top-k is a rank-filter window (Spark's
    * WindowGroupLimit pushes the limit into the partial sort — no global
    * sort, no driver collect).
    */
  def cooccurrenceTopK(baskets: DataFrame, minSupport: Int = 2,
                       maxBasket: Int = 8, topK: Int = 5): DataFrame = {
    val inc = baskets.select(col("basket"), col("item")).distinct()
    val kept = inc.join(
      inc.groupBy(col("basket")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBasket)
        .select(col("basket")),
      Seq("basket"), "left_semi")
    val totals = kept.groupBy(col("item")).agg(count(lit(1)).as("c"))
    val pairs = kept.as("x")
      .join(kept.as("y"), col("x.basket") === col("y.basket")
        && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("a"), col("y.item").as("b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    // `sym` consumes the scored pair table twice, re-running the basket
    // self-join per arm — measured faster than an eager pin at every
    // local size (sf0.1: 2.1 s lazy vs 2.9 s eager)
    val scored = pairs
      .join(broadcast(totals.select(col("item").as("a"), col("c").as("ca"))),
        Seq("a"))
      .join(broadcast(totals.select(col("item").as("b"), col("c").as("cb"))),
        Seq("b"))
      .select(col("a"), col("b"), col("support"),
        expr("(1000000 * support * support) div (ca * cb)").as("sim_micro"))
    val sym = scored.select(col("a").as("item"), col("b").as("partner"),
      col("support"), col("sim_micro"))
      .unionAll(scored.select(col("b").as("item"), col("a").as("partner"),
        col("support"), col("sim_micro")))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("sim_micro").desc, col("support").desc, col("partner"))
    sym.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= topK)
  }
}
